package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-analytics and corpus-composition operators: skew-mitigated
  * and bloom-pruned joins, grouping-set hierarchies (rollup/cube), wide
  * pivots, event-time windows (moving average, lag/lead, funnel,
  * gap-fill resample, interval overlap), CDC merge-apply, schema-first
  * JSON extraction, schema-evolution and raw-file scans, mergeable
  * count-min frequencies, Z-order layout keys, and the corpus passes a
  * training pipeline composes from (domain-mixture and weighted
  * sampling, TF-IDF, PMI collocations, Gopher quality rules, int8
  * embedding codes, k-NN-graph PageRank). These are the shapes a
  * production deployment of the reference pipeline (patternly
  * detection.py's fit/predict loop) feeds and consumes around the model —
  * the reference does its reshaping in pandas on the driver
  * (e.g. detection.py:124-149); here each is a single distributed
  * Catalyst plan with the same hash-parity conventions as
  * [[RelationalQueries]] (round(x,6) floats, BIGINT ints, total ORDER BY,
  * identical aliases both engines; floats ROUNDED BEFORE any ranking so
  * a last-ulp engine difference can't flip an order).
  */
object AnalyticsQueries {

  private def eventsUs(s: SparkSession, d: String): DataFrame = Tables.eventsTsUs(s, d)

  /** Number of salt replicas for the skew join. At 100 TB this scales with
    * the observed skew ratio (heaviest-key rows / mean rows per task);
    * 8 keeps the fixture demonstration cheap while exercising the full
    * replicate+scatter plan shape. */
  private[relational] val SkewSalts = 8

  // ------------------------------------------------------------ skew-salted join
  /** Fact-to-dimension join under HEAVY key skew, made uniform by salting —
    * the standard fix when the hot key would serialize into one task and AQE
    * skew-join can't help (it only splits SORT-MERGE partitions, and a
    * downstream co-partition requirement or a shuffle-hash build side can
    * pin the plan). The `events` fact has only 5 distinct `event_type`
    * values, so an unsalted shuffle join degenerates to ≤5 effective tasks
    * at ANY scale; here the dimension is replicated `SkewSalts`× (bounded:
    * |dim| · S rows) and each fact row picks a deterministic salt from a
    * hash of its unique id, so the join key `(event_type, salt)` spreads
    * every hot key over S tasks. The salt never leaves the plan: the result
    * is VALUE-IDENTICAL to the unsalted join (spec-asserted, and the DuckDB
    * oracle is the plain join). The dimension here is tiny (it would
    * broadcast in production — `stream_enrich` shows that shape); the
    * `shuffle_hash` hint pins the shuffle path the technique exists for,
    * i.e. a dimension too big to broadcast joined to a skewed fact. */
  private def joinSkewSalted(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val dim = e.groupBy(col("event_type"))
      .agg(round(avg(col("value")), 6).as("type_avg"))
      .withColumn("salt", explode(sequence(lit(0), lit(SkewSalts - 1))))
    val fact = e.withColumn("salt",
      pmod(xxhash64(col("event_id")), lit(SkewSalts)).cast("int"))
    fact.join(dim.hint("shuffle_hash"), Seq("event_type", "salt"))
      .select(col("event_id"), col("event_type"), col("value"), col("type_avg"),
        round(col("value") - col("type_avg"), 6).as("diff"))
      .orderBy(col("event_id"))
  }

  /** AQE SKEW-JOIN — the RUNTIME complement of [[joinSkewSalted]]'s
    * compile-time salting: the same hot-key fact (80% of events collapse
    * onto one deterministic key) sort-merge-joined UNSALTED, with AQE's
    * skew handler splitting the oversized shuffle partition into subtasks
    * at runtime from the map-output statistics. Salting is what you write
    * when you KNOW the skew at authoring time; AQE skew handling is what
    * saves the job when you don't — production wants both, and the gate
    * now exercises both. Skew thresholds are lowered IN-QUERY (and
    * restored in finally — the [[streamAnomaly]] conf-scoping pattern,
    * sequential-gate assumption documented) because the defaults
    * (256 MB) can never trigger on fixture bytes; the `merge` hint pins
    * the SMJ path a tiny dim would otherwise broadcast around.
    * JoinSkewAqeSpec asserts the finalized plan really read the skewed
    * partition as multiple splits; the oracle replays the joined
    * aggregate values. */
  /** Fixture-scale AQE skew thresholds, shared with JoinSkewAqeSpec so a
    * tuning here cannot silently diverge from what the spec certifies. */
  private[relational] val SkewAqeConfs = Seq(
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB")

  private def joinSkewAqe(s: SparkSession, d: String): DataFrame = {
    val confs = SkewAqeConfs
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      skewAqeJoined(s, d)
        .groupBy(col("hot_key"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(round(value * 1e6) as long)")).as("vmic"))
        .select(col("hot_key"), col("n"),
          round(col("vmic").cast("double") / 1e6, 6).as("sum_value"))
        .orderBy(col("hot_key"))
        .localCheckpoint(true)
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** The skewed fact⋈dim frame (pre-aggregate), shared with the spec so
    * the skew-split plan assertion reads the REGISTERED join. 80% of
    * events land on hot_key 0; the dim is an INDEPENDENT 50-row key
    * relation — deliberately not derived by aggregating the fact, because
    * OptimizeSkewedJoin only matches a sort-merge join whose children are
    * sorts DIRECTLY over shuffle stages, and an aggregate between the
    * dim's exchange and the join defeats the pattern (observed: no skew
    * split until the dim became a plain shuffled relation). */
  private[relational] def skewAqeJoined(s: SparkSession, d: String): DataFrame = {
    // spread the fact over several map tasks first: AQE splits a skewed
    // reduce partition along MAPPER-output boundaries, and the one-file
    // fixture scans as a single map task whose one chunk is unsplittable
    // (a 100-TB fact arrives from thousands of mappers; the round-robin
    // repartition recreates that precondition at fixture scale)
    val e = Tables.events(s, d)
      .repartition(8)
      .withColumn("hot_key",
        // sign-preserving % on BOTH sides: Spark pmod and DuckDB % diverge
        // for negative operands, so % here keeps the parity unconditional
        when(col("event_id") % 10 < 8, lit(0L)).otherwise(col("user_id") % 50L))
    val dim = s.range(0, 50).select(col("id").as("hot_key"),
      concat(lit("k"), col("id")).as("key_tag"))
    e.join(dim.hint("merge"), Seq("hot_key"))
      .select(col("hot_key"), col("value"), col("key_tag"))
  }

  // ----------------------------------------------------------- rollup hierarchy
  /** Hierarchy aggregation with ROLLUP — per-(type, day) detail, per-type
    * subtotals, and the grand total in ONE pass. Catalyst expands the
    * grouping sets before the exchange, so the plan stays a single
    * map-side-combinable hash aggregate (no re-scan per level — at 100 TB
    * that is the difference between one corpus pass and three). Null
    * ordering is pinned NULLS LAST on both engines (Spark defaults nulls
    * FIRST for asc, DuckDB LAST — one of them must move). */
  private def aggRollup(s: SparkSession, d: String): DataFrame =
    eventsUs(s, d)
      .withColumn("day", expr("ts_us div 86400000000"))
      .rollup(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("avg_value"))
      .orderBy(col("event_type").asc_nulls_last, col("day").asc_nulls_last)

  /** The pivot's fixed column set. Passing EXPLICIT values to `pivot` is
    * the 100-TB form: without them Spark runs a hidden collect-distinct
    * scan over the fact table just to learn the output schema (and a
    * high-cardinality key would OOM the driver); with them the plan is one
    * hash aggregate. */
  private[relational] val PivotTypes = Seq("click", "error", "purchase", "signup", "view")

  // --------------------------------------------------------------------- pivot
  /** Long→wide reshape: one row per user, one count column per event type —
    * the feature-matrix layout every downstream model fit consumes (the
    * reference builds exactly this shape driver-side with
    * `pandas.pivot_table` in its notebooks). Pivot-with-count yields NULL
    * for absent (user, type) combinations; filled to 0 to match the
    * conditional-aggregation semantics (DuckDB `count(*) FILTER`). */
  private def aggPivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)))
      .na.fill(0L, PivotTypes)
      .orderBy(col("user_id"))

  // ------------------------------------------------------- event-time windows
  /** Trailing 1-hour moving average per user — a RANGE window over
    * event-time µs, not a row-count frame: irregular event spacing means
    * "last N rows" is meaningless while "last hour" is the monitoring
    * semantic. One exchange on user_id + one sort; ties on ts_us all enter
    * the frame on both engines (RANGE, not ROWS, so frame membership is
    * value-determined and deterministic without a tiebreaker). */
  private def windowMovingAvg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, 0L)
    eventsUs(s, d)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"),
        round(avg(col("value")).over(w), 6).as("avg_1h"),
        count(col("value")).over(w).as("n_1h"))
      .orderBy(col("event_id"))
  }

  /** Per-user lag/lead derivatives: inter-event gap, value delta, and the
    * next event's type — the session-feature primitives (time-since-last,
    * trajectory, next-action label for training). Order within a user is
    * pinned by (ts_us, event_id) so ties are deterministic on both
    * engines; all three windows share one exchange + one sort. */
  private def windowLagDelta(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    eventsUs(s, d)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        (col("ts_us") - lag(col("ts_us"), 1).over(w)).as("gap_us"),
        round(col("value") - lag(col("value"), 1).over(w), 6).as("value_delta"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .orderBy(col("event_id"))
  }

  // --------------------------------------------------------- gap-fill resample
  /** Per-user resample of the irregular event stream onto a fixed 1-hour
    * grid with FORWARD FILL over gaps — the time-series regularization
    * every downstream windowed model (and the reference's own
    * fixed-Δt quantized-sequence assumption, detection.py:81) needs
    * before a jagged stream can become a symbol sequence. Three stages,
    * all bounded: (1) per-(user, bucket) mean — one combinable aggregate;
    * (2) grid generation via `sequence(min,max)` explode — output is
    * span/granularity rows per user, INDEPENDENT of event count (a year
    * of hours is 8,760 rows — at 100 TB the grid is the small side);
    * (3) one user-partitioned window for the fill (`last` IGNORE NULLS).
    * The bucket mean is rounded BEFORE the fill so copied values are
    * bit-identical on both engines. */
  private def tsResample(s: SparkSession, d: String): DataFrame = {
    val stepUs = 3600000000L
    val pb = eventsUs(s, d)
      .withColumn("bucket", expr(s"ts_us div $stepUs"))
      .groupBy(col("user_id"), col("bucket"))
      .agg(round(avg(col("value")), 6).as("v_raw"))
    val grid = pb.groupBy(col("user_id"))
      .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      .select(col("user_id"), explode(sequence(col("b0"), col("b1"))).as("bucket"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(pb, Seq("user_id", "bucket"), "left")
      .select(col("user_id"), col("bucket"), (col("bucket") * stepUs).as("ts_us"),
        last(col("v_raw"), ignoreNulls = true).over(w).as("v"),
        col("v_raw").isNull.as("is_gap"))
      .orderBy(col("user_id"), col("bucket"))
  }

  // ------------------------------------------------------ int8 embedding codes
  /** Symmetric per-vector INT8 quantization of the embedding column —
    * the memory axis of vector search at scale: 64 float32s (256 B)
    * become 64 int8s + one scale (68 B), a 3.8× cut that decides whether
    * a 100 TB corpus's vectors fit executor memory (the same layout
    * FAISS `ScalarQuantizer(QT_8bit)` ships; `similarity_pq` covers the
    * sub-byte regime). scale = max|x|/127 so codes span the full int8
    * range with no clamp needed (|x| ≤ max ⇒ |code| ≤ 127 exactly);
    * all math in float64 for cross-engine parity, codegen'd
    * `transform`/`aggregate` lambdas, no UDF. The mean reconstruction
    * error column is the quality gate a production pipeline alerts on
    * (bounded by scale/2, spec-asserted). */
  private def embedQuantizeInt8(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .withColumn("emb", transform(col("embedding"), x => x.cast("double")))
      .withColumn("scale", array_max(transform(col("emb"), x => abs(x))) / lit(127.0))
    e.select(col("vec_id"), round(col("scale"), 6).as("scale_r"),
        // codes travel as a comma-joined string: the driver's pandas compare
        // cannot sort a raw list column (SURVEY §2.10 hash-surface contract)
        array_join(
          when(col("scale") === 0d, transform(col("emb"), _ => lit(0).cast("int")))
            .otherwise(transform(col("emb"), x => round(x / col("scale")).cast("int")))
            .cast("array<string>"), ",")
          .as("q"),
        when(col("scale") === 0d, lit(0d))
          .otherwise(round(
            aggregate(
              transform(col("emb"), x =>
                abs(round(x / col("scale")) * col("scale") - x)),
              lit(0d), (acc, x) => acc + x) / size(col("emb")), 6))
          .as("err"))
      .orderBy(col("vec_id"))
  }

  // --------------------------------------------------- count-min frequencies
  /** Point-frequency estimates from a MERGEABLE Count-Min sketch — the
    * frequency cousin of `agg_distinct_sketch` (HLL) and the keyed form of
    * `text_heavy_hitters`: per-user event counts answered from fixed
    * (2/ε)×⌈ln 1/δ⌉ counter state instead of a key-universe shuffle.
    * Built two-level like the HLL entry — per-shard `count_min_sketch`
    * aggregates (map-side-combinable, fixed size), merged by counter
    * addition (the collect is 8 sketch rows, never data) — because stored
    * shard/day sketches re-aggregate by addition without a re-scan. The
    * hash surface is the exact leg + the sketch's two contracts: NEVER
    * underestimates (deterministic — counters only ever add), and
    * overestimates by ≤ ε·N (holds w.p. 1−δ per key; deterministic for a
    * pinned seed, verified all-true on every fixture SF). */
  private def aggCountMin(s: SparkSession, d: String): DataFrame = {
    val eps = 0.01
    val e = Tables.events(s, d)
    val shardRows = e.withColumn("shard", pmod(col("event_id"), lit(8)))
      .groupBy(col("shard"))
      .agg(expr(s"count_min_sketch(user_id, ${eps}d, 0.99d, 42)").as("sk"))
      .collect()
    val merged = shardRows
      .map(r => org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("sk"))))
      .reduce((a, b) => { a.mergeInPlace(b); a })
    val bound = math.ceil(eps * merged.totalCount()).toLong
    // native codegen probe (graft.functions.CmsEstimate) — the sketch is a
    // plan-referenced object like BloomFilterMightContain's build side; the
    // previous ScalaUDF here was the last UDF on the analytics surface
    val est = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.CmsEstimate(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("user_id")), merged))
    e.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      .withColumn("cms", est)
      .select(col("user_id"), col("n_exact"),
        (col("cms") >= col("n_exact")).as("no_underestimate"),
        (col("cms") <= col("n_exact") + lit(bound)).as("within_eps"))
      .orderBy(col("user_id"))
  }

  // ------------------------------------------------------- bloom-pruned join
  /** Semi-join with an explicit BLOOM pre-filter — the runtime-filter
    * pattern written out: the small build side (high-value purchasers) is
    * sketched into a fixed-size bloom filter (one distributed aggregate →
    * 128 KB for 100k keys at <1% fp, shipped once as a plan literal), the
    * fact stream is pruned BEFORE its shuffle (~75% of rows never enter
    * the exchange on this data), and one exact semi-join removes the ≤1%
    * false positives. Spark's own `InjectRuntimeFilter` rewrite does this
    * inside a single query with the SAME two expressions used here —
    * `BloomFilterAggregate` to build and `BloomFilterMightContain` to
    * probe (both native Catalyst with codegen; a Scala-UDF probe, the
    * previous form, forces every row through the serialization boundary
    * and blocks whole-stage codegen). The explicit form is what a
    * pipeline uses when the build side comes from a PRIOR job
    * (yesterday's selected cohort): the one-row sketch collect IS the
    * "persist the filter, reuse it across many fact scans" step, and the
    * probe stays a pure literal-vs-column expression. False negatives are
    * impossible (bloom guarantee), so result ≡ the plain semi-join —
    * which is the DuckDB oracle. */
  private def joinBloomPrune(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    val e = Tables.events(s, d)
    val cohort = e.filter(col("event_type") === "purchase" && col("value") > 200d)
      .select(col("user_id")).distinct()
    // build: one distributed aggregate to a single 2^20-bit sketch row
    val bfAgg = ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col("user_id"))),
        Literal(100000L), Literal(1048576L)).toAggregateExpression())
    val bfBytes = cohort.agg(bfAgg.as("f")).head.getAs[Array[Byte]](0)
    // probe: native might-contain over the literal sketch — stays inside
    // whole-stage codegen, no UDF node anywhere in the plan
    val might = ColumnBridge.column(
      new BloomFilterMightContain(
        Literal.create(bfBytes, org.apache.spark.sql.types.BinaryType),
        ColumnBridge.expression(xxhash64(col("user_id")))))
    e.filter(might)
      .join(cohort, Seq("user_id"), "left_semi")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  // ------------------------------------------------------------ CDC merge-apply
  /** MERGE / upsert — applying a CDC change batch (updates, deletes,
    * inserts) to a base table in one pass: the lakehouse write path every
    * continuously-ingested corpus needs (Delta/Iceberg `MERGE INTO`
    * semantics, expressed as a plain full-outer join so it runs on any
    * store). One sort-merge join on the key; with the base in
    * `scan_bucketed`'s layout the base side pre-sorts and the exchange is
    * changes-sized only — at 100 TB the base NEVER reshuffles for a daily
    * merge. The change batch here is derived deterministically from the
    * base (doc_id mod 10: 0→update, 5→delete, 1→insert-new-key) so the
    * DuckDB oracle can reproduce it exactly; `status` records each row's
    * provenance, which the closed-form oracle recomputes. */
  private def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val base = Tables.tbl(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val changes = base
      .filter(pmod(col("doc_id"), lit(10)).isin(0, 5, 1))
      .select(
        when(pmod(col("doc_id"), lit(10)) === 1, col("doc_id") + 1000000L)
          .otherwise(col("doc_id")).as("doc_id"),
        when(pmod(col("doc_id"), lit(10)) === 0, lit("U"))
          .when(pmod(col("doc_id"), lit(10)) === 5, lit("D"))
          .otherwise(lit("I")).as("op"),
        when(pmod(col("doc_id"), lit(10)) === 1, lit("xx")).otherwise(col("lang")).as("c_lang"),
        when(pmod(col("doc_id"), lit(10)) === 0, col("n_chars") + 1000L)
          .when(pmod(col("doc_id"), lit(10)) === 1, lit(7L))
          .otherwise(col("n_chars")).as("c_n_chars"))
    base.join(changes, Seq("doc_id"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("doc_id"),
        coalesce(col("c_lang"), col("lang")).as("lang"),
        coalesce(col("c_n_chars"), col("n_chars")).as("n_chars"),
        when(col("op") === "U", "updated").when(col("op") === "I", "inserted")
          .otherwise("kept").as("status"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------- TF-IDF
  /** Per-document top-5 TF-IDF terms — the classic corpus-to-features
    * reshape (keyword extraction, sparse retrieval, topic seeds). Term
    * frequency and document frequency are both map-side-combinable
    * aggregates over one tokenize-explode pass; idf joins back on the
    * term dimension (vocabulary-sized — broadcastable at any corpus
    * scale); top-5 ranks inside each doc's own partition (docs are many
    * and small: no low-cardinality window skew). Scores are ROUNDED
    * BEFORE ranking: cross-engine `ln` can differ in the last ulp, and
    * ordering on the rounded score + term tiebreak is deterministic on
    * both engines, while ordering on the raw double would let a 1-ulp
    * difference flip ranks at a boundary. */
  private def textTfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.tbl(s, d, "documents")
    val nDocs = docs.count() // one scalar; the corpus row count
    val terms = docs.select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // df derives from tf (one row per (doc, term) already): the corpus is
    // tokenized and exploded ONCE, not once per aggregate
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term")
      .withColumn("tfidf", round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("doc_id"), col("rank").cast("long").as("rank"), col("term"),
        col("tf"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  // ---------------------------------------------------------------- histogram
  /** Fixed-width value histogram per event type — the distribution
    * monitor every QA dashboard draws: bin = min(⌊value/50⌋, 9) (last
    * bin open-ended), share of the type's mass per bin. One combinable
    * aggregate; empty bins are absent on both engines. */
  private def aggHistogram(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).filter(col("value").isNotNull)
      .withColumn("bin", least(floor(col("value") / 50d), lit(9d)).cast("long"))
    val perType = Window.partitionBy(col("event_type"))
    e.groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("n"))
      .withColumn("share", round(col("n") / sum(col("n")).over(perType), 6))
      .orderBy(col("event_type"), col("bin"))
  }

  // ----------------------------------------------------------- z-order layout
  /** Z-ORDER (Morton) clustering key over (user_id, hour) — the
    * multi-dimensional data-layout primitive behind Delta/Iceberg
    * `OPTIMIZE ZORDER BY`: writing files in z order makes a 2-D box
    * predicate (user range × time range) touch a bounded number of file
    * chunks, where a 1-D sort prunes only its own leading dimension.
    * Bit interleave of the two 16-bit dims in a codegen'd
    * `aggregate(sequence(0,15), …)` fold — no UDF; the spec measures the
    * locality win directly (chunks touched by a box under z-sort vs
    * time-sort). At 100 TB this column feeds `repartitionByRange(z)` +
    * sortWithinPartitions at write time; here it is emitted + ordered so
    * the oracle can hash the exact interleave. */
  private def sortZorder(s: SparkSession, d: String): DataFrame = {
    val e = eventsUs(s, d)
      .withColumn("u16", pmod(col("user_id"), lit(65536L)))
      .withColumn("b16", pmod(expr("ts_us div 3600000000"), lit(65536L)))
    e.withColumn("z",
        expr("""aggregate(sequence(0, 15), 0L, (acc, i) ->
               |  acc + shiftleft(shiftright(u16, i) % 2, 2 * i)
               |      + shiftleft(shiftright(b16, i) % 2, 2 * i + 1))""".stripMargin))
      .select(col("event_id"), col("u16"), col("b16"), col("z"))
      .orderBy(col("z"), col("event_id"))
  }

  // ----------------------------------------------------------------- PageRank
  /** PageRank iterations and damping — fixed so the DuckDB oracle can
    * unroll the exact same computation. */
  private[relational] val PrIters = 10
  private[relational] val PrDamping = 0.85
  private val PrK = 3

  /** PAGERANK over the corpus's k-NN similarity graph — graph centrality
    * as a data-quality/importance signal (which documents sit at the core
    * of the embedding manifold vs its periphery). Graph construction is
    * [[annKnnEdges]]'s BUCKETED candidates + exact re-rank (cosines
    * ROUNDED before ranking — same cross-engine ulp rule as text_tfidf —
    * ties to the smaller id); out-degree is ≤ [[PrK]], so each node
    * divides its rank by its actual degree and any zero-out-degree node
    * is honest dangling mass. Then [[PrIters]] power iterations as a
    * driver loop of joins: contribution = rank/deg flowing along edges,
    * one combinable sum per iteration, rank vector re-derived from the
    * node table each step (never collected). The edge table is
    * localCheckpoint'ed — it is read [[PrIters]] times and is ≤ k·N rows.
    * The iteration is the textbook Pregel-on-DataFrames shape: k·N edge
    * rows shuffle per step, nothing driver-side but the loop counter.
    * Floating error stays ~1e-14 after 10 iterations (damping is a
    * contraction); the final round(6) absorbs engine-order differences. */
  /** LSH geometry for the graph family's candidate generation — all
    * pinned so the DuckDB oracles replay the identical graph. 8 tables +
    * radius-1 multiprobe because the corpus's nearest neighbors sit near
    * 70° (top-3 cosine ≈ 0.33), where per-plane agreement is only ~0.6:
    * measured recall vs the exact graph was 0.24 at 4 tables/no probe,
    * 0.99 at this geometry (graph_knn_recall is the standing evidence). */
  private[relational] val GraphTables = 8
  private[relational] val GraphTargetBucket = 64
  private[relational] val GraphBucketCap = 512

  /** Upper bound on the embedding dimensionality the sign tables cover —
    * the oracle SQL is a static string, so the sign lists are emitted at
    * this fixed width and each dot product stops at the vector's own
    * length. */
  private[relational] val GraphMaxDim = 256

  /** Code width growing with the corpus so the expected bucket stays near
    * [[GraphTargetBucket]] members: smallest b in [4, 24] with
    * n ≤ target·2^b — the same adaptive-bits rule as `similarity_ann`
    * (Similarity.adaptiveBits), but integer-exact (no floating log) so
    * the oracle's CASE-chain replica cannot disagree at power-of-two
    * boundaries. */
  private def graphBits(n: Long): Int = {
    var b = 4
    while (b < 24 && n > GraphTargetBucket.toLong * (1L << b)) b += 1
    b
  }

  /** Deterministic ±1-hyperplane sign for (table `t`, bit `b`, 1-based
    * component `i`): parity of the first hex char of md5("t_b_i") — a
    * REAL hash both engines compute identically (DuckDB `md5(...)`,
    * JVM MessageDigest), the same replay device as `pfsa_sample` /
    * `corpus_mix`. A cheap Knuth-multiply bit mix was tried first and its
    * planes were badly correlated (measured graph recall 0.43 where
    * independent-plane theory predicts ~0.99; md5 parity delivers the
    * theoretical value). `scala.util.Random` Gaussians, as
    * `similarity_ann` uses, cannot cross the engine boundary at all. */
  private def md5Sign(t: Int, b: Int, i1: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${t}_${b}_${i1}".getBytes("UTF-8"))
    if (((h(0) >> 4) & 1) == 1) 1.0 else -1.0
  }

  /** The top-[[PrK]] rounded-cosine k-NN edge set shared by
    * [[graphPagerank]], [[graphTriangles]], [[graphLabelProp]] and
    * [[graphKhop]] — directed src→dst, out-degree ≤ k, deterministic
    * (cos rounded before ranking, ties to the smaller dst).
    *
    * Candidate generation is BUCKETED, not all-pairs: [[GraphTables]]
    * deterministic ±1-hyperplane sign codes of [[graphBits]] bits per
    * vector (codegen'd nested `transform`/`aggregate` lambdas, no UDF),
    * buckets larger than [[GraphBucketCap]] dropped (the
    * identical-vector-swarm guard from `Similarity.nearDupPairs`), then
    * one (table, code)-keyed self-equi-join and an exact cosine re-rank
    * of the candidates. The plan contains no CartesianProduct /
    * BroadcastNestedLoopJoin anywhere: candidate volume is
    * ≈ tables·N·bucket rows — LINEAR in N at fixed geometry, and the
    * adaptive code width keeps the bucket size flat as N grows — where
    * the previous exact build's N² candidates grew 10,000× at 100×
    * vectors. Recall vs the exact graph is measured by
    * `graph_knn_recall` (sampled exact leg, floor-asserted in specs).
    *
    * Honest gate-scale cost note: at fixture N (500-2,000 vectors) the
    * probed buckets cover ~80% of all pairs, so the bucketed build does
    * the exact build's cosine work PLUS the bucketing stages — measured
    * ~6 s vs ~0.5 s per graph query at sf0.1. The geometry only prunes
    * beyond ~10^5 vectors (candidates ≈ tables·(bits+1)·bucket per node,
    * constant, while all-pairs grows with N) — that asymptote, not the
    * toy-scale wall clock, is what the swap buys. */
  /** Session-scoped memo of the graph family's k-NN edge relation — the
    * materialized-derived-graph serving pattern (`similarity_index_reuse`'s
    * index amortization applied to the edge build). Five registered
    * queries (pagerank, triangles, label_prop, khop, knn_recall) consume
    * the IDENTICAL edge set over the IDENTICAL corpus; a production
    * deployment would build the k-NN graph once and serve every analytic
    * from it, so the first caller in a session pays [[annKnnEdges]] and
    * the rest scan the materialized ≤ k·N-row edge table. Keyed by
    * (session, canonical dir): entries die with their session (the
    * checkpoint RDDs are session-owned; stopped sessions are evicted on
    * the next insert). A corpus REWRITTEN under the same path within one
    * session would serve stale edges — fine for immutable fixture data,
    * and [[annKnnEdges]] remains the uncached bypass. */
  private val edgeMemo = new graft.core.SessionMemo[String](dir =>
    DataPipelineQueries.deleteRecursively(java.nio.file.Paths.get(dir)),
    name = "ann_edges")

  /** Spec for the persisted k-NN edge artifact: adaptive-width md5-sign
    * hyperplane codes, [[GraphTables]] tables, Hamming-1 multiprobe,
    * bucket cap [[GraphBucketCap]], top-[[PrK]] by 6-dp cosine. */
  private[relational] val AnnEdgesSpec =
    s"md5sign_codes.tables$GraphTables.h1probe.cap$GraphBucketCap.top$PrK.cos6"

  private[relational] def saveAnnEdges(s: SparkSession, d: String,
                                       root: String): Unit =
    graft.core.ArtifactStore.save(root, AnnEdgesSpec,
      Seq("edges" -> sharedAnnEdges(s, d)),
      // the memo table IS the artifact — file-copy, don't re-encode (r17)
      sourceDirs = Map("edges" -> annEdgesDir(s, d)))

  private[relational] def loadAnnEdges(s: SparkSession, root: String): DataFrame =
    graft.core.ArtifactStore.load(s, root, AnnEdgesSpec, Seq(
      "edges" -> "src:bigint,dst:bigint,cos:double")).head

  /** Gate: the hard-negative mining pass served from a RELOADED k-NN edge
    * artifact — the cross-session form of the graph family's edge memo
    * (r15 verdict ask #3; "the persisted similarity graph" the
    * sample_hard_negatives scaladoc promises). Oracle =
    * sample_hard_negatives' SQL VERBATIM. */
  private def annEdgesPersist(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_edges_persist_")
    try {
      saveAnnEdges(s, d, tmp.toString)
      hardNegativesFrom(s, d, loadAnnEdges(s, tmp.toString)).localCheckpoint(true)
    } finally DataPipelineQueries.deleteRecursively(tmp)
  }

  private[relational] def sharedAnnEdges(s: SparkSession, d: String): DataFrame =
    s.read.parquet(annEdgesDir(s, d))

  private def annEdgesDir(s: SparkSession, d: String): String =
    edgeMemo.getOrBuild(s, d) {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // materialized as a parquet TABLE, not a cached frame: the bench
      // harness releases every persisted RDD between queries (standalone
      // contract), which would kill a memoized localCheckpoint — a scan
      // over the written edge table survives any block-manager hygiene,
      // and "derived k-NN graph persisted as a table, analytics scan it"
      // is the literal production shape anyway. ≤ k·N rows.
      // dir lifecycle is the memo's: deleted when the owning session's
      // entry evicts, or by the memo's single JVM shutdown sweep — no
      // per-build hooks, no orphans in long-lived multi-session reuse
      val tmp = java.nio.file.Files.createTempDirectory("graft_knn_edges_")
      annKnnEdges(emb).write.mode("overwrite").parquet(tmp.toString)
      tmp.toString
    }

  /** Session memo of the UNDIRECTED distinct edge set (a < b) over the
    * k-NN graph (r16 optimization): EIGHT graph queries derived it per
    * call — each paying a distinct-exchange over the edge table for the
    * same answer (the sharedAnnEdges amortization rule one step deeper).
    * Edge-sized parquet; lifecycle identical to the edge memo's. */
  private val undMemo = new graft.core.SessionMemo[String](dir =>
    DataPipelineQueries.deleteRecursively(java.nio.file.Paths.get(dir)),
    name = "und_edges")

  private[relational] def sharedUndEdges(s: SparkSession, d: String): DataFrame =
    s.read.parquet(undMemo.getOrBuild(s, d) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_und_edges_")
      sharedAnnEdges(s, d)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
        .write.mode("overwrite").parquet(tmp.toString)
      tmp.toString
    })

  /** Session memo of per-node TRIANGLE counts over [[sharedUndEdges]]
    * (r16): graph_triangles and graph_clustering_coeff both ran the same
    * oriented wedge join + LEFT SEMI closure + 3-corner aggregate — the
    * family's most expensive derived relation after the edges themselves.
    * Node-sized parquet (node, t). */
  private val triMemo = new graft.core.SessionMemo[String](dir =>
    DataPipelineQueries.deleteRecursively(java.nio.file.Paths.get(dir)),
    name = "tri_counts")

  private[relational] def sharedTriCounts(s: SparkSession, d: String): DataFrame =
    s.read.parquet(triMemo.getOrBuild(s, d) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_tri_counts_")
      val und = sharedUndEdges(s, d)
      val wedges = und.select(col("a").as("x"), col("b").as("y"))
        .join(und.select(col("a").as("y"), col("b").as("z")), "y")
      val tri = wedges.join(und.select(col("a").as("x"), col("b").as("z")),
          Seq("x", "z"), "left_semi")
        .localCheckpoint(true) // consumed 3x by the corner union below
      tri.select(col("x").as("node"))
        .union(tri.select(col("y")))
        .union(tri.select(col("z")))
        .groupBy(col("node")).agg(count(lit(1)).as("t"))
        .write.mode("overwrite").parquet(tmp.toString)
      tmp.toString
    })

  private[relational] def annKnnEdges(emb: DataFrame, checkpoint: Boolean = true): DataFrame = {
    import graft.text.Similarity
    // one bounded job for both plan-time scalars: corpus size (code
    // width) and dimensionality (sign-literal length). max(size) is NULL
    // on an empty corpus — short-circuit to an empty edge relation
    // instead of letting getInt NPE (the pre-trim code's behavior)
    val head = emb.agg(count(lit(1)), max(size(col("v")))).head()
    if (head.getLong(0) == 0L)
      return emb.select(col("vec_id").as("src"), col("vec_id").as("dst"),
        lit(0d).as("cos")).limit(0)
    val bits = graphBits(head.getLong(0))
    val dim = head.getInt(1)
    // signs depend only on (t, b, i): computed once on the driver, shipped
    // as referenced double[] constants into the native VecDotConst kernel
    // (r10) — each code is tables·bits fused codegen loops per row, no
    // UDF, no shuffle, no interpreted HOF lambdas (the aggregate+transform
    // form this replaces was the dominant term of the edge build's wall at
    // the 10× fixture), and no typedLit arrays bloating the generated
    // code (the r9 janino-compile-time hazard). Signs are trimmed to the
    // ACTUAL dimensionality (the oracle's fixed-width GraphMaxDim lists
    // agree on every index a vector can touch).
    def dotTb(t: Int, b: Int): Column = {
      val signs = (1 to dim).map(i => md5Sign(t, b, i)).toArray
      org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.VecDotConst(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("v")), signs))
    }
    def code(t: Int): Column = (0 until bits)
      .map(b => when(dotTb(t, b) >= 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    val bk0 = emb
      .select(col("vec_id"), explode(array((0 until GraphTables).map(t =>
        struct(lit(t.toLong).as("t"), code(t).as("code"))): _*)).as("tc"))
      .select(col("vec_id"), col("tc.t").as("t"), col("tc.code").as("code"))
    // persist only on the checkpoint path, where it is also released —
    // the checkpoint=false spec hook would otherwise leak one cached
    // frame per call into the shared session's block manager
    val bk = if (checkpoint) bk0.persist() else bk0
    // swarm guard: a bucket over the cap is dropped entirely (deterministic,
    // oracle-replayable) — the capped-join bound from Similarity.nearDupPairs
    val ok = bk.groupBy(col("t"), col("code")).agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= GraphBucketCap.toLong).select(col("t"), col("code"))
    val bk2 = bk.join(ok, Seq("t", "code")).select(col("t"), col("code"), col("vec_id"))
    // Hamming-radius-1 multiprobe on the src side (the similarity_ann
    // recall boost): each node probes its own code plus the `bits`
    // one-bit-flip codes — bits+1 probe rows per (node, table), not a
    // bigger index
    // vectors attach to BOTH sides of the bucket join up front (two
    // vec_id-keyed joins over N·tables rows), so the candidate stream
    // flows from the (t, code) equi-join straight into the map-side
    // partial of the top-k aggregate IN THE SAME STAGE — nothing
    // pair-sized is ever exchanged. The r12 form materialized the raw
    // candidate relation three times (a distinct() exchange plus two
    // pair-level joins shipping a dim-sized vector per candidate row);
    // at 100× vectors (200k) that was ~10⁹ rows × ~0.5 KB of shuffle —
    // measured to exhaust this box's disk — while the fused form's only
    // corpus-scaled exchanges are the two vector-carrying join inputs
    // (N·tables·(bits+1) and N·tables rows), 50× smaller. Cross-table
    // duplicate candidates carry bit-identical cosines (same two
    // vectors, same rounding), so the aggregate's id-dedup reproduces
    // distinct()-then-top-k exactly (see TopKRows.distinctIds).
    val withV = bk2.join(emb, "vec_id")
    val probesV = withV.select(col("vec_id").as("src"), col("t"),
      col("v").as("va"),
      explode(array(col("code") +:
        (0 until bits).map(b => col("code").bitwiseXOR(lit(1L << b))): _*)).as("code"))
    val dstV = withV.select(col("t"), col("code"), col("vec_id").as("dst"),
      col("v").as("vb"))
    // top-k per src through the combinable TopKRows aggregate (value DESC,
    // id ASC — the identical ordering), NOT a rank window: the window form
    // re-exchanges and fully sorts the candidate relation, while the
    // aggregate keeps O(k) state per src and each input partition
    // contributes ≤ k rows per src to the shuffle — the scale-safe shape
    // at any candidate volume
    val topk = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.TopKRows(PrK,
        org.apache.spark.sql.graft.ColumnBridge.expression(col("cos")),
        org.apache.spark.sql.graft.ColumnBridge.expression(col("dst")),
        distinctIds = true)
        .toAggregateExpression())
    val edges = probesV
      .join(dstV, Seq("t", "code"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), round(Similarity.cosine("va", "vb"), 6).as("cos"))
      .groupBy(col("src")).agg(topk.as("tk"))
      .select(col("src"), explode(col("tk")).as("e"))
      // the edge WEIGHT rides along: a materialized k-NN graph table that
      // drops the similarity would force every weighted consumer (sssp)
      // to re-join the corpus and recompute k·N cosines it already paid for
      .select(col("src"), col("e.id").as("dst"), col("e.value").as("cos"))
    // checkpoint=false is the spec hook: localCheckpoint truncates lineage,
    // so the no-cartesian plan assertion needs the raw frame
    if (checkpoint) { val e = edges.localCheckpoint(true); bk.unpersist(false); e }
    else edges
  }

  private def graphPagerank(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val n = emb.count().toDouble
    // ANN edges have out-degree ≤ k (a node's survivors can be fewer than
    // k candidates), so each node divides its rank by its ACTUAL degree;
    // nodes with zero out-edges are honest dangling mass (teleport only)
    val edges = sharedAnnEdges(s, d)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
      .localCheckpoint(true)
    val nodes = emb.select(col("vec_id"))
    var rank = nodes.withColumn("r", lit(1.0 / n))
    for (_ <- 1 to PrIters) {
      val contrib = rank.join(edges, rank("vec_id") === edges("src"))
        .groupBy(col("dst")).agg(sum(col("r") / col("deg")).as("c"))
      rank = nodes.join(contrib, nodes("vec_id") === contrib("dst"), "left")
        .select(nodes("vec_id"),
          (lit((1.0 - PrDamping) / n) + lit(PrDamping) * coalesce(col("c"), lit(0.0))).as("r"))
    }
    rank.select(col("vec_id"), round(col("r"), 6).as("pagerank"))
      .orderBy(col("vec_id"))
  }

  /** TRIANGLE COUNT per node over the same k-NN similarity graph —
    * the local-clustering signal (a node in many triangles sits inside a
    * tight semantic cluster; triangle-free nodes are manifold periphery,
    * the same quality axis PageRank measures globally). The directed k-NN
    * edges are undirected via (least, greatest) + distinct, then the
    * classic oriented enumeration: wedges x–y–z with x<y<z closed by a
    * LEFT SEMI probe of the third edge — each triangle is counted exactly
    * once, and the semi-join never materializes match duplicates. Per-node
    * counts explode each triangle to its 3 corners and hash-aggregate.
    * Out-degree is bounded by [[PrK]], so the wedge fan-out is ≤ k² per
    * node at ANY scale; at 100 TB the general-graph guard is the standard
    * degree orientation (low-degree endpoint first), which this plan
    * already embodies via the total order on ids. */
  private def graphTriangles(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // per-node counts come from the family memo (r16): the wedge + semi
    // closure is computed once per (session, corpus) and shared with
    // graph_clustering_coeff instead of re-run per call
    val perNode = sharedTriCounts(s, d)
    emb.select(col("vec_id"))
      .join(perNode, emb("vec_id") === perNode("node"), "left")
      .select(col("vec_id"), coalesce(col("t"), lit(0L)).as("n_triangles"))
      .orderBy(col("vec_id"))
  }

  /** LOCAL CLUSTERING COEFFICIENT per node — Watts–Strogatz C(v) =
    * 2·T(v) / (deg(v)·(deg(v)−1)) over the same undirected k-NN graph:
    * the normalized companion of [[graphTriangles]] (raw triangle counts
    * conflate density with degree; the coefficient is the probability two
    * neighbors of v are themselves neighbors — THE standard tight-cluster
    * vs hub-periphery discriminator). Gated in the integer-micro regime:
    * `coeff_micros` = (2·10⁶·T) div (deg·(deg−1)) for deg ≥ 2, else 0
    * (the deg ≤ 1 convention) — all-integer, truncating division, zero
    * float surface. Shape: degree is one combinable aggregate over the
    * undirected edges; triangles reuse the oriented wedge + LEFT SEMI
    * closure (fan-out ≤ k² per node at any scale, same as
    * [[graphTriangles]]); everything keyed, no cartesian. */
  private def graphClusteringCoeff(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"))
    val und = sharedUndEdges(s, d)
    val deg = und.select(col("a").as("node")).union(und.select(col("b")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // shared with graph_triangles via the family memo (r16)
    val perNode = sharedTriCounts(s, d)
    emb.join(deg, emb("vec_id") === deg("node"), "left")
      .join(perNode, emb("vec_id") === perNode("node"), "left")
      .select(col("vec_id"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("t"), lit(0L)).as("n_triangles"))
      .withColumn("coeff_micros",
        when(col("degree") >= 2,
          expr("(2000000L * n_triangles) div (degree * (degree - 1))"))
          .otherwise(lit(0L)))
      .orderBy(col("vec_id"))
  }

  /** EDGE EMBEDDEDNESS / neighborhood Jaccard per undirected edge —
    * J(a,b) = |N(a)∩N(b)| / |N(a)∪N(b)| — the standard local-similarity
    * sparsification and link-strength score (Satuluri et al.'s local
    * graph sparsification keeps each node's top-J edges; low-J edges are
    * bridges, high-J edges sit inside communities — the edge-level dual
    * of [[graphClusteringCoeff]]). Integer-micro surface:
    * `jaccard_micros` = (10⁶·cn) div (deg_a + deg_b − cn) with cn the
    * common-neighbor count — the denominator is |N(a)∪N(b)| by
    * inclusion–exclusion and ≥ 2 for any existing edge (each endpoint
    * neighbors the other), so no zero guard is needed. Shape: the
    * common-neighbor relation is the wedge self-join (Σ deg(w)² rows,
    * ≤ k² per node at any scale — the graphTriangles bound) restricted
    * back to EXISTING edges by a keyed left join; degrees are one
    * combinable aggregate. All integers, both engines exact. */
  private def graphEdgeOverlap(s: SparkSession, d: String): DataFrame = {
    val und = sharedUndEdges(s, d)
      .cache()
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .union(und.select(col("b"), col("a")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val cn = adj.select(col("node").as("a"), col("nbr").as("w"))
      .join(adj.select(col("node").as("b"), col("nbr").as("w")), "w")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
    und.join(cn, Seq("a", "b"), "left")
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a").as("node_a"), col("b").as("node_b"),
        coalesce(col("cn"), lit(0L)).as("common_neighbors"),
        col("deg_a"), col("deg_b"))
      .withColumn("jaccard_micros",
        expr("(1000000L * common_neighbors) div (deg_a + deg_b - common_neighbors)"))
      .orderBy(col("node_a"), col("node_b"))
  }

  /** k-core threshold and peel rounds — pinned so the oracle can unroll.
    * The decomposition runs on the MUTUAL k-NN graph, not the raw
    * symmetrized one: symmetrizing gives every node ≥ [[PrK]] undirected
    * neighbors by construction, so any threshold ≤ PrK is vacuous and
    * PrK + 1 empties under cascade (both measured at sf0.001: 100% and 0%
    * membership). Mutual edges (each endpoint in the other's top-k — the
    * standard mutual-kNN construction of density-based clustering) have
    * variable degree 0..k, so the 2-core — nodes inside mutual CYCLES,
    * peeled free of mutual trees/chains — is the real signal. */
  private[relational] val KcoreK = 2
  private[relational] val KcoreRounds = 16

  /** K-CORE of the MUTUAL k-NN similarity graph (Seidman 1983 cores over
    * the Brito et al. 1997 mutual-kNN construction): keep an edge only
    * when BOTH endpoints rank each other in their top-k, then peel to the
    * maximal subgraph where every node keeps ≥ [[KcoreK]] mutual
    * neighbors — THE standard dense-region extractor (mutual edges demand
    * reciprocated similarity, so core membership separates tight semantic
    * clusters from one-way hub attraction, which raw degree can't).
    * Computed by synchronous peeling: each round drops every node whose
    * degree WITHIN the surviving set is < k, for at most [[KcoreRounds]]
    * rounds with early exit once a round removes nothing (monotonicity
    * makes an unchanged count a proof of an unchanged set) — the
    * distributed k-core algorithm (Montresor et al. 2013 is the
    * message-passing form of the same fixpoint). Peeling is monotone (the
    * alive set only shrinks), so a bounded unroll is oracle-replayable;
    * the emitted `converged` flag is honest evidence the fixpoint was
    * reached (one extra peel step changes nothing), not an assumption.
    * Output per node: membership, degree inside the core (0 outside),
    * converged.
    *
    * 100-TB shape: the mutual filter is one LEFT SEMI self-join of the
    * ≤ k·N directed edges; per round, two LEFT SEMI joins of the ≤ 2·k·N
    * adjacency against the alive set and one combinable count — all
    * keyed, linear, and the alive frame is eagerly localCheckpoint'ed
    * each round because it is referenced twice per step (the
    * [[graphLabelProp]] lineage rule: carried lineage doubles the plan
    * per round, 2^R growth). Rounds are a plan constant: synchronous
    * peeling removes one leaf "wave" per round; at larger diameters you
    * raise [[KcoreRounds]], not the per-round cost. */
  private def graphKcore(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"))
    val dir = sharedAnnEdges(s, d).select(col("src"), col("dst"))
    val und = dir
      .join(dir.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .union(und.select(col("b"), col("a")))
      .localCheckpoint(true)
    def coreDegrees(alive: DataFrame): DataFrame = adj
      .join(alive, Seq("node"), "left_semi")
      .join(alive.select(col("node").as("nbr")), Seq("nbr"), "left_semi")
      .groupBy(col("node")).agg(count(lit(1)).as("c"))
    var alive = adj.select(col("node")).distinct().localCheckpoint(true)
    // early exit at the fixpoint: peeling is monotone (the alive set only
    // shrinks), so an unchanged count PROVES an unchanged set — dead
    // rounds cost a full pass each at scale and change nothing. The
    // count is one cheap job on the just-checkpointed frame, and the
    // result is bit-identical to the full unroll the oracle replays.
    var prev = alive.count()
    var r = 0
    var fixed = false
    while (r < KcoreRounds && !fixed) {
      // TWO peels per materialization (r17, guide §2 fewer jobs per
      // round): each checkpoint+count pair costs two scheduler jobs, so
      // pairing halves the per-round fixed cost; peeling is monotone and
      // idempotent at the fixpoint, so the possible extra peel changes
      // nothing and an unchanged count after a pair still proves the
      // fixpoint. The round budget counts PEELS, exactly as before.
      val once = coreDegrees(alive).filter(col("c") >= KcoreK).select(col("node"))
      val (stepped, peels) =
        if (r + 1 < KcoreRounds)
          (coreDegrees(once).filter(col("c") >= KcoreK).select(col("node")), 2)
        else (once, 1)
      alive = stepped.localCheckpoint(true)
      val n = alive.count()
      fixed = n == prev
      prev = n
      r += peels
    }
    // degree restricted to the final alive set — the output column, and
    // one extra peel step's worth of evidence for the converged flag
    val fin = coreDegrees(alive).localCheckpoint(true)
    val converged =
      fin.filter(col("c") >= KcoreK).count() == alive.count()
    emb
      .join(alive.select(col("node").as("vec_id"), lit(1L).as("m")), Seq("vec_id"), "left")
      .join(fin.select(col("node").as("vec_id"), col("c")), Seq("vec_id"), "left")
      .select(col("vec_id"),
        col("m").isNotNull.as("in_kcore"),
        coalesce(col("c"), lit(0L)).as("core_degree"),
        lit(converged).as("converged"))
      .orderBy(col("vec_id"))
  }

  /** LABEL ASSORTATIVITY of the k-NN graph (Newman 2003, "Mixing patterns
    * in networks", discrete form): r = (m·Σᵢeᵢᵢ − Σᵢaᵢ²) / (m² − Σᵢaᵢ²)
    * over the symmetrized edge relation (each undirected edge counted in
    * both directions, so the mixing matrix is symmetric and aᵢ = bᵢ) —
    * r > 0 means same-label vectors preferentially neighbor each other
    * (the one-number health check of an embedding space: a label-
    * assortative k-NN graph is what makes graph_knn_classify, label_prop
    * and hard-negative mining work at all). EVERY term is an exact
    * integer — m (directed edge count), Σeᵢᵢ (same-label edges),
    * Σaᵢ² (squared per-label degree masses) — so `r_micros` =
    * (10⁶·(m·Σeᵢᵢ − Σaᵢ²)) div (m² − Σaᵢ²) is engine-exact, truncation
    * toward zero on both engines incl. negative (disassortative) values.
    * Shape: one labeled join over the memoized edges, two combinable
    * aggregates; output is a single audit row. */
  private def graphAssortativity(s: SparkSession, d: String): DataFrame = {
    val lbl = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val und = sharedUndEdges(s, d)
    val dir = und.union(und.select(col("b"), col("a")))
      .join(lbl.select(col("vec_id").as("a"), col("label").as("la")), "a")
      .join(lbl.select(col("vec_id").as("b"), col("label").as("lb")), "b")
    val tot = dir.agg(
      count(lit(1)).as("m_directed"),
      sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("e_same"))
    val aa = dir.groupBy(col("la")).agg(count(lit(1)).as("ai"))
      .agg(sum(col("ai") * col("ai")).as("sum_a_sq"))
    tot.crossJoin(aa)
      // degenerate-corpus guard (r12 advice): when every vector shares one
      // label, m² = Σaᵢ² and the denominator is 0 — Spark `div` would yield
      // NULL silently while DuckDB `//` raises, so BOTH engines emit an
      // explicit NULL (assortativity is undefined on a one-label graph)
      .select(col("m_directed"), col("e_same"), col("sum_a_sq"),
        expr("""CASE WHEN m_directed * m_directed = sum_a_sq THEN NULL
                ELSE (1000000L * (m_directed * e_same - sum_a_sq))
                     div (m_directed * m_directed - sum_a_sq) END""").as("r_micros"))
  }

  /** Hard negatives per anchor — fixed so the oracle can replay. */
  private[relational] val HardNegK = 3

  /** HARD-NEGATIVE MINING for contrastive training — per anchor vector,
    * the [[HardNegK]] highest-cosine neighbors whose label DIFFERS (the
    * "hard" negatives: same-neighborhood, different class — exactly the
    * pairs a contrastive or metric-learning objective needs most, and the
    * standard mining step in SimCLR/CLIP-style pipelines). Served from
    * the SAME memoized k-NN edge table as the graph family — in
    * production the mining pass is one labeled join over the persisted
    * similarity graph, not a fresh ANN build. Deterministic total order
    * (cos DESC then neg_id); anchors whose entire neighborhood shares
    * their label emit no rows (no negative is better than a fake-easy
    * one). Cosines are the edge table's 6-dp-rounded values, already
    * oracle-proven; rank is an exact integer. */
  private def sampleHardNegatives(s: SparkSession, d: String): DataFrame =
    hardNegativesFrom(s, d, sharedAnnEdges(s, d))

  /** [[sampleHardNegatives]] over an EXPLICIT edge relation — factored so
    * ann_edges_persist can serve the identical mining pass from a
    * RELOADED [[saveAnnEdges]] artifact (r15 verdict ask #3). */
  private def hardNegativesFrom(s: SparkSession, d: String,
                                edges: DataFrame): DataFrame = {
    val lbl = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    edges
      .join(lbl.select(col("vec_id").as("src"), col("label").as("l_src")), "src")
      .join(lbl.select(col("vec_id").as("dst"), col("label").as("l_dst")), "dst")
      .filter(col("l_src") =!= col("l_dst"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))))
      .filter(col("rank") <= HardNegK)
      .select(col("src").as("vec_id"), col("dst").as("neg_id"),
        col("cos").as("cos_r"), col("rank").cast("long").as("rank"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** Label-propagation iterations — fixed so the oracle can unroll. */
  private[relational] val LpIters = 5

  /** LABEL PROPAGATION over the k-NN similarity graph: each node
    * repeatedly adopts the majority label of its neighbors ([[LpIters]]
    * rounds, ties to the smallest label, isolated nodes keep their own) —
    * the classic semi-supervised smoothing of a sparse/noisy label column
    * over the embedding manifold (Zhu & Ghahramani's LPA; here the raw
    * `label` column of the embeddings table is the seed). Per round: one
    * edge-to-label join, one combinable (node, label) count, one
    * row_number over the ≤|labels| count frame per node — the same
    * Pregel-on-DataFrames shape as [[graphPagerank]], with the undirected
    * edge table built once and cached. One structural difference from the
    * pagerank loop matters at ANY scale: each round references the
    * previous label frame TWICE (the vote chain and the isolated-node
    * fallback), so carrying raw lineage would double the plan per round —
    * 2ᵏ growth (observed: 92 s at sf0.1 vs ~3 s fixed). The label frame
    * is therefore eagerly localCheckpoint'ed each round: state is N rows
    * (node, label) — checkpoint cost is linear, and the per-round plan
    * stays constant-size. This is the generic rule for iterative
    * DataFrame state referenced more than once per step. Deterministic by
    * construction (counts are integers; the tie-break is total), so the
    * unrolled DuckDB replay hashes exactly. */
  private def graphLabelProp(s: SparkSession, d: String): DataFrame = {
    val seed = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    seed.select(col("vec_id"), col("label").cast("long").as("label_in"))
      .join(sharedLpLabels(s, d)
        .select(col("vec_id"), col("label").cast("long").as("label_out")), "vec_id")
      .withColumn("unchanged", col("label_in") === col("label_out"))
      .orderBy(col("vec_id"))
  }

  /** Session-scoped memo of the CONVERGED label-prop label table — the
    * [[edgeMemo]] pattern one derivation deeper: label_prop, modularity
    * and conductance all consume the identical (node, community) frame
    * over the identical corpus, so the first caller pays the [[LpIters]]
    * vote rounds and the rest scan an N-row parquet table (a cached frame
    * would die to the bench's per-query RDD hygiene; a persisted
    * community table is also the production shape — partition quality
    * metrics are served FROM the stored clustering, not by re-running
    * it). Build time lands in the bench's `family_builds` ledger. */
  private val lpMemo = new graft.core.SessionMemo[String](dir =>
    DataPipelineQueries.deleteRecursively(java.nio.file.Paths.get(dir)),
    name = "lp_labels")

  private[relational] def sharedLpLabels(s: SparkSession, d: String): DataFrame =
    s.read.parquet(lpMemo.getOrBuild(s, d) {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      val und = sharedUndEdges(s, d)
      val adj = und.select(col("a").as("node"), col("b").as("nbr"))
        .union(und.select(col("b"), col("a")))
        .cache()
      val seed = emb.select(col("vec_id"), col("label"))
      var labels = seed
      for (_ <- 1 to LpIters) {
        val votes = adj.join(labels.select(col("vec_id").as("nbr"), col("label")), "nbr")
          .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
        val winner = votes
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("node")).orderBy(col("c").desc, col("label"))))
          .filter(col("rn") === 1)
          .select(col("node"), col("label").as("next_label"))
        labels = labels.join(winner, labels("vec_id") === winner("node"), "left")
          .select(col("vec_id"), coalesce(col("next_label"), col("label")).as("label"))
          .localCheckpoint(true)
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_lp_labels_")
      labels.write.mode("overwrite").parquet(tmp.toString)
      adj.unpersist()
      tmp.toString
    })

  /** NEWMAN MODULARITY of the converged label-prop communities over the
    * memoized k-NN graph (Newman & Girvan 2004): per community c,
    * Q_c = e_c/m − (d_c/2m)² where m = undirected edge count, e_c =
    * intra-community edges and d_c = Σ degrees in c — the standard
    * partition-quality audit run AFTER a community detection, here over
    * the stored clustering ([[sharedLpLabels]]) exactly as a production
    * deployment would score a persisted partition. Every quantity is an
    * exact integer, so the per-community term is pinned as
    * `q_term_micros` = (10⁶·(4m·e_c − d_c²)) div (4m²) — term-wise
    * truncating integer-micro division (the [[graphBetweennessFrac]]
    * recipe: truncation does not distribute over a sum, so the TERM is
    * the pinned unit, engines bit-agree, and `q_total_micros` is the
    * plain integer sum of the pinned terms). Shape: two labeled joins
    * over the ≤ k·N memoized edges, combinable counts, and a
    * |communities|-row result — every corpus-sized stage is keyed, the
    * community frame is dimension-sized, and the 1-row m total
    * broadcasts. Degenerate guard: an edgeless corpus has m = 0 and
    * Q is undefined — both engines emit NULL terms (the
    * [[graphAssortativity]] rule). Overflow fail-fast: terms are
    * ≤ 4·10⁶·m², BIGINT-safe for m ≤ 1.4·10⁶ edges; a larger fixture
    * RAISES instead of wrapping (the [[graphBetweennessFrac]] guard). */
  private def graphModularity(s: SparkSession, d: String): DataFrame = {
    val lab = sharedLpLabels(s, d)
      .select(col("vec_id"), col("label").cast("long").as("community"))
    val und = sharedUndEdges(s, d)
    val undl = und
      .join(lab.select(col("vec_id").as("a"), col("community").as("ca")), "a")
      .join(lab.select(col("vec_id").as("b"), col("community").as("cb")), "b")
    // m counts the RAW undirected edges (und), matching graphConductance
    // and both oracles' mm CTE — not the label-joined relation, which is
    // equal only while every endpoint carries a label (true of the
    // converged lp table today, silently skewed under a partial-label
    // community table)
    val mRow = und.agg(count(lit(1)).as("m"))
    val ein = undl.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_in"))
    // directed degree mass per community: both orientations of every
    // undirected edge, keyed by the source's community — Σ deg_sum = 2m
    val vol = undl.select(col("ca").as("c")).union(undl.select(col("cb")))
      .groupBy(col("c").as("community")).agg(count(lit(1)).as("deg_sum"))
    val terms = lab.groupBy(col("community")).agg(count(lit(1)).as("n_nodes"))
      .join(ein, Seq("community"), "left")
      .join(vol, Seq("community"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        coalesce(col("deg_sum"), lit(0L)).as("deg_sum"), col("m"),
        expr("""CASE WHEN assert_true(m <= 1400000,
                  'graph_modularity: edge count exceeds the BIGINT-safe ceiling (1.4e6); q_term_micros would overflow') IS NULL
                THEN CASE WHEN m = 0 THEN NULL
                     ELSE (1000000L * (4L * m * coalesce(e_in, 0L)
                           - coalesce(deg_sum, 0L) * coalesce(deg_sum, 0L)))
                          div (4L * m * m) END
                END""").as("q_term_micros"))
      .localCheckpoint(true) // referenced twice below (rows + its own total)
    // the total as a broadcast 1-row join, not an unpartitioned window —
    // same dimension-sized frame, no single-partition WindowExec
    terms.crossJoin(broadcast(terms.agg(sum(col("q_term_micros")).as("q_total_micros"))))
      .orderBy(col("community"))
  }

  /** PER-COMMUNITY CONDUCTANCE over the same stored clustering
    * ([[sharedLpLabels]]) and memoized k-NN graph: φ(c) = cut(c) /
    * min(vol(c), 2m − vol(c)) — the boundary-quality companion to
    * [[graphModularity]] (Kannan, Vempala & Vetta 2004's cluster-quality
    * measure; low φ = a well-separated community, high φ = a community
    * that leaks most of its edges outside). cut(c) counts each crossing
    * undirected edge once per side (the orientation whose source lies in
    * c), vol(c) is the directed degree mass, all exact integers —
    * `phi_micros` = (10⁶·cut) div min(vol, 2m−vol), truncating division
    * on both engines, NULL where the min is 0 (an edgeless community, or
    * a community holding EVERY edge endpoint, has no defined boundary
    * ratio). Same 100-TB shape as modularity: keyed joins over ≤ k·N
    * edges, combinable counts, dimension-sized output. */
  private def graphConductance(s: SparkSession, d: String): DataFrame = {
    val lab = sharedLpLabels(s, d)
      .select(col("vec_id"), col("label").cast("long").as("community"))
    val und = sharedUndEdges(s, d)
    val dirl = und.union(und.select(col("b"), col("a")))
      .join(lab.select(col("vec_id").as("a"), col("community").as("ca")), "a")
      .join(lab.select(col("vec_id").as("b"), col("community").as("cb")), "b")
    val mRow = und.agg(count(lit(1)).as("m"))
    val byC = dirl.groupBy(col("ca").as("community")).agg(
      count(lit(1)).as("vol"),
      sum(when(col("ca") =!= col("cb"), 1L).otherwise(0L)).as("cut"))
    lab.groupBy(col("community")).agg(count(lit(1)).as("n_nodes"))
      .join(byC, Seq("community"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("community"), col("n_nodes"),
        coalesce(col("vol"), lit(0L)).as("vol"),
        coalesce(col("cut"), lit(0L)).as("cut"), col("m"),
        expr("""CASE WHEN least(coalesce(vol, 0L), 2L * m - coalesce(vol, 0L)) = 0
                THEN NULL
                ELSE (1000000L * coalesce(cut, 0L))
                     div least(coalesce(vol, 0L), 2L * m - coalesce(vol, 0L)) END""")
          .as("phi_micros"))
      .orderBy(col("community"))
  }

  /** POINT-IN-TIME dimension join (the feature-store / training-data
    * correctness primitive: enrich each fact with the dimension state
    * that was active AT ITS TIMESTAMP — never a later one, which would
    * leak the future into training features). Dimension = signup events
    * (tier := floor(value/25)); facts = purchase events; each purchase
    * gets the tier of the LAST signup strictly before it in the user's
    * (ts, event_id) order. Plan shape: NOT a join at all — both relations
    * union into one stream tagged by kind, ONE exchange on user_id, one
    * sort, and an ignore-nulls `last_value` over the strictly-preceding
    * frame assigns every fact its dimension version in a single merge
    * pass. Contrast with the interval-containment join a naive PIT runs
    * (shuffle both sides + range predicate): when fact and dimension
    * share the partition key, the union-window form is one exchange
    * total and never materializes fact×version candidates. Facts before
    * any signup keep NULL (has_dim false) honestly. */
  private def joinPointInTime(s: SparkSession, d: String): DataFrame = {
    val e = Tables.eventsTsUs(s, d)
    val dim = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        floor(col("value") / 25.0).cast("long").as("tier"),
        col("event_id").as("dim_event_id"), lit(0).as("kind"))
    val facts = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        lit(null).cast("long").as("tier"),
        lit(null).cast("long").as("dim_event_id"), lit(1).as("kind"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    dim.unionByName(facts)
      .withColumn("active_tier", last(col("tier"), ignoreNulls = true).over(w))
      .withColumn("from_event_id", last(col("dim_event_id"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("active_tier"), col("from_event_id"),
        col("active_tier").isNotNull.as("has_dim"))
      .orderBy(col("event_id"))
  }

  /** INCREMENTAL AGGREGATE MERGE — the daily→monthly rollup reality: a
    * stored base aggregate (9/10ths of the corpus, as a warehouse would
    * persist it) is combined with a fresh delta batch by RE-AGGREGATING
    * THE PARTIALS, never re-scanning the base rows. Sums are carried in
    * exact integer micro-units, so partial+partial is bit-equal to the
    * full recompute the oracle runs — the associativity contract every
    * mergeable aggregate (count/sum here; the HLL/quantile sketches in
    * agg_distinct_sketch for the approximate family) must satisfy. At
    * 100 TB the base partial is a |keys|-row table read instead of a
    * re-scan of yesterday's petabytes. */
  private def aggIncrementalMerge(s: SparkSession, d: String): DataFrame = {
    val e = Tables.eventsTsUs(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("cast(round(value * 1e6) as long)").as("vmic"))
    def partial(df: DataFrame) = df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("vmic")).as("micros"))
    val base = partial(e.filter(col("event_id") % 10 =!= 0))
    val delta = partial(e.filter(col("event_id") % 10 === 0))
    base.unionByName(delta)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("micros")).as("micros"))
      .select(col("event_type"), col("n"),
        round(col("micros").cast("double") / 1e6, 6).as("total_r"))
      .orderBy(col("event_type"))
  }

  /** 2-hop reachability over the k-NN graph: per node, how many distinct
    * nodes its directed neighborhood reaches within two hops (self
    * excluded), and the expansion ratio vs the out-degree k — the local
    * connectivity probe (a flat ratio ≈ clustering/swarm, a ratio near
    * 1+k ≈ tree-like expansion) behind hub detection and ANN graph
    * diagnostics. Plan: the edge list self-joins ONCE on dst=src (the
    * standard hop expansion — shuffle keyed on the join column, fan-out
    * bounded by k² per node), then distinct + one combinable count. At
    * 100 TB of edges each hop is one keyed shuffle; k-bounded degree
    * keeps the fan-out linear in nodes. */
  private def graphKhop(s: SparkSession, d: String): DataFrame = {
    // the edge build is referenced three times below (both join sides +
    // the union); it returns eagerly localCheckpoint'ed, so reuse is free
    val edges = sharedAnnEdges(s, d).select(col("src"), col("dst"))
    val hop2 = edges.join(
      edges.select(col("src").as("mid"), col("dst").as("dst2")),
      col("dst") === col("mid"))
      .select(col("src"), col("dst2").as("dst"))
    edges.union(hop2)
      .filter(col("src") =!= col("dst"))
      .distinct()
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_reach2"))
      .select(col("src").as("vec_id"), col("n_reach2"),
        round(col("n_reach2").cast("double") / PrK, 6).as("expansion"))
      .orderBy(col("vec_id"))
  }

  /** Sampled-recall probe size for [[graphKnnRecall]]. */
  private[relational] val RecallSample = 32

  /** ANN-vs-EXACT RECALL of the bucketed edge build — the quality
    * evidence for swapping the graph family's exact O(N²) candidate
    * generation for [[annKnnEdges]]'s linear bucketed one. The exact leg
    * is BOUNDED: [[RecallSample]] probe nodes broadcast against the
    * corpus (the `similarity_topk` shape — sample×N work, never N²), so
    * no plan in the graph family retains a full-corpus cartesian.
    * Per probe node: its exact top-[[PrK]] cosine neighbors, how many the
    * bucketed graph kept, and the recall ratio — fully deterministic, so
    * the oracle replays values rather than settling for a verdict;
    * GraphPagerankSpec additionally asserts the aggregate floor. */
  private def graphKnnRecall(s: SparkSession, d: String): DataFrame = {
    import graft.text.Similarity
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val sample = emb.filter(col("vec_id") < RecallSample)
    val exact = broadcast(sample.select(col("vec_id").as("src"), col("v").as("va")))
      .crossJoin(emb.select(col("vec_id").as("dst"), col("v").as("vb")))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), round(Similarity.cosine("va", "vb"), 6).as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))))
      .filter(col("rn") <= PrK)
      .select(col("src"), col("dst"))
    val ann = sharedAnnEdges(s, d).filter(col("src") < RecallSample)
    exact.join(ann.withColumn("hit", lit(1)), Seq("src", "dst"), "left")
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("src").as("vec_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"))
      .orderBy(col("vec_id"))
  }

  /** k-NN LABEL CONSISTENCY over the shared ANN edge table — the standard
    * embedding-quality probe (a good representation places same-label
    * points among each other's nearest neighbors; kNN-classification
    * accuracy on held labels is the canonical intrinsic benchmark,
    * cf. the linear/kNN probes of the SimCLR/DINO evaluation protocol):
    * per node, the MAJORITY label of its ≤ k out-neighbors (ties to the
    * smaller label — total order), compared against the node's own label.
    * Rides the session-memoized edge relation like every graph-family
    * member, adding one keyed vote aggregate and one top-1 window over
    * ≤ k·N rows; nodes whose buckets were all cap-dropped keep a row with
    * a NULL prediction (consistent = false). Deterministic end-to-end
    * (the edge table is md5-parity replayable; votes are integers), so
    * the oracle recomputes the whole probe. */
  private def graphKnnClassify(s: SparkSession, d: String): DataFrame = {
    val lbl = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val votes = sharedAnnEdges(s, d)
      .join(lbl.select(col("vec_id").as("dst"), col("label").as("nl")), "dst")
      .groupBy(col("src"), col("nl")).agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("votes").desc, col("nl"))))
      .filter(col("rn") === 1)
      .select(col("src").as("vec_id"), col("nl").as("pred_label"), col("votes"))
    lbl.join(votes, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("pred_label"),
        coalesce(col("votes"), lit(0L)).as("votes"),
        coalesce(col("label") === col("pred_label"), lit(false)).as("consistent"))
      .orderBy(col("vec_id"))
  }

  /** The DuckDB replay of [[graphKnnClassify]]: identical edge relation,
    * integer vote counts, the same (votes DESC, label) top-1 order. */
  private def knnClassifyOracleSql: String =
    s"""WITH RECURSIVE ${annEdgesCteSql(withLabel = true)},
       |votes AS (
       |  SELECT e.src, b.label AS nl, CAST(count(*) AS BIGINT) AS votes
       |  FROM edges e JOIN emb b ON b.vec_id = e.dst
       |  GROUP BY 1, 2),
       |best AS (
       |  SELECT src, nl, votes,
       |         row_number() OVER (PARTITION BY src ORDER BY votes DESC, nl) AS rn
       |  FROM votes)
       |SELECT m.vec_id, m.label, b.nl AS pred_label,
       |       coalesce(b.votes, 0) AS votes,
       |       coalesce(m.label = b.nl, FALSE) AS consistent
       |FROM emb m LEFT JOIN (SELECT src, nl, votes FROM best WHERE rn = 1) b
       |  ON b.src = m.vec_id
       |ORDER BY m.vec_id""".stripMargin

  /** CONNECTED COMPONENTS over the k-NN similarity graph — the
    * corpus-structure census (how many semantic islands, how big the
    * giant component): the component id is the minimum vec_id reachable
    * through undirected k-NN edges. Edges come from the shared
    * materialized ANN edge table ([[sharedAnnEdges]]); assembly is
    * [[graft.text.Components.minLabel]]'s pointer-jumping min-label
    * propagation — O(log diameter) rounds, each one keyed join + one
    * combinable min, the same kernel dedup_groups runs over verified
    * duplicate pairs, here over similarity edges. At 100 TB the edge
    * relation is k·N rows and every round shuffles only (id, label)
    * pairs — no N² stage anywhere. Deterministic (min ids), so the
    * DuckDB oracle replays the labeling exactly via a recursive
    * min-label flood over the identical replayed edge set. */
  private def graphComponents(s: SparkSession, d: String): DataFrame = {
    val und = sharedUndEdges(s, d)
    val nodes = Tables.embeddings(s, d).select(col("vec_id").as("id"))
    val comp = graft.text.Components.minLabel(nodes, und)
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("component_size"))
    comp.join(sizes, "component")
      .select(col("id").as("vec_id"), col("component"), col("component_size"),
        (col("id") === col("component")).as("is_root"))
      .orderBy(col("vec_id"))
  }

  /** Shortest-path hop budget and source-set size — fixed so the DuckDB
    * oracle's walk enumeration stays bounded and both engines agree on
    * exactly which relaxation rounds ran. */
  private[relational] val SsspSources = 4
  private[relational] val SsspHops = 4

  /** HOP-BOUNDED WEIGHTED SHORTEST PATHS over the k-NN similarity graph
    * (single-source-set Bellman–Ford): distance from the nearest of
    * [[SsspSources]] seed nodes within ≤ [[SsspHops]] undirected edges,
    * edge weight = integer micro-distance `1e6 − round(cos·1e6)` read
    * straight off the materialized edge table ([[sharedAnnEdges]] now
    * carries the rounded cosine, so no consumer re-pays the k·N cosine
    * pass). This is the semantic-neighborhood expansion query (how far is
    * every document from a seed set, weighted by similarity) — khop's
    * reachability with a metric. Each round is ONE keyed join of the
    * (node, dist) state against the edge relation plus a combinable
    * struct-min — the Pregel-on-DataFrames shape of [[graphPagerank]];
    * state is ≤ N rows and localCheckpoint'ed per round (it is read twice
    * per round — the label_prop 2ᵏ-lineage rule). At 100 TB: H keyed
    * shuffles of (node, dist) pairs against a k·N edge table, degree
    * bounded by 2k — linear per round at any corpus size. The (dist,
    * hops) pair is minimized LEXICOGRAPHICALLY; adding the constant
    * (w, 1) per relaxation is strictly monotone in that order, so the
    * per-round DP equals the argmin over all ≤H-hop walks — which is
    * exactly what the oracle enumerates (weights ≥ 0 make walks ⊇ paths
    * share the minimum). Integer weights from the hash-proven rounded
    * cosine: one representable answer, cross-engine by construction. */
  private def graphSssp(s: SparkSession, d: String): DataFrame = {
    val ed = sharedAnnEdges(s, d)
    // undirected: reciprocal directed edges carry the bit-identical cos
    // (dot products commute term-by-term), max() is just the dedup
    val und = ed.select(col("src"), col("dst"), col("cos"))
      .union(ed.select(col("dst").as("src"), col("src").as("dst"), col("cos")))
      .groupBy(col("src"), col("dst")).agg(max(col("cos")).as("cos"))
      .select(col("src"), col("dst"),
        (lit(1000000L) - round(col("cos") * 1e6).cast("long")).as("w"))
      .localCheckpoint(true) // read SsspHops times; ≤ 2k·N rows
    var dist = Tables.embeddings(s, d)
      .filter(col("vec_id") < SsspSources)
      .select(col("vec_id").as("node"), lit(0L).as("dist"), lit(0L).as("hops"))
    for (_ <- 1 to SsspHops) {
      val relaxed = dist.join(und, dist("node") === und("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"),
          (col("hops") + lit(1L)).as("hops"))
      dist = dist.union(relaxed)
        .groupBy(col("node"))
        .agg(min(struct(col("dist"), col("hops"))).as("b"))
        .select(col("node"), col("b.dist").as("dist"), col("b.hops").as("hops"))
        .localCheckpoint(true)
    }
    dist.select(col("node").as("vec_id"), col("dist").as("dist_micros"), col("hops"))
      .orderBy(col("vec_id"))
  }

  /** The DuckDB replay of [[graphSssp]]: identical weighted undirected
    * edge relation, then ALL walks of ≤ [[SsspHops]] hops from the seed
    * set via a recursive CTE (fan-out ≤ (2k)^H per source — bounded by
    * the hop budget, fine at gate scale; the engine side never
    * enumerates, it relaxes). min(dist) per node, then min(hop) among
    * minimal-dist walks — the same lexicographic order the Spark
    * struct-min folds. */
  private def ssspOracleSql: String =
    s"""WITH RECURSIVE ${annEdgesCteSql(withLabel = false)},
       |und AS MATERIALIZED (
       |  SELECT src, dst, 1000000 - CAST(round(max(cos) * 1e6) AS BIGINT) AS w
       |  FROM (SELECT src, dst, cos FROM edges
       |        UNION ALL SELECT dst AS src, src AS dst, cos FROM edges)
       |  GROUP BY src, dst),
       |walk(node, dist, hop) AS (
       |  SELECT vec_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM emb WHERE vec_id < $SsspSources
       |  UNION
       |  SELECT e.dst, p.dist + e.w, p.hop + 1
       |  FROM walk p JOIN und e ON e.src = p.node
       |  WHERE p.hop < $SsspHops),
       |best AS (SELECT node, min(dist) AS dist_micros FROM walk GROUP BY node)
       |SELECT w.node AS vec_id, b.dist_micros, CAST(min(w.hop) AS BIGINT) AS hops
       |FROM walk w JOIN best b ON b.node = w.node AND w.dist = b.dist_micros
       |GROUP BY 1, 2 ORDER BY vec_id""".stripMargin

  /** SHORTEST-PATH COUNTS (the σ forward pass of Brandes' betweenness)
    * from the [[SsspSources]] seed set over the UNWEIGHTED undirected
    * k-NN graph: per node, the minimal hop distance and HOW MANY
    * hop-minimal paths achieve it — the redundancy census of the
    * similarity manifold (σ=1 nodes hang off bridges; high-σ nodes sit
    * in braided regions), and the exact quantity betweenness
    * accumulates. BFS as iterated DataFrames: per level, ONE keyed join
    * of the frontier against the edge table, a combinable σ-sum, and a
    * LEFT ANTI join against the visited set (the de-novo-nodes filter
    * sssp's relax-everything recurrence never needs) — each level is two
    * keyed shuffles of ≤N-row state, H levels, visited set
    * localCheckpoint'ed per round. All-integer (hop counts, path
    * counts): engine-exact by construction. The σ recurrence
    * σ(v)=Σ_{u∈N(v), d(u)=d(v)−1} σ(u) equals the count of minimal-hop
    * walks from the seed set (a minimal walk's prefix is minimal), which
    * is exactly what the oracle's UNION ALL walk enumeration counts. */
  private def graphPathCounts(s: SparkSession, d: String): DataFrame = {
    val (vis, _) = sharedBfsSigma(s, d)
    vis.select(col("node").as("vec_id"), col("dist_hops"), col("sigma"))
      .orderBy(col("vec_id"))
  }

  /** Session memo of the BFS forward state (und, vis) PLUS the derived
    * shortest-path DAG, shared by [[graphPathCounts]],
    * [[graphBetweenness]] and [[graphBetweennessFrac]] — the identical
    * forward pass and DAG join, amortized like the family's edge table
    * (parquet-backed for the same block-manager-hygiene reason as
    * [[edgeMemo]]); [[bfsSigmaForward]] stays the unmemoized bypass. */
  private val bfsMemo = new graft.core.SessionMemo[String](dir =>
    DataPipelineQueries.deleteRecursively(java.nio.file.Paths.get(dir)),
    name = "bfs_sigma")

  /** Returns (vis, dag): the reached-node σ state and the level-respecting
    * shortest-path DAG edges, both parquet-memoized per (session, corpus) —
    * the DAG is DERIVED state shared by the two betweenness queries, so it
    * lives in the memo beside its inputs instead of being re-joined (and
    * re-checkpointed) once per consumer. */
  private def sharedBfsSigma(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val dir = bfsMemo.getOrBuild(s, d) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_bfs_")
      val (und, vis) = bfsSigmaForward(s, d)
      und.write.mode("overwrite").parquet(s"$tmp/und")
      vis.write.mode("overwrite").parquet(s"$tmp/vis")
      // the parquet write IS the eager materialization — no checkpoint
      shortestPathDag(s.read.parquet(s"$tmp/und"), s.read.parquet(s"$tmp/vis"),
        checkpoint = false)
        .write.mode("overwrite").parquet(s"$tmp/dag")
      tmp.toString
    }
    (s.read.parquet(s"$dir/vis"), s.read.parquet(s"$dir/dag"))
  }

  /** The multi-source BFS σ forward pass shared by [[graphPathCounts]] and
    * [[graphBetweenness]]: returns the deduped undirected edge relation and
    * the reached-node state `(node, dist_hops, sigma)`, both
    * localCheckpoint'ed (each is read once per BFS/accumulation round). */
  private def bfsSigmaForward(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ed = sharedAnnEdges(s, d)
    val und = ed.select(col("src"), col("dst"))
      .union(ed.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true) // read SsspHops times; ≤ 2k·N rows
    var vis = Tables.embeddings(s, d)
      .filter(col("vec_id") < SsspSources)
      .select(col("vec_id").as("node"), lit(0L).as("dist_hops"), lit(1L).as("sigma"))
      .localCheckpoint(true)
    for (h <- 1 to SsspHops) {
      val frontier = vis.filter(col("dist_hops") === (h - 1))
      val cand = frontier.join(und, frontier("node") === und("src"))
        .groupBy(col("dst")).agg(sum(col("sigma")).as("sig"))
      val fresh = cand.join(vis, cand("dst") === vis("node"), "left_anti")
        .select(col("dst").as("node"), lit(h.toLong).as("dist_hops"),
          col("sig").as("sigma"))
      vis = vis.union(fresh).localCheckpoint(true)
    }
    (und, vis)
  }

  /** BETWEENNESS BACKWARD PASS (Brandes' dependency accumulation, run on
    * the multi-source BFS DAG of [[bfsSigmaForward]]) in its EXACT-INTEGER
    * form: per reached node, `psi` = the number of non-empty downward
    * paths from the node in the shortest-path DAG, accumulated over
    * reverse levels by the Brandes recursion ψ(v) = Σ_{w: v∈pred(w)}
    * (1 + ψ(w)), and `stress` = σ(v)·ψ(v) = the number of minimal walks
    * from the seed set that pass THROUGH v on the way to a strictly
    * farther node — Shimbel's stress centrality, the σ-weighted
    * unnormalized member of the betweenness family (Brandes 2008, "On
    * variants of shortest-path betweenness centrality", computes exactly
    * this via the same backward pass). The fractional δ(v) =
    * Σ σ(v)/σ(w)·(1+δ(w)) is the same DAG recursion with a per-edge
    * σ-ratio; the gate pins the integer form so both engines agree
    * bit-for-bit with no float accumulation order to defend (the
    * integer-micro rule every cross-engine stat here follows).
    *
    * Scale shape: the DAG relation is ONE three-way keyed join of the
    * edge table against the level labels (≤ 2k·N rows, checkpointed);
    * each of the H backward rounds is one keyed join of the next level's
    * ψ against the DAG plus a combinable sum — the exact mirror of the
    * forward BFS cost, linear per round at any corpus size, state ≤ N. */
  /** The shortest-path DAG of the BFS forward state: the level-respecting
    * edge subset (src one hop shallower than dst) — built ONCE inside the
    * bfs memo (parquet-materialized, `checkpoint = false`) and scanned by
    * both the stress backward pass and the fractional pair census.
    * ≤ 2k·N rows, one three-way keyed join. */
  private def shortestPathDag(und: DataFrame, vis: DataFrame,
                              checkpoint: Boolean = true): DataFrame = {
    val dag = und
      .join(vis.select(col("node").as("src"), col("dist_hops").as("sl")), "src")
      .join(vis.select(col("node").as("dst"), col("dist_hops").as("dl")), "dst")
      .filter(col("dl") === col("sl") + 1)
      .select(col("src"), col("dst"), col("sl"))
    if (checkpoint) dag.localCheckpoint(true) else dag
  }

  private def graphBetweenness(s: SparkSession, d: String): DataFrame = {
    val (vis, dagE) = sharedBfsSigma(s, d)
    // deepest-possible level seeds the recursion with ψ = 0 (no successors)
    var psiKnown = vis.filter(col("dist_hops") === SsspHops.toLong)
      .select(col("node"), lit(0L).as("psi"))
      .localCheckpoint(true)
    for (h <- (SsspHops - 1) to 0 by -1) {
      val contrib = dagE.filter(col("sl") === h.toLong)
        .join(psiKnown.select(col("node").as("dst"), col("psi").as("wp")), "dst")
        .groupBy(col("src")).agg(sum(col("wp") + lit(1L)).as("psi"))
      val lvlPsi = vis.filter(col("dist_hops") === h.toLong).select(col("node"))
        .join(contrib.select(col("src").as("node"), col("psi")), Seq("node"), "left")
        .select(col("node"), coalesce(col("psi"), lit(0L)).as("psi"))
      psiKnown = psiKnown.union(lvlPsi).localCheckpoint(true)
    }
    vis.join(psiKnown, Seq("node"))
      .select(col("node").as("vec_id"), col("dist_hops"), col("sigma"),
        col("psi"), (col("sigma") * col("psi")).as("stress"))
      .orderBy(col("vec_id"))
  }

  /** CANONICAL (fractional) betweenness on the same memoized DAG — what
    * "betweenness centrality" means to most users, δ(v) = Σ_t
    * σ_st(v)/σ_st (Brandes' dependency of the seed set on v), gated in
    * the integer-micro regime every cross-engine stat here follows:
    * σ_st(v) = σ(v)·cnt(v,t) with cnt(v,t) = the number of downward DAG
    * walks v→t, so each (v,t) pair contributes the exact-integer term
    * (10^6·σ(v)·cnt(v,t)) div σ(t), and `delta_micros` is their sum —
    * term-wise truncating division is the pinned semantics, making both
    * engines bit-identical with zero float accumulation order to defend
    * (σ max 3, cnt ≤ ψ max 138 at sf0.1: ~10^9 per term, far inside
    * BIGINT). The engine computes cnt(v,t) by length-DP over the DAG —
    * per extension round ONE keyed join of the (start, node, cnt) pair
    * relation against the checkpointed DAG edges plus a combinable sum,
    * H rounds — while the oracle enumerates every downward walk as a
    * recursive-CTE row and counts them raw: independent computational
    * paths meeting only at the math.
    *
    * Scale note: the pair relation is Σ_v |DAG-reach(v)| rows — bounded
    * by the seed set's H-hop reach (the whole betweenness family here is
    * seeded, not all-sources), NOT by the corpus; for corpus-wide serving
    * at 100 TB the float Brandes σ-ratio recursion over the same DAG
    * (H keyed joins, O(edges) per round) is the shape to run, traded here
    * for the exactness-auditable census the gate can pin. */
  private def graphBetweennessFrac(s: SparkSession, d: String): DataFrame = {
    val (vis, dagE) = sharedBfsSigma(s, d)
    // length-DP walk counts: level L holds all length-L downward walks as
    // (start, node, cnt) with multiplicity; a walk from level l has length
    // ≤ SsspHops − l, so SsspHops rounds exhaust the DAG (levels strictly
    // increase — the frame just empties early for deeper starts)
    var level = dagE.select(col("src").as("start"), col("dst").as("node"),
      lit(1L).as("cnt")).localCheckpoint(true)
    var pairs = level
    for (_ <- 2 to SsspHops) {
      level = level
        .join(dagE.select(col("src").as("node"), col("dst").as("nxt")), "node")
        .groupBy(col("start"), col("nxt")).agg(sum(col("cnt")).as("cnt"))
        .select(col("start"), col("nxt").as("node"), col("cnt"))
        .localCheckpoint(true)
      pairs = pairs.union(level)
    }
    val cnts = pairs.groupBy(col("start"), col("node")).agg(sum(col("cnt")).as("cnt"))
    val sig = vis.select(col("node"), col("sigma"))
    val delta = cnts
      .join(sig.select(col("node").as("start"), col("sigma").as("sig_v")), "start")
      .join(sig.select(col("node"), col("sigma").as("sig_t")), "node")
      .select(col("start"),
        expr("(1000000L * sig_v * cnt) div sig_t").as("term"),
        (col("sig_v") * col("cnt")).as("vw"))
      .groupBy(col("start"))
      .agg(sum(col("term")).as("delta_micros"), sum(col("vw")).as("vw_sum"))
      // overflow fail-fast (r12 advice): walk counts grow combinatorially
      // in dense DAGs, and the BIGINT-safety of the micro terms was only
      // ARGUED from sf0.1 measurements (cnt ≤ 138). Assert the per-start
      // pre-division mass Σ σ_v·cnt ≤ 8·10¹²: since σ_t ≥ 1 and div
      // truncates, Σ terms ≤ 10⁶·Σ σ_v·cnt ≤ 8·10¹⁸ < 2⁶³ — so a fixture
      // dense enough to overflow RAISES here instead of passing the gate
      // with wrapped values. (vw_sum itself would need to exceed the
      // ceiling by ~10⁶× AND wrap back under it to slip through — not a
      // regime any graph reachable from this census occupies.)
      .select(col("start"),
        expr("""CASE WHEN assert_true(vw_sum <= 8000000000000L,
                  'graph_betweenness_frac: walk-census mass exceeds the BIGINT-safe ceiling (8e12); delta_micros would overflow') IS NULL
                THEN delta_micros END""").as("delta_micros"))
    vis.join(delta.select(col("start").as("node"), col("delta_micros")),
        Seq("node"), "left")
      .select(col("node").as("vec_id"), col("dist_hops"), col("sigma"),
        coalesce(col("delta_micros"), lit(0L)).as("delta_micros"))
      .orderBy(col("vec_id"))
  }

  /** The DuckDB replay of [[graphBetweenness]]: the pathCounts walk
    * enumeration gives dist and σ; the DAG is the level-respecting edge
    * subset; ψ is recomputed INDEPENDENTLY of the backward recursion by
    * enumerating every downward DAG walk per start node with a recursive
    * CTE (acyclic — levels strictly increase — so it terminates without a
    * hop bound) and counting the non-empty ones. */
  private def betweennessOracleSql: String =
    s"""WITH RECURSIVE ${annEdgesCteSql(withLabel = false)},
       |und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)),
       |walks(node, hop) AS (
       |  SELECT vec_id, 0 FROM emb WHERE vec_id < $SsspSources
       |  UNION ALL
       |  SELECT u.dst, w.hop + 1 FROM walks w JOIN und u ON u.src = w.node
       |  WHERE w.hop < $SsspHops),
       |md AS MATERIALIZED (SELECT node, min(hop) AS dist_hops FROM walks GROUP BY node),
       |sig AS MATERIALIZED (
       |  SELECT w.node, CAST(count(*) AS BIGINT) AS sigma
       |  FROM walks w JOIN md m ON m.node = w.node AND w.hop = m.dist_hops
       |  GROUP BY 1),
       |dag AS MATERIALIZED (
       |  SELECT u.src, u.dst FROM und u
       |  JOIN md a ON a.node = u.src JOIN md b ON b.node = u.dst
       |  WHERE b.dist_hops = a.dist_hops + 1),
       |down(start, node) AS (
       |  SELECT node, node FROM md
       |  UNION ALL
       |  SELECT d.start, g.dst FROM down d JOIN dag g ON g.src = d.node),
       |psi AS (SELECT start AS node, CAST(count(*) - 1 AS BIGINT) AS psi
       |        FROM down GROUP BY start)
       |SELECT m.node AS vec_id, CAST(m.dist_hops AS BIGINT) AS dist_hops,
       |       s.sigma, p.psi, s.sigma * p.psi AS stress
       |FROM md m JOIN sig s ON s.node = m.node JOIN psi p ON p.node = m.node
       |ORDER BY vec_id""".stripMargin

  /** The DuckDB recompute of [[graphBetweennessFrac]]: dist and σ from the
    * walk enumeration (as in the stress oracle); cnt(v,t) by enumerating
    * EVERY downward DAG walk as one recursive-CTE row (UNION ALL — raw
    * multiplicity, no DP) and counting per (start, end); then the identical
    * pinned term formula (10^6·σ_v·cnt) // σ_t summed per start. */
  private def betweennessFracOracleSql: String =
    s"""WITH RECURSIVE ${annEdgesCteSql(withLabel = false)},
       |und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)),
       |walks(node, hop) AS (
       |  SELECT vec_id, 0 FROM emb WHERE vec_id < $SsspSources
       |  UNION ALL
       |  SELECT u.dst, w.hop + 1 FROM walks w JOIN und u ON u.src = w.node
       |  WHERE w.hop < $SsspHops),
       |md AS MATERIALIZED (SELECT node, min(hop) AS dist_hops FROM walks GROUP BY node),
       |sig AS MATERIALIZED (
       |  SELECT w.node, CAST(count(*) AS BIGINT) AS sigma
       |  FROM walks w JOIN md m ON m.node = w.node AND w.hop = m.dist_hops
       |  GROUP BY 1),
       |dag AS MATERIALIZED (
       |  SELECT u.src, u.dst FROM und u
       |  JOIN md a ON a.node = u.src JOIN md b ON b.node = u.dst
       |  WHERE b.dist_hops = a.dist_hops + 1),
       |down(start, node) AS (
       |  SELECT src, dst FROM dag
       |  UNION ALL
       |  SELECT d.start, g.dst FROM down d JOIN dag g ON g.src = d.node),
       |cnts AS (SELECT start, node, CAST(count(*) AS BIGINT) AS cnt
       |         FROM down GROUP BY 1, 2),
       |delta AS (
       |  SELECT c.start AS node,
       |         CAST(sum((1000000 * sv.sigma * c.cnt) // st.sigma) AS BIGINT)
       |           AS delta_micros
       |  FROM cnts c
       |  JOIN sig sv ON sv.node = c.start
       |  JOIN sig st ON st.node = c.node
       |  GROUP BY 1)
       |SELECT m.node AS vec_id, CAST(m.dist_hops AS BIGINT) AS dist_hops,
       |       s.sigma, COALESCE(d.delta_micros, CAST(0 AS BIGINT)) AS delta_micros
       |FROM md m JOIN sig s ON s.node = m.node
       |LEFT JOIN delta d ON d.node = m.node
       |ORDER BY vec_id""".stripMargin

  /** The DuckDB replay of [[graphPathCounts]]: UNION ALL walk
    * enumeration (duplicates preserved — each walk is one row) bounded
    * by the hop budget; per node, min(hop) is the distance and the COUNT
    * of rows at that hop is σ, because walks of minimal length are
    * exactly the minimal paths. */
  private def pathCountsOracleSql: String =
    s"""WITH RECURSIVE ${annEdgesCteSql(withLabel = false)},
       |und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)),
       |walks(node, hop) AS (
       |  SELECT vec_id, 0 FROM emb WHERE vec_id < $SsspSources
       |  UNION ALL
       |  SELECT u.dst, w.hop + 1 FROM walks w JOIN und u ON u.src = w.node
       |  WHERE w.hop < $SsspHops),
       |md AS (SELECT node, min(hop) AS dist_hops FROM walks GROUP BY node)
       |SELECT w.node AS vec_id, CAST(m.dist_hops AS BIGINT) AS dist_hops,
       |       CAST(count(*) AS BIGINT) AS sigma
       |FROM walks w JOIN md m ON m.node = w.node AND w.hop = m.dist_hops
       |GROUP BY 1, 2 ORDER BY vec_id""".stripMargin

  /** The recursive min-label flood replaying [[graphComponents]]: a
    * (node, label) pair enters whenever a smaller label reaches a node
    * through the bidirectional edge relation; min per node = the
    * component id. Bounded by Σ per-node smaller-reachable ids (≤ N²/2
    * at the fixture's single-giant-component worst case — fine for
    * DuckDB at gate scale; the engine side never materializes it). */
  private def componentsOracleSql: String =
    s"""WITH RECURSIVE ${annEdgesCteSql(withLabel = false)},
       |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |       FROM edges),
       |bidir AS MATERIALIZED (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
       |comp(node, label) AS (
       |  SELECT vec_id, vec_id FROM emb
       |  UNION
       |  SELECT e.b, c.label FROM comp c JOIN bidir e ON e.a = c.node
       |  WHERE c.label < e.b),
       |lbl AS (SELECT node AS vec_id, min(label) AS component FROM comp GROUP BY node),
       |cs AS (SELECT component, count(*) AS component_size FROM lbl GROUP BY component)
       |SELECT l.vec_id, l.component, c.component_size,
       |       l.vec_id = l.component AS is_root
       |FROM lbl l JOIN cs c USING (component)
       |ORDER BY l.vec_id""".stripMargin

  /** The DuckDB replay of [[annKnnEdges]] as a WITH-fragment ending in an
    * `edges(src, dst)` CTE — the same deterministic ±1-hyperplane codes
    * (pure integer mixing, bit-for-bit both engines), the same CASE-chain
    * adaptive code width, the same bucket cap, the same rounded-cosine
    * top-[[PrK]] re-rank. Spliced into all four graph oracles so the
    * bucketed graph hashes exactly. */
  private def annEdgesCteSql(withLabel: Boolean): String = {
    val bitsCase = (4 until 24)
      .map(b => s"WHEN nvec.n <= ${GraphTargetBucket.toLong * (1L << b)} THEN $b")
      .mkString(" ")
    s"""emb AS (SELECT vec_id,${if (withLabel) " label," else ""}
       |               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |        FROM embeddings),
       |nvec AS (SELECT count(*) AS n FROM emb),
       |bits AS (SELECT CASE $bitsCase ELSE 24 END AS b FROM nvec),
       |sg AS (SELECT t.t, bb.bb, i.i,
       |              CASE WHEN (('0x' || substr(md5(t.t || '_' || bb.bb || '_' || i.i), 1, 1))::INT
       |                         % 2) = 1
       |                   THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS s
       |       FROM generate_series(0, ${GraphTables - 1}) t(t)
       |            CROSS JOIN generate_series(0, 23) bb(bb)
       |            CROSS JOIN generate_series(1, $GraphMaxDim) i(i)),
       |sgl AS (SELECT t, bb, list(s ORDER BY i) AS sl FROM sg GROUP BY 1, 2),
       |bbit AS (SELECT e.vec_id, g.t, g.bb,
       |                CASE WHEN list_sum(list_transform(generate_series(1, len(e.v)),
       |                       i -> g.sl[i] * e.v[i])) >= 0
       |                     THEN CAST(1 AS BIGINT) << g.bb ELSE CAST(0 AS BIGINT) END AS bit
       |         FROM emb e CROSS JOIN bits CROSS JOIN sgl g
       |         WHERE g.bb < bits.b),
       |bk AS (SELECT vec_id, t, CAST(sum(bit) AS BIGINT) AS code FROM bbit GROUP BY 1, 2),
       |okb AS (SELECT t, code FROM bk GROUP BY 1, 2 HAVING count(*) <= $GraphBucketCap),
       |bk2 AS (SELECT bk.vec_id, bk.t, bk.code FROM bk JOIN okb USING (t, code)),
       |pr AS (SELECT vec_id, t,
       |              unnest(list_prepend(code,
       |                list_transform(generate_series(0, bits.b - 1), bb ->
       |                  xor(code, CAST(1 AS BIGINT) << bb)))) AS code
       |       FROM bk2 CROSS JOIN bits),
       |cand AS (SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
       |         FROM pr x JOIN bk2 y ON x.t = y.t AND x.code = y.code
       |                              AND x.vec_id <> y.vec_id),
       |pairs AS (SELECT c.src, c.dst, round(list_cosine_similarity(a.v, b.v), 6) AS cos
       |          FROM cand c JOIN emb a ON a.vec_id = c.src
       |                      JOIN emb b ON b.vec_id = c.dst),
       |edges AS MATERIALIZED (SELECT src, dst, cos
       |          FROM (SELECT src, dst, cos,
       |                       row_number() OVER (PARTITION BY src
       |                                          ORDER BY cos DESC, dst) AS rn
       |                FROM pairs)
       |          WHERE rn <= $PrK)""".stripMargin
    // ^ MATERIALIZED: the unrolled-iteration oracles reference the edge
    // relation through CTE chains DuckDB would otherwise inline once per
    // nesting level — label_prop's doubly-referenced per-round state made
    // that 2^rounds copies of the whole bucketing pipeline (observed
    // 100 GiB OOM at sf0.1). One hint, one evaluation.
  }

  /** The unrolled DuckDB replay of [[graphPagerank]]: same rounded-cosine
    * top-k graph, same [[PrIters]] damped iterations as chained CTEs. */
  private def pagerankOracleSql: String = {
    val iterCtes = (1 to PrIters).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT nodes.vec_id,
         |         (1 - $PrDamping) / nn.n + $PrDamping * coalesce(s.c, 0) AS r
         |  FROM nodes CROSS JOIN nn
         |  LEFT JOIN (SELECT ed.dst, sum(p.r / ed.deg) AS c
         |             FROM r${k - 1} p JOIN edeg ed ON p.vec_id = ed.src
         |             GROUP BY ed.dst) s ON s.dst = nodes.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${annEdgesCteSql(withLabel = false)},
       |edeg AS MATERIALIZED (SELECT src, dst,
       |                CAST(count(*) OVER (PARTITION BY src) AS DOUBLE) AS deg
       |         FROM edges),
       |nodes AS (SELECT vec_id FROM emb),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM emb),
       |r0 AS (SELECT nodes.vec_id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
       |$iterCtes
       |SELECT vec_id, round(r, 6) AS pagerank
       |FROM r$PrIters ORDER BY vec_id""".stripMargin
  }

  /** The unrolled DuckDB replay of [[graphKcore]]: same mutual edge set,
    * [[KcoreRounds]] synchronous peel rounds as chained MATERIALIZED CTEs
    * (each alive set is referenced twice per round — the label_prop
    * inlining-blowup lesson), then the same one-extra-peel convergence
    * evidence. */
  private def kcoreOracleSql: String = {
    val iterCtes = (1 to KcoreRounds).map { i =>
      s"""d$i AS (SELECT adj.node, CAST(count(*) AS BIGINT) AS c
         |      FROM adj JOIN alive${i - 1} s ON adj.node = s.node
         |               JOIN alive${i - 1} t ON adj.nbr = t.node
         |      GROUP BY 1),
         |alive$i AS MATERIALIZED (SELECT node FROM d$i WHERE c >= $KcoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${annEdgesCteSql(withLabel = false)},
       |e AS (SELECT e1.src AS a, e1.dst AS b
       |      FROM edges e1 JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src
       |      WHERE e1.src < e1.dst),
       |adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM e
       |       UNION ALL SELECT b, a FROM e),
       |alive0 AS MATERIALIZED (SELECT DISTINCT node FROM adj),
       |$iterCtes,
       |fin AS MATERIALIZED (SELECT adj.node, CAST(count(*) AS BIGINT) AS c
       |       FROM adj JOIN alive$KcoreRounds s ON adj.node = s.node
       |                JOIN alive$KcoreRounds t ON adj.nbr = t.node
       |       GROUP BY 1),
       |nxt AS (SELECT count(*) AS n FROM fin WHERE c >= $KcoreK),
       |cur AS (SELECT count(*) AS n FROM alive$KcoreRounds)
       |SELECT emb.vec_id,
       |       (a.node IS NOT NULL) AS in_kcore,
       |       CAST(coalesce(f.c, 0) AS BIGINT) AS core_degree,
       |       (SELECT n FROM nxt) = (SELECT n FROM cur) AS converged
       |FROM emb LEFT JOIN alive$KcoreRounds a ON emb.vec_id = a.node
       |LEFT JOIN fin f ON emb.vec_id = f.node
       |ORDER BY vec_id""".stripMargin
  }

  /** The shared unrolled label-prop CTE chain — the same edge set and
    * [[LpIters]] majority-vote rounds, ending at `l$LpIters` (vec_id,
    * label) and the undirected `und` (a, b) edge relation; composed by
    * the label_prop, modularity and conductance oracles exactly as the
    * engines compose [[sharedLpLabels]]. */
  private def lpChainCteSql: String = {
    val iterCtes = (1 to LpIters).map { k =>
      s"""v$k AS (SELECT adj.node, l.label, count(*) AS c
         |      FROM adj JOIN l${k - 1} l ON l.vec_id = adj.nbr GROUP BY 1, 2),
         |w$k AS (SELECT node, label,
         |             row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
         |      FROM v$k),
         |l$k AS MATERIALIZED (SELECT e.vec_id, coalesce(w.label, p.label) AS label
         |       FROM emb e
         |       LEFT JOIN (SELECT node, label FROM w$k WHERE rn = 1) w ON w.node = e.vec_id
         |       JOIN l${k - 1} p ON p.vec_id = e.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""${annEdgesCteSql(withLabel = true)},
       |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
       |adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM und UNION ALL SELECT b, a FROM und),
       |l0 AS (SELECT vec_id, label FROM emb),
       |$iterCtes""".stripMargin
  }

  /** The unrolled DuckDB replay of [[graphLabelProp]]: same edge set, same
    * [[LpIters]] majority-vote rounds as chained CTEs. */
  private def labelPropOracleSql: String =
    s"""WITH $lpChainCteSql
       |SELECT l$LpIters.vec_id, CAST(emb.label AS BIGINT) AS label_in,
       |       CAST(l$LpIters.label AS BIGINT) AS label_out,
       |       emb.label = l$LpIters.label AS unchanged
       |FROM l$LpIters JOIN emb ON emb.vec_id = l$LpIters.vec_id
       |ORDER BY l$LpIters.vec_id""".stripMargin

  /** The DuckDB replay of [[graphModularity]]: the [[lpChainCteSql]]
    * communities, the same labeled undirected edge relation, and the
    * identical pinned term-wise integer-micro arithmetic. */
  private def modularityOracleSql: String =
    s"""WITH $lpChainCteSql,
       |lab AS MATERIALIZED (SELECT vec_id, CAST(label AS BIGINT) AS community FROM l$LpIters),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       |undl AS MATERIALIZED (
       |  SELECT la.community AS ca, lb.community AS cb
       |  FROM und u JOIN lab la ON la.vec_id = u.a JOIN lab lb ON lb.vec_id = u.b),
       |ein AS (SELECT ca AS community, CAST(count(*) AS BIGINT) AS e_in
       |        FROM undl WHERE ca = cb GROUP BY 1),
       |vol AS (SELECT c AS community, CAST(count(*) AS BIGINT) AS deg_sum
       |        FROM (SELECT ca AS c FROM undl UNION ALL SELECT cb FROM undl) GROUP BY 1),
       |nn AS (SELECT community, CAST(count(*) AS BIGINT) AS n_nodes FROM lab GROUP BY 1),
       |terms AS (
       |  SELECT nn.community, nn.n_nodes,
       |         coalesce(ein.e_in, 0) AS e_in,
       |         coalesce(vol.deg_sum, 0) AS deg_sum, mm.m,
       |         CASE WHEN mm.m = 0 THEN NULL
       |              ELSE (1000000 * (4 * mm.m * coalesce(ein.e_in, 0)
       |                    - coalesce(vol.deg_sum, 0) * coalesce(vol.deg_sum, 0)))
       |                   // (4 * mm.m * mm.m) END AS q_term_micros
       |  FROM nn LEFT JOIN ein ON ein.community = nn.community
       |          LEFT JOIN vol ON vol.community = nn.community
       |          CROSS JOIN mm)
       |SELECT community, n_nodes, e_in, deg_sum, m,
       |       CAST(q_term_micros AS BIGINT) AS q_term_micros,
       |       CAST(sum(q_term_micros) OVER () AS BIGINT) AS q_total_micros
       |FROM terms ORDER BY community""".stripMargin

  /** The DuckDB replay of [[graphConductance]]: same communities, same
    * directed labeled edges, same pinned φ integer-micro division. */
  private def conductanceOracleSql: String =
    s"""WITH $lpChainCteSql,
       |lab AS MATERIALIZED (SELECT vec_id, CAST(label AS BIGINT) AS community FROM l$LpIters),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       |dirl AS MATERIALIZED (
       |  SELECT la.community AS ca, lb.community AS cb
       |  FROM (SELECT a, b FROM und UNION ALL SELECT b, a FROM und) d
       |  JOIN lab la ON la.vec_id = d.a JOIN lab lb ON lb.vec_id = d.b),
       |byc AS (SELECT ca AS community, CAST(count(*) AS BIGINT) AS vol,
       |               CAST(sum(CASE WHEN ca <> cb THEN 1 ELSE 0 END) AS BIGINT) AS cut
       |        FROM dirl GROUP BY 1),
       |nn AS (SELECT community, CAST(count(*) AS BIGINT) AS n_nodes FROM lab GROUP BY 1)
       |SELECT nn.community, nn.n_nodes,
       |       coalesce(byc.vol, 0) AS vol,
       |       coalesce(byc.cut, 0) AS cut, mm.m,
       |       CASE WHEN least(coalesce(byc.vol, 0), 2 * mm.m - coalesce(byc.vol, 0)) = 0
       |            THEN NULL
       |            ELSE CAST((1000000 * coalesce(byc.cut, 0))
       |                 // least(coalesce(byc.vol, 0), 2 * mm.m - coalesce(byc.vol, 0)) AS BIGINT)
       |       END AS phi_micros
       |FROM nn LEFT JOIN byc ON byc.community = nn.community CROSS JOIN mm
       |ORDER BY nn.community""".stripMargin

  // -------------------------------------------------------------- corpus mixing
  /** Per-source target quotas for the mixture; sources not listed fall back
    * to [[MixDefaultQuota]]. In production these come from the mixture
    * config (DoReMi / Pile-style domain weights × token budget). */
  private[relational] val MixQuotas = Seq(("src0", 40L), ("src1", 25L), ("src2", 10L), ("src3", 5L))
  private[relational] val MixDefaultQuota = 8L

  /** DOMAIN-MIXTURE sampling — composing a training corpus to target
    * per-source quotas (the Pile/DoReMi recipe step): rank docs inside
    * each source by a content-addressed md5 key (re-runs and retries pick
    * the SAME docs — `rand()` never does) and keep the first `quota`.
    * Entirely string/integer ordering — no float anywhere, so
    * cross-engine parity is exact by construction. One combinable
    * source-partitioned window (sources are the partition key: thousands
    * of docs each, no skew); quotas broadcast. A source with fewer docs
    * than its quota contributes everything it has (rank can't exceed
    * count). */
  private def corpusMix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val quotas = MixQuotas.toDF("source", "quota")
    val w = Window.partitionBy(col("source")).orderBy(col("rk"), col("doc_id"))
    Tables.tbl(s, d, "documents")
      .select(col("doc_id"), col("source"), md5(col("doc_id").cast("string")).as("rk"))
      .join(broadcast(quotas), Seq("source"), "left")
      .withColumn("quota", coalesce(col("quota"), lit(MixDefaultQuota)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= col("quota"))
      .select(col("doc_id"), col("source"), col("rank"))
      .orderBy(col("source"), col("rank"))
  }

  // ---------------------------------------------------------- weighted sample
  /** WEIGHTED sampling without replacement (Efraimidis–Spirakis A-Res):
    * top-50 docs by key = ln(u)/w with w = n_chars and u a deterministic
    * md5-derived uniform — longer documents are proportionally likelier,
    * and the content-addressed u makes the draw reproducible across
    * re-runs/retries. The top-k is `orderBy(key).limit(k)` —
    * TakeOrdered, each partition ships ≤ k candidates, NO global window
    * (the global-sort trap at corpus scale); keys are ranked at 9 dp
    * (cross-engine ln is ≤1 ulp apart; a fixed rounding + doc_id
    * tiebreak pins the order) and displayed at the gate's 6 dp. */
  private def sampleWeighted(s: SparkSession, d: String): DataFrame = {
    val k = 50
    val scored = Tables.tbl(s, d, "documents")
      .select(col("doc_id"), col("n_chars"),
        ((conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("double") + 0.5) / 4294967296.0).as("u"))
      .withColumn("key9", round(log(col("u")) / col("n_chars"), 9))
    scored.orderBy(col("key9").desc, col("doc_id")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("key9").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("n_chars"), round(col("key9"), 6).as("key"))
      .orderBy(col("rank"))
  }

  // ------------------------------------------------------------ raw-file scan
  /** Raw-file ingest via the `binaryFile` source — the landing-zone shape
    * for multimodal data (images/audio arrive as opaque files, not rows):
    * one raw file per document is written in a DISTRIBUTED
    * foreachPartition pass (no driver loop), then read back with
    * `spark.read.format("binaryFile")`, identity-checked by byte length +
    * content md5 against the parquet source. At 100 TB binaryFile's
    * driver-side file listing is the bottleneck — production fronts it
    * with a manifest table and compacts small files into parquet/ORC
    * early (scan_orc is the next stage); this entry exercises the
    * pattern's Spark plumbing end to end. */
  private def scanBinaryfile(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_binscan")
    val dir = tmp.toString
    // the raw landing dir is a CORPUS-SIZED copy (one file per doc) — it
    // must die with the call on all paths (the scanJsonl/scanBucketed
    // discipline; pre-fix this leaked ~20 MB per invocation at sf0.1,
    // i.e. a full corpus copy per run at scale), so the read-back is
    // eagerly materialized before the finally removes the files
    try {
      // Parallel landing write (r17, guide §2.6 idle capacity): the source
      // parquet is a single split at gate scale, so ONE task wrote every
      // .bin file serially (~1.5 s of the query — the dominant phase,
      // measured; per-file create is ~200 µs on this FS). When the scan
      // plans fewer tasks than cores, spread the writers by doc_id with an
      // explicit partition count (AQE would coalesce the KB-scale exchange
      // right back to one). Scale-adaptive: a corpus with >= cores splits
      // keeps its scan layout and pays NO extra shuffle. One subdirectory
      // per writer task keeps any shared landing FS contention-free;
      // doc_id stays in the file NAME, so read-back identity is
      // layout-independent.
      val src = Tables.tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val cores = s.sparkContext.defaultParallelism
      val spread =
        if (src.rdd.getNumPartitions < cores) src.repartition(cores, col("doc_id"))
        else src
      spread
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          val sub = java.nio.file.Paths.get(dir,
            f"p=${org.apache.spark.TaskContext.getPartitionId()}%05d")
          java.nio.file.Files.createDirectories(sub)
          it.foreach { r =>
            java.nio.file.Files.write(
              sub.resolve(f"doc_${r.getLong(0)}%08d.bin"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
      // pathGlobFilter, not a glob in the path: a glob path makes Spark's
      // literal-path probe log a spurious FileNotFoundException before it
      // falls back to glob expansion.
      // Tiny-file split packing (guide §6): the default
      // spark.sql.files.openCostInBytes of 4 MB charges each KB-scale
      // landing file 4 MB when packing splits, capping packing at ~32
      // files per task — a corpus of N tiny files always plans ~N/32 scan
      // tasks (157 at sf0.1) of near-pure open overhead. A 64 KB open
      // cost (generous for one local/NVMe file open; object-store landing
      // zones front this source with a manifest+compaction anyway, per
      // the scaladoc above) packs ~2000 tiny files per 128 MB split, and
      // large files still split by size. Scale-free: task count stays
      // total(size+cost)/maxPartitionBytes at any corpus. Set around this
      // read only, restored in finally.
      val costKey = "spark.sql.files.openCostInBytes"
      val prevCost = s.conf.get(costKey)
      s.conf.set(costKey, (64L * 1024).toString)
      try
        s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
          .option("recursiveFileLookup", "true").load(dir)
          .select(
            regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
            col("length"), md5(col("content")).as("content_md5"))
          .orderBy(col("doc_id"))
          .localCheckpoint(true)
      finally s.conf.set(costKey, prevCost)
    } finally DataPipelineQueries.deleteRecursively(tmp)
  }

  // ----------------------------------------------------- semi-structured JSON
  /** Semi-structured extraction from the `events.props` JSON payload —
    * the only fixture column no operator read until now, and the
    * relational surface's semi-structured gap: SCHEMA-FIRST `from_json`
    * (one parse per row into a typed struct, codegen'd JsonToStructs),
    * never per-field `get_json_object` (which re-parses the payload once
    * per extracted field — at 100 TB the difference is N full JSON parses
    * vs one). The extracted value then behaves like any typed column:
    * bucketed, aggregated, pushed through the usual combinable plan.
    * Malformed payloads surface as NULL (PERMISSIVE) and are filtered —
    * same rule as DuckDB's json_extract on bad input. */
  private def mapJsonExtract(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val e = Tables.events(s, d)
      .withColumn("k",
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))("k"))
    e.filter(col("k").isNotNull)
      .withColumn("k_bucket", expr("k div 10"))
      .groupBy(col("event_type"), col("k_bucket"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("avg_value"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"))
      .orderBy(col("event_type"), col("k_bucket"))
  }

  /** Semi-structured ingestion through Spark 4's VARIANT type — the
    * schema-LESS counterpart of [[mapJsonExtract]]'s schema-first
    * `from_json`: `parse_json` binds the payload ONCE into the binary
    * variant encoding (kept raw, no schema declared at ingest — the
    * lakehouse pattern for evolving event properties), fields bind types
    * at QUERY time via `variant_get`, and `schema_of_variant` audits the
    * observed shapes (the drift detector: a producer adding a field
    * changes the schema fingerprint, not the pipeline). The oracle reads
    * the same field through DuckDB's JSON path and pins the shape audit
    * to the single fingerprint the fixture carries. Plan: one parse per
    * row, then an ordinary combinable aggregate — no per-field re-parse,
    * same discipline as the struct route. */
  private def mapJsonVariant(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        expr("parse_json(props)").as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        expr("schema_of_variant(v)").as("sch"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("k_min"),
        max(col("k")).as("k_max"), sum(col("k")).as("k_sum"),
        countDistinct(col("sch")).as("n_schemas"))
      .orderBy(col("event_type"))

  /** TRANSPOSE — Spark 4's `Dataset.transpose`, the report-shaping
    * primitive that turns a tall per-key stats frame into one row per
    * STATISTIC with a column per key (the orientation dashboards and
    * papers print). Correct usage is driver-sized by definition: the
    * input here is the |types|-row × 4-stat summary (transpose collects
    * the frame — its contract, same as any toPandas-style presentation
    * step; the heavy work stays in the combinable aggregate that
    * produced the summary). The oracle restates the result as one
    * conditional-aggregation row per statistic. */
  private def reshapeTranspose(s: SparkSession, d: String): DataFrame = {
    val stats = Tables.tbl(s, d, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"),
        round(avg(col("value")), 6).as("avg_value"),
        round(min(col("value")), 6).as("min_value"),
        round(max(col("value")), 6).as("max_value"))
    // every non-index cell is a double (count cast), transpose's
    // least-common-type contract
    stats.transpose(col("event_type")).orderBy(col("key"))
  }

  // ------------------------------------------------------------------ funnel
  /** Funnel-completion window (µs): the whole view→click→purchase
    * sequence must fit in 3 days of the first view — sized to the
    * fixture's ~10 h inter-event cadence so all three depths occur. */
  private[relational] val FunnelWindowUs = 3L * 86400000000L

  /** Ordered FUNNEL analysis (view → click → purchase within a window of
    * the first view) — the sequential-pattern operator every product
    * pipeline runs: t1 = first view; t2 = first click at-or-after t1;
    * t3 = first purchase at-or-after t2, all within t1+W. Three
    * conditional min-aggregates chained by user-dimension joins — each
    * stage is one combinable agg + one join on the USER key (the
    * user-dim side is distinct users, orders of magnitude under the
    * fact), so the plan is three cheap stages, not a per-user sort; all
    * math is integer µs, parity exact. Depth = how far the user got. */
  private def windowFunnel(s: SparkSession, d: String): DataFrame = {
    val e = eventsUs(s, d).select(col("user_id"), col("event_type"), col("ts_us"))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t1"))
    val s2 = e.join(s1, "user_id")
      .filter(col("event_type") === "click" &&
        col("ts_us") >= col("t1") && col("ts_us") <= col("t1") + FunnelWindowUs)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t2"))
    val s3 = e.join(s1, "user_id").join(s2, "user_id")
      .filter(col("event_type") === "purchase" &&
        col("ts_us") >= col("t2") && col("ts_us") <= col("t1") + FunnelWindowUs)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t3"))
    e.select(col("user_id")).distinct()
      .join(s1, Seq("user_id"), "left")
      .join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .select(col("user_id"), col("t1"), col("t2"), col("t3"),
        when(col("t3").isNotNull, 3L).when(col("t2").isNotNull, 2L)
          .when(col("t1").isNotNull, 1L).otherwise(0L).as("depth"))
      .orderBy(col("user_id"))
  }

  // ------------------------------------------------------------ quality rules
  /** Gopher-style QUALITY RULES — the published heuristic filter battery
    * (Rae et al. 2021 §A1.1) every pretraining corpus passes through:
    * word count, mean word length, stopword presence, symbol ratio, with
    * a combined pass verdict. All metrics are single-pass regexp counts
    * (codegen'd, no UDF, no explode — the whole battery is one projection
    * over the corpus scan). The fixture's synthetic text is lowercase
    * alphanumeric-free prose, so the symbol axis is degenerate there
    * (always 0 — still asserted, it guards the real-data case); word
    * count and stopword axes both split the fixture (spec-asserted). */
  private def textGopherRules(s: SparkSession, d: String): DataFrame =
    Tables.tbl(s, d, "documents")
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+', 0)")).cast("long").as("n_words"),
        length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("n_letters"),
        size(expr("""filter(regexp_extract_all(lower(text), '[a-z]+', 0),
                     t -> t IN ('the', 'of', 'and', 'to', 'in'))"""))
          .cast("long").as("stop_hits"),
        length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).as("n_symbols"),
        col("n_chars"))
      .select(col("doc_id"), col("n_words"),
        round(col("n_letters").cast("double") / col("n_words"), 6).as("mean_word_len"),
        col("stop_hits"),
        round(col("n_symbols").cast("double") / col("n_chars"), 6).as("symbol_ratio"))
      .withColumn("pass",
        col("n_words") >= 15 && col("mean_word_len").between(3.0, 10.0) &&
          col("stop_hits") >= 1 && col("symbol_ratio") <= 0.1)
      .orderBy(col("doc_id"))

  // ------------------------------------------------------- interval overlap
  /** INTERVAL×INTERVAL overlap join — the remaining temporal-join class
    * after point-in-interval (`join_range`) and as-of: user sessions
    * (30-min gap rule, same derivation the sessionize family pins)
    * matched to incident windows (±1 h around high-value error events)
    * wherever the two intervals OVERLAP. Both sides scatter to the hour
    * buckets they span and meet in an equi-join on the bucket — the
    * standard bounded-fanout interval strategy: incidents cover exactly 3
    * buckets; a session's span is bounded by its event count (it only
    * stays open while gaps < 30 min). A pair sharing several buckets
    * dedupes on its natural key. Mixed-length sides (an interval family
    * with no length bound) would swap in `join_range`'s geometric tiers —
    * same plan, per-tier bucket widths. Inclusive overlap predicate and
    * integer-µs overlap length keep parity exact. */
  private def joinIntervalOverlap(s: SparkSession, d: String): DataFrame = {
    val H = 3600000000L
    val e = eventsUs(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"), col("ts_us"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val prev = lag(col("ts_us"), 1).over(w)
    val sess = e
      .withColumn("new_s",
        when(prev.isNull || col("ts_us") - prev > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts_us")).as("s_start"), max(col("ts_us")).as("s_end"))
    val inc = e.filter(col("event_type") === "error" && col("value") > 200d)
      .select(col("event_id").as("incident_id"),
        (col("ts_us") - H).as("i_start"), (col("ts_us") + H).as("i_end"))
    val sessB = sess.withColumn("bucket",
      explode(sequence(expr(s"s_start div $H"), expr(s"s_end div $H"))))
    val incB = inc.withColumn("bucket",
      explode(sequence(expr(s"i_start div $H"), expr(s"i_end div $H"))))
    sessB.join(incB, "bucket")
      .filter(col("s_start") <= col("i_end") && col("i_start") <= col("s_end"))
      .select(col("user_id"), col("session_idx"), col("incident_id"),
        (least(col("s_end"), col("i_end")) - greatest(col("s_start"), col("i_start")))
          .as("overlap_us"))
      .distinct()
      .orderBy(col("user_id"), col("session_idx"), col("incident_id"))
  }

  // ------------------------------------------------------------ collocations
  /** PMI COLLOCATIONS — the corpus's statistically-bound word pairs
    * (pmi = ln p(ab)/(p(a)p(b)) over adjacent-token bigrams), the classic
    * phrase-mining / tokenizer-diagnostic pass. One posexplode keeps
    * token order; bigrams via a doc-partitioned `lead` (docs are small
    * and many — no skew); unigram and bigram counts are combinable aggs;
    * the two grand totals are 1-row aggregates broadcast into the score.
    * PMI is ROUNDED BEFORE the top-20 ranking (the text_tfidf ulp rule),
    * and the top-k is orderBy+limit — TakeOrdered, no global window. */
  private def textCollocations(s: SparkSession, d: String): DataFrame = {
    val t = Tables.tbl(s, d, "documents")
      .select(col("doc_id"),
        posexplode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
          .as(Seq("ord", "term")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("ord"))
    val cb = t.withColumn("w2", lead(col("term"), 1).over(w))
      .filter(col("w2").isNotNull)
      .groupBy(col("term").as("w1"), col("w2"))
      .agg(count(lit(1)).as("c_ab"))
    val cu = t.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val tot = cb.agg(sum(col("c_ab")).as("n_bi"))
      .crossJoin(cu.agg(sum(col("c")).as("n_uni")))
    cb.join(cu.select(col("term").as("w1"), col("c").as("c_a")), "w1")
      .join(cu.select(col("term").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(tot))
      .filter(col("c_ab") >= 5)
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log((col("c_ab") / col("n_bi")) /
          ((col("c_a") / col("n_uni")) * (col("c_b") / col("n_uni")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
  }

  // --------------------------------------------------------------- retention
  /** COHORT RETENTION matrix — users grouped by first-activity day, then
    * distinct-active counts per (cohort, days-since) cell: the
    * engagement decay table every product dashboard draws. Two
    * combinable aggregates + one join on the user dimension; all
    * integer-day math, parity exact. At 100 TB the distinct count per
    * cell swaps for the HLL sketch (`agg_distinct_sketch`'s shape) —
    * same plan, fixed state. */
  private def aggRetention(s: SparkSession, d: String): DataFrame = {
    val e = eventsUs(s, d)
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
    val cohorts = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
    e.join(cohorts, "user_id")
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort"), col("offset"))
  }

  // -------------------------------------------------------------------- cube
  /** CUBE over (type, day) — all four grouping sets (detail, per-type,
    * per-day, grand) in the same single-scan expand-then-aggregate plan
    * `agg_rollup` pins; the per-day slice is the one rollup can't emit. */
  private def aggCube(s: SparkSession, d: String): DataFrame =
    eventsUs(s, d)
      .withColumn("day", expr("ts_us div 86400000000"))
      .cube(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("avg_value"))
      .orderBy(col("event_type").asc_nulls_last, col("day").asc_nulls_last)

  // ------------------------------------------------------------- correlation
  /** Pairwise CORRELATION of the event types' hourly volumes — the
    * co-movement diagnostic (load coupling, cannibalization). The hourly
    * series are zero-filled on the full hour×type grid first (an inner
    * join of raw counts would silently drop hours one type missed and
    * bias r); the grid is span×types rows — bounded by time, not data.
    * One self-join on the hour key + `corr` (a single streaming
    * co-moment aggregate on both engines), round(6) absorbing
    * accumulation-order fp. */
  private def aggCorr(s: SparkSession, d: String): DataFrame = {
    val e = eventsUs(s, d)
      .select(col("event_type"), expr("ts_us div 3600000000").as("h"))
    val grid = e.select(col("h")).distinct()
      .crossJoin(e.select(col("event_type")).distinct())
    val cnt = e.groupBy(col("h"), col("event_type")).agg(count(lit(1)).as("n"))
    val f = grid.join(cnt, Seq("h", "event_type"), "left")
      .select(col("h"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
    f.select(col("h"), col("event_type").as("type_a"), col("n").as("na"))
      .join(f.select(col("h").as("hb"), col("event_type").as("type_b"), col("n").as("nb")),
        col("h") === col("hb") && col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(round(corr(col("na"), col("nb")), 6).as("r"), count(lit(1)).as("n_hours"))
      .orderBy(col("type_a"), col("type_b"))
  }

  // -------------------------------------------------------- schema evolution
  /** SCHEMA EVOLUTION across parquet batches — the ingest reality this
    * round's fixture drift (VERDICT r7) made policy: producers add
    * columns over time, and a scan must union the schemas instead of
    * failing or silently picking one file's footer. Two partition
    * directories are written with different column sets (batch 0 without
    * `n_chars`, batch 1 with it) and read back under `mergeSchema` — the
    * union schema applies everywhere, absent columns surface as NULL,
    * and the partition column types from the directory name. Without the
    * option Spark trusts ONE footer (whichever file it samples) — the
    * spec pins that the merged read carries all columns. mergeSchema
    * costs a footer-read per file; at 100 TB a table format (Delta/
    * Iceberg) holds the union schema in metadata instead — same
    * semantics, no per-file pass. */
  private def scanSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_evo")
    val dir = tmp.toString
    // same per-call dir lifecycle as scan_binaryfile/scanJsonl (this was
    // the leak audit's second find: the two corpus-projection batches
    // stayed on /tmp after every invocation) — materialize the merged
    // read eagerly, then the finally removes the files
    try {
      val docs = Tables.tbl(s, d, "documents")
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$dir/batch=0")
      docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/batch=1")
      s.read.option("mergeSchema", "true").parquet(dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("batch").cast("long").as("batch"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
    } finally DataPipelineQueries.deleteRecursively(tmp)
  }

  // ------------------------------------------------------ substring dedup
  /** EXACT-SUBSTRING duplicate spans (the Lee et al. 2022 "Deduplicating
    * Training Data" ExactSubstr flavor, at token-10-gram granularity —
    * the dedup class the hash/MinHash/line families can't see: long
    * verbatim passages embedded in otherwise-distinct documents). Every
    * token position emits its 10-gram fingerprint (one ordered explode);
    * grams appearing in >1 document are the duplicated positions (one
    * combinable distinct-count agg + a semi-join on the gram key — the
    * honest shuffle of substring dedup); per doc, consecutive duplicated
    * positions merge into MAXIMAL spans with the islands trick
    * (pos − row_number() is constant exactly on a run). Reference
    * implementations build suffix arrays; gram-chaining is the standard
    * distributed approximation (spans are maximal at gram resolution:
    * endpoints are exact to ±(gram−1) tokens). All integer/string logic,
    * parity exact by construction. */
  private def textDedupSubstring(s: SparkSession, d: String): DataFrame = {
    val gram = 10
    val toks = Tables.tbl(s, d, "documents")
      .select(col("doc_id"), expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("l"))
      .filter(size(col("l")) >= gram)
    // position-explode + plain md5/array_join/slice expressions stay in
    // whole-stage codegen (the earlier transform(..., md5(...)) HOF was
    // CodegenFallback — interpreted per gram), and the gram frame feeds
    // BOTH the duplicate-gram build and the semi-join side, so persist it
    // once instead of hashing every gram twice
    val g2 = toks
      .select(col("doc_id"), explode(expr(s"sequence(0, size(l) - $gram)")).as("pos"), col("l"))
      .select(col("doc_id"), col("pos"),
        expr(s"md5(array_join(slice(l, pos + 1, $gram), ' '))").as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = g2.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1).select(col("gram"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val out = g2.join(dup, Seq("gram"), "left_semi")
      .withColumn("grp", col("pos") - (row_number().over(w) - 1))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + gram).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_grams"))
      .orderBy(col("doc_id"), col("span_start"))
      .localCheckpoint(true)
    g2.unpersist()
    out
  }

  /** TEMPERATURE-RESCALED language mixing (α = 0.5) — the multilingual
    * corpus-balancing step (mBERT/XLM-R exponential smoothing): sampling
    * proportional to `count^α` instead of `count` upweights tail
    * languages (here `en` holds ~44% of docs but ~31% of the α=.5 mix).
    * Where [[corpusMix]] takes explicit per-source quotas, this operator
    * DERIVES quotas from the observed distribution. Exactness by
    * construction: weights are `round(sqrt(n)·1e6)` int64 micro-units and
    * quota = `(K·w) div Σw` in integer arithmetic, so no float sum ever
    * crosses engines; doc selection is the same content-addressed
    * md5-rank as corpusMix (re-runs pick the same docs; a lang with fewer
    * docs than quota contributes everything — rank can't exceed count).
    * Plan: one combinable count, a |langs|-row weight frame broadcast
    * with its 1-row total, one lang-partitioned rank window. */
  private def sampleTemperature(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.tbl(s, d, "documents")
    val w = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w", expr("cast(round(sqrt(cast(n_docs as double)) * 1e6) as long)"))
    val tot = w.agg(sum(col("w")).as("tot"))
    val quotas = w.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), expr("(200 * w) div tot").as("quota"))
    val rw = Window.partitionBy(col("lang")).orderBy(col("rk"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"), md5(col("doc_id").cast("string")).as("rk"))
      .join(broadcast(quotas), Seq("lang"))
      .withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= col("quota"))
      .select(col("lang"), col("n_docs"), col("quota"), col("rank"), col("doc_id"))
      .orderBy(col("lang"), col("rank"))
  }

  /** MERGEABLE-SKETCH distinct counting — the contract that makes
    * count-distinct incremental at 100 TB: per event type, the
    * DataSketches HLL estimate over ALL rows must equal the estimate of
    * the UNION of two independently-built partition sketches (register
    * merge is a max, associativity is exact — the sketch cousin of
    * [[aggIncrementalMerge]]'s integer partials), and the estimate must
    * sit within 5% of the exact count. Emits the verdict grid: the DuckDB
    * oracle recomputes `exact_distinct` and expects both booleans TRUE,
    * so a violated contract is a hash mismatch, not a silent drift. At
    * scale the whole-corpus pass is replaced by storing the per-batch
    * sketches (a |keys|-row table) and re-unioning — never re-scanning.
    * Plan: two combinable sketch aggs + a |types|-row broadcast join. */
  private def aggSketchMerge(s: SparkSession, d: String): DataFrame = {
    val e = Tables.tbl(s, d, "events")
      .select(col("event_type"), col("user_id"), col("event_id"))
    val whole = e.groupBy(col("event_type")).agg(
      hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("whole_est"),
      countDistinct(col("user_id")).as("exact_distinct"))
    val merged = e.withColumn("batch", col("event_id") % 2)
      .groupBy(col("event_type"), col("batch"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("merged_est"))
    whole.join(broadcast(merged), Seq("event_type"))
      .select(col("event_type"), col("exact_distinct"),
        // NOT exact equality: below the dense threshold the sketches are
        // exact and equal, but through the DataSketches mode ladder
        // (coupon list → set → dense HLL) a union's estimate can differ
        // from the whole-corpus sketch's in low digits (observed at
        // sf0.1's 1,500 distinct: both within 5%, not identical) — the
        // mergeability contract is STATISTICAL: merging partials loses
        // (almost) nothing vs scanning whole
        (abs(col("merged_est") - col("whole_est"))
          <= col("exact_distinct").cast("double") * 0.02).as("merge_consistent"),
        (abs(col("whole_est") - col("exact_distinct"))
          <= col("exact_distinct").cast("double") * 0.05
          && abs(col("merged_est") - col("exact_distinct"))
          <= col("exact_distinct").cast("double") * 0.05).as("within_5pct"))
      .orderBy(col("event_type"))
  }

  /** EXACT mergeable distinct counting via the [[graft.functions.BitmapDistinct]]
    * roaring-bitmap aggregate — per event type, distinct users three ways
    * twice: once over the natural input layout and once after a
    * `repartition(day)` re-shuffle — the bitmap aggregate is exact AND
    * mergeable (each partition ships one compressed bitmap, merge =
    * idempotent OR, so a retried partition cannot double-count), which
    * makes it the exact twin of agg_sketch_merge's HLL path, and the
    * equality of the two differently-partitioned runs is the emitted
    * partition-independence verdict the oracle pins to TRUE alongside
    * the exact count. Plan: two map-side-combinable aggregates,
    * |types|-row frames, one broadcastable join. */
  private def aggBitmapDistinct(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    def bd = ColumnBridge.column(graft.functions.BitmapDistinct(
      ColumnBridge.expression(col("user_id"))).toAggregateExpression())
    val e = Tables.eventsTsUs(s, d)
      .select(col("event_type"), col("user_id"),
        expr("ts_us div 86400000000").as("day"))
    val whole = e.groupBy(col("event_type")).agg(bd.as("exact_distinct"))
    // group differently first (by day), then aggregate the SAME ids again
    // — equality proves the result is partitioning-independent
    val byDay = e.repartition(col("day")).groupBy(col("event_type")).agg(bd.as("n2"))
    whole.join(broadcast(byDay), Seq("event_type"))
      .select(col("event_type"), col("exact_distinct"),
        (col("exact_distinct") === col("n2")).as("partition_independent"))
      .orderBy(col("event_type"))
  }

  /** UNPIVOT/melt — the wide→long reshape primitive (the inverse of
    * agg_pivot's long→wide): the four lineitem measures become
    * `(id, metric, value)` rows through Spark's NATIVE `unpivot`
    * operator (an `Expand` in the plan — one generated row per measure
    * per input row, all codegen, zero shuffle until the presentation
    * sort; at 100 TB melt is a map-only pass whose output feeds a
    * combinable per-metric aggregate rather than ever materializing).
    * Values are carried verbatim (no arithmetic), so the hash needs no
    * rounding. */
  private def reshapeUnpivot(s: SparkSession, d: String): DataFrame =
    Tables.tbl(s, d, "lineitem")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric", "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))

  // ------------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "reshape_transpose" -> (reshapeTranspose _),
    "map_json_variant" -> (mapJsonVariant _),
    "reshape_unpivot" -> (reshapeUnpivot _),
    "agg_bitmap_distinct" -> (aggBitmapDistinct _),
    "sample_temperature" -> (sampleTemperature _),
    "agg_sketch_merge" -> (aggSketchMerge _),
    "join_skew_salted" -> (joinSkewSalted _),
    "join_skew_aqe" -> (joinSkewAqe _),
    "agg_rollup" -> (aggRollup _),
    "agg_pivot" -> (aggPivot _),
    "window_moving_avg" -> (windowMovingAvg _),
    "window_lag_delta" -> (windowLagDelta _),
    "ts_resample" -> (tsResample _),
    "embed_quantize_int8" -> (embedQuantizeInt8 _),
    "agg_count_min" -> (aggCountMin _),
    "join_bloom_prune" -> (joinBloomPrune _),
    "merge_upsert" -> (mergeUpsert _),
    "text_tfidf" -> (textTfidf _),
    "agg_histogram" -> (aggHistogram _),
    "sort_zorder" -> (sortZorder _),
    "graph_pagerank" -> (graphPagerank _),
    "graph_triangles" -> (graphTriangles _),
    "graph_clustering_coeff" -> (graphClusteringCoeff _),
    "graph_edge_overlap" -> (graphEdgeOverlap _),
    "sample_hard_negatives" -> (sampleHardNegatives _),
    "ann_edges_persist" -> (annEdgesPersist _),
    "graph_assortativity" -> (graphAssortativity _),
    "graph_kcore" -> (graphKcore _),
    "graph_label_prop" -> (graphLabelProp _),
    "graph_modularity" -> (graphModularity _),
    "graph_conductance" -> (graphConductance _),
    "graph_khop" -> (graphKhop _),
    "graph_knn_recall" -> (graphKnnRecall _),
    "graph_components" -> (graphComponents _),
    "graph_sssp" -> (graphSssp _),
    "graph_path_counts" -> (graphPathCounts _),
    "graph_betweenness" -> (graphBetweenness _),
    "graph_betweenness_frac" -> (graphBetweennessFrac _),
    "graph_knn_classify" -> (graphKnnClassify _),
    "join_point_in_time" -> (joinPointInTime _),
    "agg_incremental_merge" -> (aggIncrementalMerge _),
    "corpus_mix" -> (corpusMix _),
    "sample_weighted" -> (sampleWeighted _),
    "scan_binaryfile" -> (scanBinaryfile _),
    "map_json_extract" -> (mapJsonExtract _),
    "window_funnel" -> (windowFunnel _),
    "text_gopher_rules" -> (textGopherRules _),
    "join_interval_overlap" -> (joinIntervalOverlap _),
    "text_collocations" -> (textCollocations _),
    "agg_retention" -> (aggRetention _),
    "agg_cube" -> (aggCube _),
    "agg_corr" -> (aggCorr _),
    "scan_schema_evolution" -> (scanSchemaEvolution _),
    "text_dedup_substring" -> (textDedupSubstring _),
  )

  /** Base literals plus the *_persist alias: the persist gate serves the
    * family query's exact output from a reloaded artifact, so its oracle
    * is the family SQL verbatim (see DataPipelineQueries.oracle). */
  lazy val oracle: Map[String, String] = oracleBase +
    ("ann_edges_persist" -> oracleBase("sample_hard_negatives"))

  private lazy val oracleBase: Map[String, String] = Map(
    // one conditional-aggregation row per statistic — the restated
    // transpose; generated over the stat × type grid
    "reshape_transpose" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val rows = Seq("avg_value", "max_value", "min_value", "n").map { st =>
        val cols = types.map(t =>
          s"max(CASE WHEN event_type = '$t' THEN $st END) AS $t").mkString(", ")
        s"SELECT '$st' AS key, $cols FROM s"
      }.mkString("\nUNION ALL\n")
      s"""WITH s AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
         |                  round(avg(value), 6) AS avg_value,
         |                  round(min(value), 6) AS min_value,
         |                  round(max(value), 6) AS max_value
         |           FROM events GROUP BY event_type)
         |$rows
         |ORDER BY key""".stripMargin
    },
    // same field through DuckDB's JSON path; the shape audit pinned to
    // the fixture's single fingerprint
    "map_json_variant" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_min,
        |       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max,
        |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |       CAST(1 AS BIGINT) AS n_schemas
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // portable UNION-ALL melt (metric names = source column names, the
    // Spark unpivot convention); values verbatim
    "reshape_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem) t
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    // the bitmap count must equal DuckDB's exact count(distinct); the
    // independence verdict must be TRUE
    "agg_bitmap_distinct" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
        |       TRUE AS partition_independent
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // identical integer micro-unit weights and floor-division quotas;
    // DuckDB's BIGINT sum widens to HUGEINT, hence the quota cast back
    "sample_temperature" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_docs,
        |             CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT) AS w
        |      FROM c),
        |t AS (SELECT sum(w) AS tot FROM w),
        |q AS (SELECT lang, n_docs, CAST((200 * w) // tot AS BIGINT) AS quota
        |      FROM w CROSS JOIN t),
        |r AS (SELECT doc_id, lang,
        |             CAST(row_number() OVER (PARTITION BY lang
        |                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rank
        |      FROM documents)
        |SELECT r.lang, q.n_docs, q.quota, r.rank, r.doc_id
        |FROM r JOIN q USING (lang) WHERE r.rank <= q.quota
        |ORDER BY lang, rank""".stripMargin,
    // the oracle recomputes the exact count and asserts the sketch
    // contract held (merge == whole, estimate within 5%) — FALSE anywhere
    // is a value-hash mismatch
    "agg_sketch_merge" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
        |       TRUE AS merge_consistent, TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // same deterministic hot-key derivation, exact micro-int sums
    "join_skew_aqe" ->
      """WITH f AS (SELECT CASE WHEN event_id % 10 < 8 THEN 0
        |                       ELSE user_id % 50 END AS hot_key, value
        |           FROM events)
        |SELECT hot_key, CAST(count(*) AS BIGINT) AS n,
        |       round(CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS DOUBLE) / 1e6, 6)
        |         AS sum_value
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // the salted join must equal the PLAIN join — salt is plan-internal
    "join_skew_salted" ->
      """WITH dim AS (SELECT event_type, round(avg(value), 6) AS type_avg
        |             FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value, d.type_avg,
        |       round(e.value - d.type_avg, 6) AS diff
        |FROM events e JOIN dim d USING (event_type)
        |ORDER BY e.event_id""".stripMargin,
    "agg_rollup" ->
      """WITH e AS (SELECT event_type,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |                  value
        |           FROM events)
        |SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
        |       round(avg(value), 6) AS avg_value
        |FROM e GROUP BY ROLLUP(event_type, day)
        |ORDER BY event_type NULLS LAST, day NULLS LAST""".stripMargin,
    // conditional aggregation IS the pivot's semantics
    "agg_pivot" ->
      """SELECT user_id,
        |       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
        |       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        |       CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        |       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "window_moving_avg" ->
      """WITH e AS (SELECT event_id, user_id,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
        |           FROM events)
        |SELECT event_id, user_id, ts_us, value,
        |       round(avg(value) OVER w, 6) AS avg_1h,
        |       CAST(count(value) OVER w AS BIGINT) AS n_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "window_lag_delta" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
        |           FROM events)
        |SELECT event_id, user_id, ts_us,
        |       ts_us - lag(ts_us, 1) OVER w AS gap_us,
        |       round(value - lag(value, 1) OVER w, 6) AS value_delta,
        |       lead(event_type, 1) OVER w AS next_type
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |ORDER BY event_id""".stripMargin,
    // fill values are the ROUNDED bucket means, copied verbatim — so the
    // forward-filled rows hash bit-identically
    "ts_resample" ->
      """WITH e AS (SELECT user_id,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bucket,
        |                  value
        |           FROM events),
        |pb AS (SELECT user_id, bucket, round(avg(value), 6) AS v_raw
        |       FROM e GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
        |           FROM pb GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket
        |         FROM bounds),
        |f AS (SELECT g.user_id, g.bucket, pb.v_raw
        |      FROM grid g LEFT JOIN pb USING (user_id, bucket))
        |SELECT user_id, bucket, bucket * 3600000000 AS ts_us,
        |       last_value(v_raw IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY bucket
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
        |       v_raw IS NULL AS is_gap
        |FROM f ORDER BY user_id, bucket""".stripMargin,
    // identical float64 math: scale from the same floats, codes from the
    // same round-half-away rule, error from the same fold
    "embed_quantize_int8" ->
      """WITH e AS (SELECT vec_id,
        |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |           FROM embeddings),
        |s AS (SELECT vec_id, emb,
        |             list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
        |      FROM e)
        |SELECT vec_id, round(scale, 6) AS scale_r,
        |       array_to_string(
        |         CASE WHEN scale = 0 THEN list_transform(emb, x -> '0')
        |              ELSE list_transform(emb,
        |                     x -> CAST(CAST(round(x / scale) AS INTEGER) AS VARCHAR))
        |         END, ',') AS q,
        |       CASE WHEN scale = 0 THEN CAST(0.0 AS DOUBLE)
        |            ELSE round(list_sum(list_transform(emb,
        |                   x -> abs(round(x / scale) * scale - x))) / len(emb), 6)
        |       END AS err
        |FROM s ORDER BY vec_id""".stripMargin,
    // verdict grid: exact counts + the sketch's two contracts as literal
    // TRUE (no-underestimate is deterministic; the eps bound is verified
    // all-true on every fixture SF under the pinned seed)
    "agg_count_min" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact,
        |       TRUE AS no_underestimate, TRUE AS within_eps
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // bloom false negatives are impossible, so pruned+exact ≡ plain semi-join
    "join_bloom_prune" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events
        |WHERE user_id IN (SELECT user_id FROM events
        |                  WHERE event_type = 'purchase' AND value > 200)
        |ORDER BY event_id""".stripMargin,
    // the closed form of the same deterministic change batch: kept rows
    // minus deletes, updates adjusted, inserts appended
    "merge_upsert" ->
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents)
        |SELECT doc_id,
        |       lang,
        |       CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars,
        |       CASE WHEN doc_id % 10 = 0 THEN 'updated' ELSE 'kept' END AS status
        |FROM base WHERE doc_id % 10 <> 5
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, 'xx' AS lang,
        |       CAST(7 AS BIGINT) AS n_chars, 'inserted' AS status
        |FROM base WHERE doc_id % 10 = 1
        |ORDER BY doc_id""".stripMargin,
    // scores rounded BEFORE ranking on both engines (cross-engine ln can
    // differ in the last ulp; round-6 + term tiebreak pins the order)
    "text_tfidf" ->
      """WITH t AS (SELECT doc_id,
        |                  unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        |           FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |scored AS (SELECT doc_id, term, tf, round(tf * ln(n / df), 6) AS tfidf
        |           FROM tf JOIN df USING (term), n),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                                        ORDER BY tfidf DESC, term) AS rank
        |           FROM scored)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, tfidf
        |FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,
    "agg_histogram" ->
      """WITH b AS (SELECT event_type,
        |                  CAST(least(floor(value / 50), 9) AS BIGINT) AS bin
        |           FROM events WHERE value IS NOT NULL),
        |c AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n
        |      FROM b GROUP BY 1, 2)
        |SELECT event_type, bin, n,
        |       round(n / sum(n) OVER (PARTITION BY event_type), 6) AS share
        |FROM c ORDER BY event_type, bin""".stripMargin,
    // the exact Morton interleave, bit for bit
    "sort_zorder" ->
      """WITH e AS (SELECT event_id,
        |                  user_id % 65536 AS u16,
        |                  (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 65536 AS b16
        |           FROM events)
        |SELECT event_id, u16, b16,
        |       CAST(list_sum(list_transform(range(0, 16), i ->
        |         (((u16 >> i) & 1) << (2 * i)) + (((b16 >> i) & 1) << (2 * i + 1))))
        |         AS BIGINT) AS z
        |FROM e ORDER BY z, event_id""".stripMargin,
    // same union-merge assignment: strictly-preceding ignore-nulls frame
    "join_point_in_time" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |u AS (SELECT user_id, ts_us, event_id,
        |             CAST(floor(value / 25.0) AS BIGINT) AS tier,
        |             event_id AS dim_event_id, 0 AS kind
        |      FROM e WHERE event_type = 'signup'
        |      UNION ALL
        |      SELECT user_id, ts_us, event_id, NULL, NULL, 1
        |      FROM e WHERE event_type = 'purchase'),
        |x AS (SELECT user_id, ts_us, event_id, kind,
        |        last_value(tier IGNORE NULLS) OVER w AS active_tier,
        |        last_value(dim_event_id IGNORE NULLS) OVER w AS from_event_id
        |      FROM u
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, ts_us, active_tier, from_event_id,
        |       active_tier IS NOT NULL AS has_dim
        |FROM x WHERE kind = 1 ORDER BY event_id""".stripMargin,
    // the oracle recomputes the FULL aggregate in one pass; exact integer
    // micro-unit sums make partial+partial bit-equal to it
    "agg_incremental_merge" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS DOUBLE) / 1e6, 6)
        |         AS total_r
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "graph_pagerank" -> pagerankOracleSql,
    // same bucketed top-k edges, one hop expansion, distinct, count
    "graph_khop" ->
      s"""WITH ${annEdgesCteSql(withLabel = false)},
         |hop2 AS (SELECT e1.src, e2.dst
         |         FROM edges e1 JOIN edges e2 ON e1.dst = e2.src),
         |reach AS (SELECT DISTINCT src, dst FROM (
         |            SELECT src, dst FROM edges
         |            UNION ALL SELECT src, dst FROM hop2)
         |          WHERE src <> dst)
         |SELECT src AS vec_id, CAST(count(*) AS BIGINT) AS n_reach2,
         |       round(count(*) / $PrK.0, 6) AS expansion
         |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin,
    // same bucketed top-k edge construction as the pagerank oracle,
    // then the identical oriented wedge+closure enumeration
    "graph_triangles" ->
      s"""WITH ${annEdgesCteSql(withLabel = false)},
         |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM e e1 JOIN e e2 ON e1.b = e2.a
         |        WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
         |pern AS (SELECT node, count(*) AS t FROM (
         |           SELECT x AS node FROM tri
         |           UNION ALL SELECT y FROM tri
         |           UNION ALL SELECT z FROM tri)
         |         GROUP BY node)
         |SELECT emb.vec_id, CAST(coalesce(pern.t, 0) AS BIGINT) AS n_triangles
         |FROM emb LEFT JOIN pern ON emb.vec_id = pern.node
         |ORDER BY emb.vec_id""".stripMargin,
    // same undirected edge relation + wedge/closure triangles as the
    // triangles oracle, plus the degree aggregate and the identical
    // integer-micro truncating-division coefficient
    "graph_clustering_coeff" ->
      s"""WITH ${annEdgesCteSql(withLabel = false)},
         |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
         |dg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
         |         SELECT a AS node FROM e UNION ALL SELECT b FROM e)
         |       GROUP BY node),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM e e1 JOIN e e2 ON e1.b = e2.a
         |        WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
         |pern AS (SELECT node, CAST(count(*) AS BIGINT) AS t FROM (
         |           SELECT x AS node FROM tri
         |           UNION ALL SELECT y FROM tri
         |           UNION ALL SELECT z FROM tri)
         |         GROUP BY node)
         |SELECT emb.vec_id,
         |       CAST(coalesce(dg.degree, 0) AS BIGINT) AS degree,
         |       CAST(coalesce(pern.t, 0) AS BIGINT) AS n_triangles,
         |       CAST(CASE WHEN coalesce(dg.degree, 0) >= 2
         |                 THEN (2000000 * coalesce(pern.t, 0))
         |                      // (dg.degree * (dg.degree - 1))
         |                 ELSE 0 END AS BIGINT) AS coeff_micros
         |FROM emb LEFT JOIN dg ON emb.vec_id = dg.node
         |LEFT JOIN pern ON emb.vec_id = pern.node
         |ORDER BY emb.vec_id""".stripMargin,
    // same undirected edges; common neighbors by the wedge self-join,
    // inclusion–exclusion union size, identical truncating division
    "graph_edge_overlap" ->
      s"""WITH ${annEdgesCteSql(withLabel = false)},
         |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
         |adj AS (SELECT a AS node, b AS nbr FROM e UNION ALL SELECT b, a FROM e),
         |dg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY node),
         |cn AS (SELECT x.node AS a, y.node AS b, CAST(count(*) AS BIGINT) AS cn
         |       FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
         |       GROUP BY 1, 2)
         |SELECT e.a AS node_a, e.b AS node_b,
         |       CAST(coalesce(c.cn, 0) AS BIGINT) AS common_neighbors,
         |       da.deg AS deg_a, db.deg AS deg_b,
         |       CAST((1000000 * coalesce(c.cn, 0))
         |            // (da.deg + db.deg - coalesce(c.cn, 0)) AS BIGINT)
         |         AS jaccard_micros
         |FROM e LEFT JOIN cn c ON c.a = e.a AND c.b = e.b
         |JOIN dg da ON da.node = e.a
         |JOIN dg db ON db.node = e.b
         |ORDER BY node_a, node_b""".stripMargin,
    // symmetrized labeled edges; the same all-integer Newman terms and
    // the identical truncating micro-division (negative = disassortative)
    "graph_assortativity" ->
      s"""WITH ${annEdgesCteSql(withLabel = true)},
         |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
         |dir AS (SELECT x.a, x.b, la.label AS la, lb.label AS lb
         |        FROM (SELECT a, b FROM e UNION ALL SELECT b, a FROM e) x
         |        JOIN emb la ON la.vec_id = x.a
         |        JOIN emb lb ON lb.vec_id = x.b),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS m_directed,
         |               CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS e_same
         |        FROM dir),
         |aa AS (SELECT CAST(sum(ai * ai) AS BIGINT) AS sum_a_sq FROM (
         |         SELECT CAST(count(*) AS BIGINT) AS ai FROM dir GROUP BY la))
         |SELECT m_directed, e_same, sum_a_sq,
         |       CASE WHEN m_directed * m_directed = sum_a_sq THEN NULL
         |            ELSE CAST((1000000 * (m_directed * e_same - sum_a_sq))
         |                 // (m_directed * m_directed - sum_a_sq) AS BIGINT)
         |       END AS r_micros
         |FROM tot CROSS JOIN aa""".stripMargin,
    // same directed top-k edge relation WITH labels; different-label
    // filter, identical (cos DESC, id) total order, top-HardNegK
    "sample_hard_negatives" ->
      s"""WITH ${annEdgesCteSql(withLabel = true)},
         |neg AS (SELECT e.src, e.dst, e.cos,
         |               row_number() OVER (PARTITION BY e.src
         |                                  ORDER BY e.cos DESC, e.dst) AS rnk
         |        FROM edges e
         |        JOIN emb a ON a.vec_id = e.src
         |        JOIN emb b ON b.vec_id = e.dst
         |        WHERE a.label <> b.label)
         |SELECT src AS vec_id, dst AS neg_id, cos AS cos_r,
         |       CAST(rnk AS BIGINT) AS rank
         |FROM neg WHERE rnk <= $HardNegK
         |ORDER BY vec_id, rank""".stripMargin,
    "graph_kcore" -> kcoreOracleSql,
    "graph_label_prop" -> labelPropOracleSql,
    "graph_modularity" -> modularityOracleSql,
    "graph_conductance" -> conductanceOracleSql,
    "graph_components" -> componentsOracleSql,
    // same weighted edge relation, bounded walk enumeration + lex argmin
    "graph_sssp" -> ssspOracleSql,
    // unweighted walk enumeration WITH duplicates: min hop + row count
    "graph_path_counts" -> pathCountsOracleSql,
    "graph_betweenness" -> betweennessOracleSql,
    "graph_betweenness_frac" -> betweennessFracOracleSql,
    "graph_knn_classify" -> knnClassifyOracleSql,
    // bounded exact leg (probe nodes only) vs the bucketed edges, both
    // replayed exactly — recall is a VALUE here, not just a verdict
    "graph_knn_recall" ->
      s"""WITH ${annEdgesCteSql(withLabel = false)},
         |ex AS (SELECT src, dst FROM (
         |         SELECT a.vec_id AS src, b.vec_id AS dst,
         |                row_number() OVER (PARTITION BY a.vec_id
         |                  ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
         |                           b.vec_id) AS rn
         |         FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
         |         WHERE a.vec_id < $RecallSample)
         |       WHERE rn <= $PrK)
         |SELECT ex.src AS vec_id, CAST(count(*) AS BIGINT) AS n_exact,
         |       CAST(sum(CASE WHEN e.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |       round(sum(CASE WHEN e.src IS NOT NULL THEN 1 ELSE 0 END)
         |             * 1.0 / count(*), 6) AS recall
         |FROM ex LEFT JOIN edges e ON e.src = ex.src AND e.dst = ex.dst
         |GROUP BY ex.src ORDER BY vec_id""".stripMargin,
    // pure string/integer ordering — parity is exact by construction
    "corpus_mix" ->
      s"""WITH quotas(source, quota) AS (VALUES ${MixQuotas.map {
            case (src, q) => s"('$src', CAST($q AS BIGINT))" }.mkString(", ")}),
        |d AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS rk FROM documents),
        |r AS (SELECT doc_id, source,
        |             CAST(row_number() OVER (PARTITION BY source
        |                                     ORDER BY rk, doc_id) AS BIGINT) AS rank
        |      FROM d)
        |SELECT doc_id, source, rank
        |FROM r LEFT JOIN quotas USING (source)
        |WHERE rank <= coalesce(quota, $MixDefaultQuota)
        |ORDER BY source, rank""".stripMargin,
    // same md5-derived uniform, same 9-dp ranking key, 6-dp display
    "sample_weighted" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |                  (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |                   + 0.5) / 4294967296.0 AS u
        |           FROM documents),
        |s AS (SELECT doc_id, n_chars, round(ln(u) / n_chars, 9) AS key9 FROM d),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY key9 DESC, doc_id) AS BIGINT) AS rank
        |      FROM s)
        |SELECT rank, doc_id, n_chars, round(key9, 6) AS key
        |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin,
    // the files' bytes are the docs' utf-8 bytes: length and md5 must
    // round-trip (the corpus is ascii, so n_chars IS the byte length)
    "scan_binaryfile" ->
      """SELECT doc_id, n_chars AS length, md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "map_json_extract" ->
      """WITH j AS (SELECT event_type, value,
        |                  CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |           FROM events)
        |SELECT event_type, k // 10 AS k_bucket, CAST(count(*) AS BIGINT) AS n,
        |       round(avg(value), 6) AS avg_value, min(k) AS k_min, max(k) AS k_max
        |FROM j WHERE k IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same three chained conditional-min stages, all integer microseconds
    "window_funnel" ->
      s"""WITH e AS (SELECT user_id, event_type,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts_us) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts_us >= s1.t1
        |         AND e.ts_us <= s1.t1 + $FunnelWindowUs GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts_us) AS t3
        |       FROM e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts_us >= s2.t2
        |         AND e.ts_us <= s1.t1 + $FunnelWindowUs GROUP BY 1)
        |SELECT u.user_id, s1.t1, s2.t2, s3.t3,
        |       CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
        |                 WHEN s2.t2 IS NOT NULL THEN 2
        |                 WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS depth
        |FROM (SELECT DISTINCT user_id FROM e) u
        |LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // identical regexp counts; DuckDB needs the 'g' flag where Spark's
    // regexp_replace is global by default
    "text_gopher_rules" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_words,
        |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_letters,
        |    CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
        |         t -> t IN ('the', 'of', 'and', 'to', 'in'))) AS BIGINT) AS stop_hits,
        |    length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_symbols,
        |    n_chars
        |  FROM documents)
        |SELECT doc_id, n_words,
        |       round(n_letters * 1.0 / n_words, 6) AS mean_word_len,
        |       stop_hits,
        |       round(n_symbols * 1.0 / n_chars, 6) AS symbol_ratio,
        |       (n_words >= 15 AND mean_word_len BETWEEN 3.0 AND 10.0
        |        AND stop_hits >= 1 AND symbol_ratio <= 0.1) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,
    // direct nested overlap join — the bucket scatter is plan-internal
    "join_interval_overlap" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |g AS (SELECT user_id, ts_us, event_id,
        |             CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000
        |                    OR lag(ts_us) OVER w IS NULL
        |                  THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (SELECT user_id,
        |             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
        |               AS BIGINT) AS session_idx,
        |             ts_us
        |      FROM g),
        |sess AS (SELECT user_id, session_idx, min(ts_us) AS s_start, max(ts_us) AS s_end
        |         FROM s GROUP BY 1, 2),
        |inc AS (SELECT event_id AS incident_id, ts_us - 3600000000 AS i_start,
        |               ts_us + 3600000000 AS i_end
        |        FROM e WHERE event_type = 'error' AND value > 200)
        |SELECT sess.user_id, sess.session_idx, inc.incident_id,
        |       least(sess.s_end, inc.i_end) - greatest(sess.s_start, inc.i_start) AS overlap_us
        |FROM sess JOIN inc ON sess.s_start <= inc.i_end AND inc.i_start <= sess.s_end
        |ORDER BY user_id, session_idx, incident_id""".stripMargin,
    // DuckDB 1.0 has no WITH ORDINALITY; lockstep unnest of the token
    // list and its index range replays posexplode exactly
    "text_collocations" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS l
        |              FROM documents),
        |t AS (SELECT doc_id, unnest(l) AS term, unnest(range(len(l))) AS ord FROM toks),
        |b AS (SELECT term AS w1,
        |             lead(term) OVER (PARTITION BY doc_id ORDER BY ord) AS w2 FROM t),
        |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
        |       FROM b WHERE w2 IS NOT NULL GROUP BY 1, 2),
        |cu AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
        |tot AS (SELECT (SELECT sum(c_ab) FROM cb) AS n_bi,
        |               (SELECT sum(c) FROM cu) AS n_uni)
        |SELECT w1, w2, c_ab,
        |       round(ln((c_ab / n_bi) / ((a.c / n_uni) * (b2.c / n_uni))), 6) AS pmi
        |FROM cb JOIN cu a ON cb.w1 = a.term JOIN cu b2 ON cb.w2 = b2.term, tot
        |WHERE c_ab >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,
    "agg_retention" ->
      """WITH e AS (SELECT user_id,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |           FROM events),
        |c AS (SELECT user_id, min(day) AS cohort FROM e GROUP BY 1)
        |SELECT c.cohort, e.day - c.cohort AS offset,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "agg_cube" ->
      """WITH e AS (SELECT event_type,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |                  value
        |           FROM events)
        |SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
        |       round(avg(value), 6) AS avg_value
        |FROM e GROUP BY CUBE(event_type, day)
        |ORDER BY event_type NULLS LAST, day NULLS LAST""".stripMargin,
    "agg_corr" ->
      """WITH e AS (SELECT event_type,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h
        |           FROM events),
        |hours AS (SELECT DISTINCT h FROM e), types AS (SELECT DISTINCT event_type FROM e),
        |grid AS (SELECT h, event_type FROM hours CROSS JOIN types),
        |cnt AS (SELECT h, event_type, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |f AS (SELECT g.h, g.event_type, coalesce(cnt.n, 0) AS n
        |      FROM grid g LEFT JOIN cnt USING (h, event_type))
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |       round(corr(a.n, b.n), 6) AS r, CAST(count(*) AS BIGINT) AS n_hours
        |FROM f a JOIN f b ON a.h = b.h AND a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // closed form of the two-batch union: odd docs carry n_chars, even
    // docs surface it as NULL, batch = the partition the row landed in
    "scan_schema_evolution" ->
      """SELECT doc_id, lang,
        |       CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars,
        |       CAST(doc_id % 2 AS BIGINT) AS batch
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same gram fingerprints (1-based inclusive list slice = Spark's
    // slice(l, i+1, 10)), same islands merge
    "text_dedup_substring" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS l
        |              FROM documents WHERE len(regexp_extract_all(lower(text), '[a-z]+')) >= 10),
        |g2 AS (SELECT doc_id, unnest(range(len(l) - 9)) AS pos,
        |              unnest(list_transform(range(len(l) - 9),
        |                     i -> md5(array_to_string(l[i+1:i+10], ' ')))) AS gram
        |       FROM toks),
        |dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
        |dpos AS (SELECT doc_id, pos FROM g2 WHERE gram IN (SELECT gram FROM dup)),
        |i AS (SELECT doc_id, pos,
        |             pos - (row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1) AS grp
        |      FROM dpos)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 10 AS span_end,
        |       CAST(count(*) AS BIGINT) AS n_grams
        |FROM i GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin,
  )
}
