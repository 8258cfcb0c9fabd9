package graft.relational

import java.nio.file.Path

import graft.core.SessionMemo.withTempDir
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series analytics and corpus-operations wave: rolling z-score
  * anomaly flags, OHLC downsampling, truncated exponential moving
  * averages, linear gap interpolation, edit-distance fuzzy dedup,
  * deterministic train/val/test splits, decile profiling, small-file
  * compaction, and distribution-moment statistics.
  *
  * The reference's detection loop consumes evenly-sampled per-entity
  * series (patternly detection.py:81-124 assumes one aligned sequence per
  * row and its notebooks resample/clean driver-side in pandas before
  * `fit`); these operators are the distributed versions of that
  * preparation plus the corpus-ops a production deployment runs around it.
  * Conventions match [[RelationalQueries]]/[[AnalyticsQueries]]: floats
  * `round(x, 6)` (or wider where the value is a ratio of large sums —
  * noted per query), counts BIGINT, total ORDER BY, identical aliases in
  * the Spark plan and the DuckDB oracle, and any value feeding a
  * comparison or rank is rounded BEFORE the comparison so a last-ulp
  * engine difference can't flip a flag.
  */
object SeriesQueries {

  private def eventsUs(s: SparkSession, d: String): DataFrame = Tables.eventsTsUs(s, d)
  private def docsT(s: SparkSession, d: String): DataFrame = Tables.tbl(s, d, "documents")

  // ----------------------------------------------------- rolling z-score anomaly
  /** Rolling z-score anomaly detection: each event scored against the
    * trailing 20 events of ITS OWN user (frame excludes the current row —
    * a point must not dilute its own baseline), flagged when |z| > 3 with
    * at least 5 baseline points. One exchange on user_id + one sort; the
    * frame is ROWS-bounded so state per row is O(20) regardless of data
    * scale. mean/std are rounded to 6 dp FIRST and z computed from the
    * rounded values, so both engines divide bit-identical operands and the
    * flag (compared on the 4-dp-rounded z) cannot flip on accumulation
    * order. The streaming twin of this shape is `stream_fit_predict`;
    * this is the batch/backfill form. */
  private def tsAnomalyZscore(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-20, -1)
    val base = col("n_base") >= 5 && col("std_r") > 0
    eventsUs(s, d).filter(col("value").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"),
        count(col("value")).over(w).as("n_base"),
        round(avg(col("value")).over(w), 6).as("mean_r"),
        round(stddev_samp(col("value")).over(w), 6).as("std_r"))
      // + 0.0 normalizes IEEE −0 (a tiny negative z rounding to zero kept
      // its sign on one engine and not the other — sf0.1 sweep finding)
      .withColumn("z", when(base, round((col("value") - col("mean_r")) / col("std_r"), 4) + lit(0.0)))
      .withColumn("is_anomaly", coalesce(when(base, abs(col("z")) > 3.0), lit(false)))
      .orderBy(col("event_id"))
  }

  // ------------------------------------------------------------- OHLC downsample
  /** Hourly open/high/low/close bars per event type — the canonical
    * time-series downsample. Open/close are `min_by`/`max_by` over the
    * deterministic (ts_us, event_id) struct order, so the whole bar is ONE
    * map-side-combinable hash aggregate: no window, no second pass, and
    * at 100 TB the partial aggregation collapses each (type, hour) to a
    * single row per map task before the exchange. Values are copied, not
    * recomputed, so open/high/low/close hash exactly; only the volume sum
    * is rounded. */
  private def tsOhlc(s: SparkSession, d: String): DataFrame =
    eventsUs(s, d).filter(col("value").isNotNull)
      .withColumn("bucket", expr("ts_us div 3600000000"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min_by(col("value"), struct(col("ts_us"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts_us"), col("event_id"))).as("close"),
        round(sum(col("value")), 6).as("volume"))
      .orderBy(col("event_type"), col("bucket"))

  // --------------------------------------------------- truncated EWMA smoothing
  /** Exponentially-weighted moving average per user, truncated at K=20
    * lags (α = 0.3 ⇒ the dropped tail carries 0.7²⁰ ≈ 8·10⁻⁴ of the
    * weight). The exact recurrence ewmaᵢ = α·vᵢ + (1−α)·ewmaᵢ₋₁ is
    * inherently sequential — distributing it needs either a per-key
    * sorted mapPartitions scan or the overflow-prone pow(1/(1−α), rn)
    * prefix trick; the K-truncated form instead stays a pure window plan:
    * collect the ROWS frame, weight it with codegen'd higher-order
    * functions (`zip_with` + `aggregate` — no UDF), and normalize by the
    * closed-form weight sum (1−0.7ⁿ)/0.3. One exchange + one sort, O(K)
    * state per row, identical at any scale. */
  private def tsEwma(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-19, 0)
    eventsUs(s, d).filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("value"),
        collect_list(col("value")).over(w).as("vs"))
      .withColumn("ewma", expr(
        """round(
          |  aggregate(
          |    zip_with(vs, sequence(1, size(vs)),
          |             (v, j) -> v * power(0.7D, cast(size(vs) - j AS DOUBLE))),
          |    0D, (acc, x) -> acc + x)
          |  / ((1.0D - power(0.7D, cast(size(vs) AS DOUBLE))) / 0.3D), 6)""".stripMargin))
      .drop("vs")
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  // ------------------------------------------------------- linear interpolation
  /** Gap-fill onto the 1-hour grid with LINEAR interpolation between the
    * surrounding observed buckets (edges extend flat) — the companion to
    * `ts_resample`'s forward fill, and the alignment the reference's
    * evenly-sampled-series assumption actually wants when sensors drop
    * out. Same scale shape as ts_resample: combinable bucket means, a
    * `sequence()` grid explode bounded by time-span (not event count),
    * then TWO ignore-nulls windows (previous/next observed value+bucket)
    * over one exchange. Bucket means are rounded BEFORE interpolating, so
    * both engines interpolate identical operands against exact integer
    * bucket distances — the interpolated value is bit-identical before
    * its final round. That final round is written as
    * `floor(x·10⁶ + 0.5)/10⁶` rather than `round(x, 6)`: a midpoint
    * interpolation of two 6-dp values lands EXACTLY on a 7-digit decimal
    * half, where Spark (shortest-decimal HALF_UP) and DuckDB (binary
    * round) disagree on the same bits; floor of identical doubles is
    * identical everywhere (values are non-negative here, so half-up ≡
    * half-away). */
  private def tsInterpolate(s: SparkSession, d: String): DataFrame = {
    val pb = eventsUs(s, d).filter(col("value").isNotNull)
      .withColumn("bucket", expr("ts_us div 3600000000"))
      .groupBy(col("user_id"), col("bucket"))
      .agg(round(avg(col("value")), 6).as("v_raw"))
    val grid = pb.groupBy(col("user_id"))
      .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      .select(col("user_id"), explode(sequence(col("b0"), col("b1"))).as("bucket"))
    val wp = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wn = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
      .rowsBetween(0, Window.unboundedFollowing)
    grid.join(pb, Seq("user_id", "bucket"), "left")
      .select(col("user_id"), col("bucket"),
        (col("bucket") * lit(3600000000L)).as("ts_us"),
        col("v_raw").isNull.as("is_gap"),
        col("v_raw"),
        last(col("v_raw"), ignoreNulls = true).over(wp).as("pv"),
        last(when(col("v_raw").isNotNull, col("bucket")), ignoreNulls = true).over(wp).as("pbk"),
        first(col("v_raw"), ignoreNulls = true).over(wn).as("nv"),
        first(when(col("v_raw").isNotNull, col("bucket")), ignoreNulls = true).over(wn).as("nbk"))
      .withColumn("v",
        floor((when(col("v_raw").isNotNull, col("v_raw"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            (col("bucket") - col("pbk")).cast("double") /
            (col("nbk") - col("pbk")).cast("double"))) * lit(1e6) + lit(0.5)) / lit(1e6))
      .select(col("user_id"), col("bucket"), col("ts_us"), col("is_gap"), col("v"))
      .orderBy(col("user_id"), col("bucket"))
  }

  // --------------------------------------------------------- fuzzy (edit) dedup
  /** Bucket cap for the fuzzy-dedup blocks — same role as the caps in
    * dedup_minhash/dedup_simhash: no block may quadratically explode. */
  private[relational] val FuzzyBlockCap = 50

  /** Edit-distance near-duplicate pairs: docs blocked by (lang, 20-char
    * length bucket, 8-char prefix signature), pairs WITHIN a block
    * compared by Levenshtein distance over the normalized 80-char prefix,
    * kept at distance ≤ 5. Blocking bounds the quadratic stage: blocks are
    * capped at [[FuzzyBlockCap]] docs (cap and filter both deterministic,
    * replicated by the oracle), so the self-join fans out ≤ cap× and the
    * O(p²)-per-pair edit distance runs on fixed 80-char operands, never
    * full documents. At 100 TB the standard recall patch for boundary
    * misses (a near-dup pair straddling a length-bucket edge) is a second
    * pass with offset buckets; the block shape and cost are identical.
    * Levenshtein here is codegen'd (`functions.levenshtein`), no UDF. */
  private def dedupFuzzy(s: SparkSession, d: String): DataFrame = {
    val dd = docsT(s, d).select(col("doc_id"), col("lang"),
      substring(col("text"), 1, 80).as("prefix"),
      substring(col("text"), 1, 8).as("sig"),
      expr("n_chars div 20").as("lb"))
    val keys = dd.groupBy(col("lang"), col("lb"), col("sig"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn").between(2, FuzzyBlockCap))
      .select(col("lang"), col("lb"), col("sig"))
    val k = dd.join(keys, Seq("lang", "lb", "sig"))
    val a = k.select(col("lang"), col("lb"), col("sig"),
      col("doc_id").as("doc_a"), col("prefix").as("pa"))
    val b = k.select(col("lang"), col("lb"), col("sig"),
      col("doc_id").as("doc_b"), col("prefix").as("pb"))
    a.join(b, Seq("lang", "lb", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("dist", levenshtein(col("pa"), col("pb")).cast("long"))
      .filter(col("dist") <= 5)
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------------------ train/val/test split
  /** Deterministic 80/10/10 train/val/test assignment: the split key is a
    * content-addressed md5 bucket of doc_id, so re-runs, task retries, and
    * incremental corpus additions all land every document in the SAME
    * split — the property `rand()` splits lack and leakage audits require.
    * Zero shuffles: one codegen'd projection (the presentation ORDER BY is
    * gate-only). Stratification is implicit (the hash is independent of
    * source/lang, so proportions hold per stratum in expectation); the
    * exact-quota variant is `corpus_mix`. */
  private def sampleSplit(s: SparkSession, d: String): DataFrame =
    docsT(s, d).select(col("doc_id"), col("source"),
      (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long") % 100)
        .as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test"))
      .select(col("doc_id"), col("source"), col("split"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------ decile profile
  /** Decile profile of document length: ntile(10) over the deterministic
    * (n_chars, doc_id) order, then per-decile count/min/max/mean — the
    * length-distribution report a corpus audit starts from. NOTE the
    * global ntile is a single-partition sort by construction; at 100 TB
    * the same report comes from `approx_percentile` cut points (the
    * `agg_quantiles` plan) with a broadcast bucket join — this exact form
    * exists because ntile's equal-COUNT buckets (not equal-range) are the
    * audit semantic and are oracle-checkable bit-for-bit. */
  private def windowNtile(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("n_chars"), col("doc_id"))
    docsT(s, d).select(col("doc_id"), col("n_chars"), ntile(10).over(w).as("decile"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(avg(col("n_chars")), 6).as("avg_chars"))
      .select(col("decile").cast("long").as("decile"), col("n"),
        col("min_chars"), col("max_chars"), col("avg_chars"))
      .orderBy(col("decile"))
  }

  // -------------------------------------------------------- small-file compact
  /** Target compacted file size. Tiny here so the fixture demonstrably
    * compacts 64 shards into a handful of files; production uses 128 MiB–
    * 1 GiB per file. */
  private[relational] val CompactTargetBytes = 256L * 1024

  private[relational] def parquetParts(s: SparkSession, dir: String): Array[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(f => f.getPath.getName.startsWith("part-") && f.getPath.getName.endsWith(".parquet"))
  }

  /** Small-file compaction — the maintenance pass every streaming or
    * fine-grained-partitioned landing zone needs: thousands of KB-sized
    * parquet files (here: a 64-way scatter write) are rewritten into
    * ceil(bytes / target) right-sized files, and the result re-read and
    * aggregated per source. The oracle checks LOSSLESSNESS (per-source
    * counts, distinct ids, and char totals equal the original table); the
    * file-count collapse itself is spec-asserted. At 100 TB this is the
    * difference between a scan scheduling 10⁶ tasks of 100 KB and 10³
    * tasks of 128 MB — NameNode/listing pressure and task overhead both
    * drop three orders of magnitude; the repartition is one round-robin
    * exchange sized by the measured input bytes, never a collect. */
  private def compactSmallFiles(s: SparkSession, d: String): DataFrame =
    withTempDir("compact") { tmp =>
      docsT(s, d).repartition(64).write.mode("overwrite").parquet(s"$tmp/small")
      val bytes = parquetParts(s, s"$tmp/small").map(_.getLen).sum
      val nOut = math.max(1, math.ceil(bytes.toDouble / CompactTargetBytes).toInt)
      s.read.parquet(s"$tmp/small").repartition(nOut)
        .write.mode("overwrite").parquet(s"$tmp/compact")
      s.read.parquet(s"$tmp/compact")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("doc_id")).as("n_distinct"))
        .orderBy(col("source"))
        .localCheckpoint(true)
    }

  // -------------------------------------------------------- distribution moments
  /** Higher distribution moments per return flag: population std, skewness
    * g₁ = m₃/m₂^1.5, excess kurtosis g₂ = m₄/m₂² − 3 — the shape stats a
    * drift monitor tracks beyond mean/variance. TWO passes by design: the
    * mean is computed, ROUNDED to 6 dp, broadcast back, and the central
    * powers taken against the rounded mean — single-pass raw power sums
    * (Σx⁴ etc.) suffer catastrophic cancellation at mean≫std and would
    * hash-diverge between engines; centering first keeps every term
    * O(std⁴) and the engine difference below the output rounding
    * (skew/kurt at 5 dp, std at 4 dp — these are ratios of large sums, so
    * 6 dp would sit inside fp noise at 100-TB row counts). Both passes are
    * map-side-combinable aggregates; the mean frame (|flags| rows) is
    * broadcast. */
  private def aggMoments(s: SparkSession, d: String): DataFrame = {
    val li = Tables.tbl(s, d, "lineitem")
    val m = li.groupBy(col("l_returnflag").as("flag"))
      .agg(round(avg(col("l_extendedprice")), 6).as("mean_r"))
    val dev = col("l_extendedprice") - col("mean_r")
    li.join(broadcast(m), li("l_returnflag") === m("flag"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"), first(col("mean_r")).as("mean_r"),
        sum(pow(dev, 2)).as("s2"), sum(pow(dev, 3)).as("s3"), sum(pow(dev, 4)).as("s4"))
      .select(col("flag"), col("n"), col("mean_r"),
        round(sqrt(col("s2") / col("n")), 4).as("std_pop"),
        round((col("s3") / col("n")) / pow(col("s2") / col("n"), 1.5), 5).as("skewness"),
        round((col("s4") / col("n")) / pow(col("s2") / col("n"), 2) - 3, 5).as("kurtosis"))
      .orderBy(col("flag"))
  }

  // -------------------------------------------------------------- autocorrelation
  /** Maximum autocorrelation lag (hours). */
  private[relational] val AcorrMaxLag = 6

  /** Lag-k autocorrelation (k = 1..[[AcorrMaxLag]]) of the hourly event
    * volume per type — the periodicity detector (a daily-cycle signal
    * shows r rising toward lag 24; white noise stays near 0). The series
    * is ZERO-FILLED on the observed-hour grid first (an hour where SOME
    * type fired but this one didn't is a real zero-volume observation —
    * skipping it would silently correlate non-adjacent hours; at
    * production rates the grid is dense), then each lag is an equi-join
    * of the series to
    * itself shifted by k: a ≤[[AcorrMaxLag]]-fold bounded fan-out on the
    * (type, hour) key, all combinable aggregates. Same grid construction
    * as agg_corr (which correlates ACROSS types; this correlates a type
    * with its own past). Pearson r via `corr` rounded to 6 dp. */
  private def tsAutocorr(s: SparkSession, d: String): DataFrame = {
    val e = eventsUs(s, d).select(col("event_type"), expr("ts_us div 3600000000").as("h"))
    val grid = e.select(col("h")).distinct()
      .crossJoin(e.select(col("event_type")).distinct())
    val cnt = e.groupBy(col("h"), col("event_type")).agg(count(lit(1)).as("n"))
    val f = grid.join(cnt, Seq("h", "event_type"), "left")
      .select(col("h"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
    val lags = s.range(1, AcorrMaxLag + 1L).select(col("id").as("lag"))
    f.select(col("event_type"), col("h"), col("n").as("na"))
      .crossJoin(broadcast(lags))
      .join(f.select(col("event_type").as("tb"), col("h").as("hb"), col("n").as("nb")),
        col("tb") === col("event_type") && col("hb") === col("h") + col("lag"))
      .groupBy(col("event_type"), col("lag"))
      .agg(round(corr(col("na"), col("nb")), 6).as("r"), count(lit(1)).as("n_pairs"))
      .orderBy(col("event_type"), col("lag"))
  }

  // ------------------------------------------------------------ CUSUM changepoint
  /** CUSUM mean-shift detection per user: the running sum of deviations
    * from the user's overall mean drifts away from zero once the level
    * shifts (a CUSUM chart); flagged when |cusum| exceeds 5 user-σ. The
    * cross-engine trap here is the cumulative FLOAT sum — running-sum
    * association differs between engines and a 6-dp round would still
    * flip rows near boundaries over 100k+ events — so deviations are
    * quantized ONCE to integer cents (`floor(x·100 + 0.5)`, the portable
    * round — see ts_interpolate) and the cumulative sum runs in exact
    * BIGINT arithmetic: bit-identical in ANY accumulation order, at any
    * scale. One broadcast of the per-user moment frame, one window. */
  private def tsChangepoint(s: SparkSession, d: String): DataFrame = {
    val e = eventsUs(s, d).filter(col("value").isNotNull)
    val m = e.groupBy(col("user_id"))
      .agg(round(avg(col("value")), 6).as("mean_r"),
        round(stddev_samp(col("value")), 6).as("std_r"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    e.join(broadcast(m), "user_id")
      .withColumn("dev_c", floor((col("value") - col("mean_r")) * 100 + lit(0.5)))
      .withColumn("thr_c", floor(col("std_r") * 500 + lit(0.5)))
      .withColumn("cusum_c", sum(col("dev_c")).over(w))
      .withColumn("shifted", abs(col("cusum_c")) > col("thr_c"))
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"),
        col("cusum_c"), col("thr_c"), col("shifted"))
      .orderBy(col("event_id"))
  }

  // ------------------------------------------------------------------ modal value
  /** Modal event type per user (with count, total, and share) — the
    * categorical summary statistic Spark has no built-in aggregate for.
    * Counts are one map-side-combinable aggregate; the mode is then a
    * row_number over the per-user count frame (cardinality = distinct
    * types per user, ≤ |type| — tiny — so the window never sees raw
    * events). Deterministic tie-break: highest count, then lexicographic
    * smallest type. The share divides AFTER both operands are exact
    * integers, then rounds. */
  private def aggMode(s: SparkSession, d: String): DataFrame = {
    val c = Tables.events(s, d).groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("n").desc, col("event_type"))
    val tw = Window.partitionBy(col("user_id"))
    c.withColumn("rn", row_number().over(w))
      .withColumn("total", sum(col("n")).over(tw))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("mode_type"), col("n").as("n_mode"),
        col("total").as("n_total"),
        round(col("n").cast("double") / col("total"), 6).as("share"))
      .orderBy(col("user_id"))
  }

  // ------------------------------------------------------- stats-pruned scan
  /** Min/max-stats file skipping — the data-layout lever underneath every
    * lake format: events are written SORTED by user_id into 8 range
    * partitions (each parquet file then covers a disjoint user range and
    * carries tight min/max column stats), and a narrow user-range query
    * over the result lets the reader skip the files/row-groups whose
    * stats exclude the predicate. The oracle checks the filtered
    * aggregate's VALUES against the original table (layout must never
    * change semantics); the pruning itself — pushed filters present,
    * scan emitting a small fraction of total rows — is spec-asserted.
    * At 100 TB this is the row-group-level complement to
    * `sink_partitioned` (directory pruning) and `sort_zorder`
    * (multi-column locality): one range-exchange at ingest buys
    * stats-skipping on every later range scan. */
  private def scanStatsPruning(s: SparkSession, d: String): DataFrame =
    withTempDir("stats") { tmp =>
      eventsUs(s, d).filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .repartitionByRange(8, col("user_id"))
        .sortWithinPartitions(col("user_id"))
        .write.mode("overwrite").parquet(s"$tmp/sorted")
      s.read.parquet(s"$tmp/sorted")
        .filter(col("user_id").between(40, 49))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
        .orderBy(col("event_type"))
        .localCheckpoint(true)
    }

  // ------------------------------------------------------------- audio framing
  /** PCM16 frame length in samples (320 bytes at 2 bytes/sample). */
  private[relational] val AudioFrameSamples = 160

  /** Audio feature extraction over an opaque binary column: the payload is
    * treated as little-endian signed 16-bit PCM, framed into
    * non-overlapping [[AudioFrameSamples]]-sample windows, and each frame
    * reduced to RMS energy + peak amplitude — the VAD/loudness front-end
    * of every audio pipeline, with the same plumbing contract as the
    * image family (multimodal_metadata/decode): schema-first binary
    * column in, per-frame feature rows out. The whole decode is
    * codegen'd higher-order functions — one hex() of the frame's 320
    * bytes, then `transform`/`aggregate` lambdas assemble the signed
    * samples and fold the energy; no UDF, no driver data. Sample sums are
    * exact INTEGER arithmetic (≤160·2³⁰ ≪ 2⁵³), so RMS is
    * order-independent and the cross-engine hash exact after round(6).
    * Docs shorter than one frame emit nothing, deterministically. */
  private def multimodalAudioRms(s: SparkSession, d: String): DataFrame = {
    import graft.text.Multimodal
    Multimodal.asBinaryTable(docsT(s, d))
      .withColumn("n_frames",
        (octet_length(col("payload")) / lit(2 * AudioFrameSamples)).cast("long"))
      .filter(col("n_frames") > 0)
      .withColumn("frame_idx", explode(expr("sequence(0L, n_frames - 1)")))
      .withColumn("hexf", expr(
        s"hex(substring(payload, cast(frame_idx * ${2 * AudioFrameSamples} + 1 as int), ${2 * AudioFrameSamples}))"))
      .withColumn("samples", expr(
        s"""transform(sequence(0, ${AudioFrameSamples - 1}), i ->
           |  cast(conv(substr(hexf, 4 * i + 1, 2), 16, 10) as int)
           |  + 256 * cast(conv(substr(hexf, 4 * i + 3, 2), 16, 10) as int))"""
          .stripMargin))
      .withColumn("signed", expr("transform(samples, v -> IF(v >= 32768, v - 65536, v))"))
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        round(sqrt(expr(
          s"aggregate(signed, 0D, (a, x) -> a + cast(x as double) * cast(x as double)) / ${AudioFrameSamples}.0")), 6)
          .as("rms"),
        expr("cast(array_max(transform(signed, v -> abs(v))) as long)").as("peak"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Energy-gated VOICE-ACTIVITY segments — the silence-trimming step an
    * audio dataset pipeline runs before ASR/feature extraction (and the
    * third member of the audio family: RMS energy → spectral FFT → VAD):
    * frames whose rounded RMS clears a fixed energy gate are ACTIVE, and
    * maximal runs of consecutive active frames become `[start, end)`
    * segments via the same two-row_number gaps-and-islands identity as
    * window_streaks (frame_idx − per-doc active rank is run-constant).
    * The gate (25400) sits at the fixture's RMS median so both branches
    * are genuinely exercised; the comparison reads the 6-dp-ROUNDED rms
    * the rms operator already proves hash-equal, so the active set is
    * cross-engine exact by construction. Plan: the frame explode is
    * map-only, then ONE doc-partitioned window + one combinable agg —
    * per-doc work is frame-count-bounded, embarrassingly parallel across
    * docs at any corpus size. */
  private def multimodalAudioVad(s: SparkSession, d: String): DataFrame = {
    import graft.text.Multimodal
    // sample-explode with PLAIN hex/conv expressions + a map-side-
    // combinable integer sum-of-squares, instead of the rms twin's
    // transform(...)+aggregate HOFs: HOFs are CodegenFallback and the
    // filter on the derived rms re-evaluates the whole interpreted chain
    // per row (measured 13× the rms op's cost); the per-frame Σx² is an
    // exact ≤2⁴² integer, so the aggregated sum is bit-equal to the
    // sequential fold and the rounded rms — and the oracle — are unchanged
    val frames = Multimodal.asBinaryTable(docsT(s, d))
      .withColumn("n_frames",
        (octet_length(col("payload")) / lit(2 * AudioFrameSamples)).cast("long"))
      .filter(col("n_frames") > 0)
      .withColumn("frame_idx", explode(expr("sequence(0L, n_frames - 1)")))
      .withColumn("i", explode(expr(s"sequence(0, ${AudioFrameSamples - 1})")))
      .withColumn("u", expr(
        s"""cast(conv(hex(substring(payload, cast(frame_idx * ${2 * AudioFrameSamples} + 2 * i + 1 as int), 1)), 16, 10) as long)
           | + 256 * cast(conv(hex(substring(payload, cast(frame_idx * ${2 * AudioFrameSamples} + 2 * i + 2 as int), 1)), 16, 10) as long)"""
          .stripMargin))
      .withColumn("sv", expr("IF(u >= 32768, u - 65536, u)"))
      .groupBy(col("doc_id"), col("frame_idx"))
      .agg(sum(col("sv") * col("sv")).as("ssq"))
      .select(col("doc_id"), col("frame_idx"),
        round(sqrt(col("ssq").cast("double") / lit(AudioFrameSamples.toDouble)), 6).as("rms"))
      .filter(col("rms") > 25400.0)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("grp", col("frame_idx") - (row_number().over(w) - 1))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("frame_idx")).as("seg_start"),
        (max(col("frame_idx")) + 1L).as("seg_end"),
        count(lit(1)).as("n_active"))
      .select(col("doc_id"), col("seg_start"), col("seg_end"), col("n_active"))
      .orderBy(col("doc_id"), col("seg_start"))
  }

  // ------------------------------------------------------------ rolling median
  /** Rolling MEDIAN smoother per user (trailing 11-row frame) — the
    * robust counterpart to ts_ewma: a single outlier shifts a mean by
    * Δ/n but a median not at all, which is why monitoring pipelines
    * de-spike with medians before thresholding. Exact `percentile(0.5)`
    * as a window aggregate (frame sizes are O(11), so exactness is free);
    * both engines linearly interpolate the even-count midpoint from the
    * same doubles. One exchange + one sort, O(frame) state per row. */
  private def tsRollingMedian(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-10, 0)
    eventsUs(s, d).filter(col("value").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"),
        round(expr("percentile(value, 0.5)").over(w), 6).as("med"))
      .orderBy(col("event_id"))
  }

  // ------------------------------------------------------------ seasonality
  /** Hour-of-day seasonality profile per event type: volume share by
    * wall-clock hour plus the deterministic peak flag — the shape check
    * behind load forecasts and anomaly baselines ("is 3am volume supposed
    * to be this high?"). One combinable count on a 24·|type| key space,
    * then a rank over that tiny frame; the share divides exact integers
    * before its round. */
  private def tsPeakHours(s: SparkSession, d: String): DataFrame = {
    val c = eventsUs(s, d)
      .withColumn("hod", expr("(ts_us div 3600000000) % 24"))
      .groupBy(col("event_type"), col("hod")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("n").desc, col("hod"))
    val tw = Window.partitionBy(col("event_type"))
    c.withColumn("rn", row_number().over(w))
      .withColumn("total", sum(col("n")).over(tw))
      .select(col("event_type"), col("hod"), col("n"),
        round(col("n").cast("double") / col("total"), 6).as("share"),
        (col("rn") === 1).as("is_peak"))
      .orderBy(col("event_type"), col("hod"))
  }

  // ----------------------------------------------------------------- trend
  /** Fixed regressor offset (hours since epoch at the fixture's era):
    * centering the time axis keeps the intercept O(values) instead of
    * O(slope·5·10⁵), so its 4-dp round sits far above fp noise. Any
    * constant works as long as both engines subtract the same one. */
  private[relational] val TrendEpochHours = 473000.0

  /** Per-user linear TREND of value over time — `regr_slope/intercept/r2`
    * on (value ~ hours): the drift detector that separates "level shifted"
    * (ts_changepoint) from "steadily creeping". One combinable aggregate
    * pass (the regr_* family folds to the same six moment sums); slope at
    * 6 dp, intercept at 4 dp (it multiplies the slope's fp noise by the
    * centered time span), r² at 6 dp. */
  private def tsTrend(s: SparkSession, d: String): DataFrame =
    eventsUs(s, d).filter(col("value").isNotNull)
      .withColumn("th", col("ts_us").cast("double") / lit(3600000000.0) - lit(TrendEpochHours))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        round(expr("regr_slope(value, th)"), 6).as("slope"),
        round(expr("regr_intercept(value, th)"), 4).as("intercept"),
        round(expr("regr_r2(value, th)"), 6).as("r2"))
      .orderBy(col("user_id"))

  // --------------------------------------------------- seasonal decomposition
  /** CLASSICAL SEASONAL DECOMPOSITION (STL's additive shape, by moving
    * averages) of each event type's hourly VOLUME series: n = trend +
    * seasonal + residual. The hour grid is DENSIFIED first (per-type
    * min..max hour via `sequence` + explode; an empty hour is a real
    * observation of 0 for a volume series — a mean-value series can't be
    * densified this way, which is why the volume axis is the right
    * decomposition target at any fixture sparsity). Trend is the
    * centered 25-hour window average, emitted only where all 25 hours
    * exist (honest NULL at the 12-hour series edges); seasonal is the
    * per-(type, hour-of-day) mean of the detrended series; residual is
    * what remains — the de-seasonalized anomaly axis dq_volume_anomaly's
    * global z-score can't see (a 3am dip is normal FOR 3AM).
    *
    * Cross-engine parity is exact by construction, not by rounding luck:
    * counts are integers, trend is one double division of an integer
    * window sum, the detrended value re-quantizes to integer MICROS
    * before the seasonal mean (the agg_incremental_merge device), and
    * the residual is a pure integer subtraction. The only doubles that
    * flow between stages are single divisions of identical integers.
    *
    * 100-TB shape: the raw scan folds into one map-side-combinable
    * (type, hour) count — everything after operates on the tiny
    * hours×types frame (one RANGE window sharing one exchange, one
    * 24·|type|-key aggregate, one broadcast-sized join back). */
  private def tsStlDecompose(s: SparkSession, d: String): DataFrame = {
    val hourly = eventsUs(s, d)
      .withColumn("h", expr("ts_us div 3600000000"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("cnt"))
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("h"))
    val dense = grid.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("n", coalesce(col("cnt"), lit(0L)))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rangeBetween(-12, 12)
    val t = dense
      .withColumn("hcnt", count(lit(1)).over(w))
      .withColumn("wsum", sum(col("n")).over(w))
      .withColumn("trend", when(col("hcnt") === 25,
        col("wsum").cast("double") / 25.0))
      .withColumn("d_mic", expr("cast(round((n - trend) * 1e6) as long)"))
      .withColumn("hod", expr("h % 24"))
    val seas = t.groupBy(col("event_type"), col("hod"))
      .agg(expr("cast(round(cast(sum(d_mic) as double) / count(d_mic)) as long)")
        .as("s_mic"))
    t.join(seas, Seq("event_type", "hod"), "left")
      .select(col("event_type"), col("h"), col("hod"), col("n"),
        round(col("trend"), 6).as("trend_r"),
        round(col("s_mic").cast("double") / 1000000.0, 6).as("seasonal_r"),
        round((col("d_mic") - col("s_mic")).cast("double") / 1000000.0, 6).as("resid_r"))
      .orderBy(col("event_type"), col("h"))
  }

  // ------------------------------------------------------------ gzip CSV scan
  /** Round-trip through gzip-compressed CSV — the interchange format the
    * landing zone actually receives. Write side: metadata projection of
    * documents as .csv.gz; read side: SCHEMA-FIRST (no inference pass —
    * inference would read every file twice) with explicit nullValue. The
    * 100-TB caveat is named honestly: gzip is NOT splittable, so one
    * .csv.gz = one task regardless of size — production either receives
    * many moderate files (as here: one per input partition) or re-codecs
    * to bzip2/zstd-seekable before wide processing. The oracle checks the
    * projection survives the round trip bit-for-bit. */
  private def scanCsvGzip(s: SparkSession, d: String): DataFrame =
    withTempDir("csvgz") { tmp =>
      docsT(s, d).select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite")
        .option("compression", "gzip").option("header", "false")
        .csv(s"$tmp/docs")
      s.read
        .schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
        .option("header", "false")
        .csv(s"$tmp/docs")
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
    }

  // ----------------------------------------------------------- gaps and islands
  /** Longest CONSECUTIVE-same-type run per user (the gaps-and-islands
    * pattern): two row_numbers whose DIFFERENCE is constant within a run
    * — (global rank) − (per-type rank) — turn "consecutive" into a plain
    * group key; runs then aggregate map-side-combinably and the winner is
    * a rank over the per-user run frame. Deterministic tie-break: longest,
    * then earliest start, then type. Both windows share one exchange on
    * user_id (the second partitions by (user, type) — a subpartition of
    * the first, no new exchange needed for correctness; plan keeps one
    * user sort). */
  private def windowStreaks(s: SparkSession, d: String): DataFrame = {
    val wAll = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val wTyp = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    val runs = eventsUs(s, d)
      .withColumn("rn", row_number().over(wAll))
      .withColumn("rt", row_number().over(wTyp))
      .withColumn("grp", col("rn") - col("rt"))
      .groupBy(col("user_id"), col("event_type"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("ts_us")).as("start_us"))
    val wBest = Window.partitionBy(col("user_id"))
      .orderBy(col("len").desc, col("start_us"), col("event_type"))
    runs.withColumn("brk", row_number().over(wBest))
      .filter(col("brk") === 1)
      .select(col("user_id"), col("event_type").as("streak_type"),
        col("len").as("streak_len"), col("start_us"))
      .orderBy(col("user_id"))
  }

  // -------------------------------------------------------------- user paths
  /** Top-20 FIRST-3-EVENT paths across users — the entry-path report of
    * product analytics (which opening sequences dominate; window_funnel
    * answers the directed-conversion question, this one is exploratory).
    * Path assembly is deterministic without any ordered-aggregate
    * support: collect (rn, type) structs, `array_sort` (structs order by
    * field position, rn first), then a codegen'd transform+join — never
    * an unordered collect_list string concat. Rank rounds nothing: counts
    * are integers, ties break on the path string. */
  private def aggUserPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val paths = eventsUs(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"))
      .agg(expr("array_join(transform(array_sort(collect_list(struct(rn, event_type))), x -> x.event_type), '>')")
        .as("path"))
    val ranked = paths.groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .withColumn("rank", row_number().over(Window.orderBy(col("n_users").desc, col("path"))))
      .filter(col("rank") <= 20)
    ranked.select(col("rank").cast("long").as("rank"), col("path"), col("n_users"))
      .orderBy(col("rank"))
  }

  // ------------------------------------------------------------- entropy
  /** Shannon ENTROPY of each user's event-type distribution — the
    * behavioral-diversity feature (0 = monomaniac, ln|types| = uniform).
    * Two combinable aggregates (per-(user,type) counts, then per-user
    * totals) and one broadcastable join back; p·ln p runs on exact
    * integer ratios and the ≤|types|-term sum rounds at 6 dp, far above
    * cross-engine ln noise. */
  private def aggEntropyByKey(s: SparkSession, d: String): DataFrame = {
    val c = Tables.events(s, d).groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val t = c.groupBy(col("user_id"))
      .agg(sum(col("n")).as("total"), count(lit(1)).as("n_types"))
    val p = col("n").cast("double") / col("total")
    c.join(t, "user_id")
      .groupBy(col("user_id"))
      .agg(first(col("n_types")).as("n_types"),
        first(col("total")).as("n_events"),
        round(-sum(p * log(p)), 6).as("entropy"))
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------- Gini
  /** GINI coefficient of document length per source — the corpus-balance
    * inequality audit (0 = uniform lengths, →1 = one doc dominates the
    * characters). Rank-sum formula G = 2·Σᵢ i·xᵢ/(n·Σx) − (n+1)/n over
    * the (n_chars, doc_id)-ordered rank: every product and sum is an
    * exact ≤2⁵³ integer in BOTH engines, so only the final division
    * rounds. One window + one combinable aggregate per source. */
  private def aggGini(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    docsT(s, d)
      .withColumn("i", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"),
        sum(col("i").cast("double") * col("n_chars")).as("si"))
      .select(col("source"), col("n"),
        round(lit(2.0) * col("si") / (col("n") * col("s")) - (col("n") + lit(1.0)) / col("n"), 6)
          .as("gini"))
      .orderBy(col("source"))
  }

  // ------------------------------------------------------------------- registry
  // --------------------------------------------------------- scene detect
  /** Video-style scene-cut detection over the binary payload: frames are
    * consecutive 64-byte blocks, each summarized by its mean byte value
    * (the gray-level proxy the image ops use), and a cut fires where the
    * mean jumps by more than 2 gray levels between consecutive frames —
    * the shot-boundary heuristic at its plumbing-proof scale. Frame means
    * are EXACT (integer byte sums over a fixed 64 divisor, a 6-decimal
    * dyadic, so round(·,6) is the identity and both engines hash equal
    * bit-for-bit); the lag runs in a doc-partitioned window. Per row:
    * O(frame) codegen'd work, one exchange on doc_id, no UDF. */
  private def multimodalSceneDetect(s: SparkSession, d: String): DataFrame = {
    import graft.text.Multimodal
    val fb = 64
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    Multimodal.asBinaryTable(docsT(s, d))
      .withColumn("n_frames", (octet_length(col("payload")) / lit(fb)).cast("long"))
      .filter(col("n_frames") > 0)
      .withColumn("frame_idx", explode(expr("sequence(0L, n_frames - 1)")))
      .withColumn("hexf", expr(s"hex(substring(payload, cast(frame_idx * $fb + 1 as int), $fb))"))
      .withColumn("mean_px", expr(
        s"""cast(aggregate(transform(sequence(0, ${fb - 1}), i ->
           |  cast(conv(substr(hexf, 2 * i + 1, 2), 16, 10) as int)),
           |  0, (a, x) -> a + x) as double) / cast($fb as double)""".stripMargin))
      .withColumn("diff", col("mean_px") - lag(col("mean_px"), 1).over(w))
      .select(col("doc_id"), col("frame_idx"), round(col("mean_px"), 6).as("mean_px"),
        round(col("diff"), 6).as("diff"),
        coalesce(abs(round(col("diff"), 6)) > 2.0, lit(false)).as("is_cut"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  // ----------------------------------------------------------- audio DFT
  /** DFT magnitude spectrum (bins 1–16) of each document's FIRST audio
    * frame, with the peak bin flagged — the spectral-feature step after
    * multimodal_audio_rms's energy pass (together they are the front of
    * an audio-quality filter chain: energy, then dominant frequency). All
    * row-local codegen: the same hex/conv 16-bit-LE sample assembly as
    * the RMS op, then per-bin Re/Im as `zip_with`+`aggregate` folds over
    * the 160-sample frame with codegen'd cos/sin — no UDF, no shuffle
    * except the per-doc 16-row peak window and the presentation sort.
    * Magnitudes are rounded to 2 dp before the peak rank (libm cos/sin
    * may differ a ulp between engines; the fold error bound is ~1e-7
    * against a 0.005 rounding threshold), ties broken by bin, so the
    * flag cannot flip. Frames are 160 samples; shorter payloads emit
    * nothing, deterministically. */
  private def multimodalAudioFft(s: SparkSession, d: String): DataFrame = {
    import graft.text.Multimodal
    val n = AudioFrameSamples
    val peakW = Window.partitionBy(col("doc_id")).orderBy(col("mag_r").desc, col("bin"))
    Multimodal.asBinaryTable(docsT(s, d))
      .filter(octet_length(col("payload")) >= 2 * n)
      .withColumn("hexf", expr(s"hex(substring(payload, 1, ${2 * n}))"))
      .withColumn("samples", expr(
        s"""transform(sequence(0, ${n - 1}), i ->
           |  cast(conv(substr(hexf, 4 * i + 1, 2), 16, 10) as int)
           |  + 256 * cast(conv(substr(hexf, 4 * i + 3, 2), 16, 10) as int))""".stripMargin))
      .withColumn("signed", expr("transform(samples, v -> IF(v >= 32768, v - 65536, v))"))
      .select(col("doc_id"), explode(expr("sequence(1, 16)")).as("bin"), col("signed"))
      .withColumn("re", expr(
        s"""aggregate(zip_with(signed, sequence(0, ${n - 1}),
           |  (x, i) -> cast(x as double) * cos(6.283185307179586 * bin * i / $n.0)),
           |  0D, (a, t) -> a + t)""".stripMargin))
      .withColumn("im", expr(
        s"""aggregate(zip_with(signed, sequence(0, ${n - 1}),
           |  (x, i) -> cast(x as double) * sin(6.283185307179586 * bin * i / $n.0)),
           |  0D, (a, t) -> a + t)""".stripMargin))
      .withColumn("mag_r",
        round(sqrt(col("re") * col("re") + col("im") * col("im")), 2))
      .withColumn("is_peak", row_number().over(peakW) === 1)
      .select(col("doc_id"), col("bin").cast("long").as("bin"), col("mag_r"), col("is_peak"))
      .orderBy(col("doc_id"), col("bin"))
  }

  // --------------------------------------------------------- Holt forecast
  /** Holt's linear-trend exponential smoothing (α=0.5, β=0.3) per event
    * type over the hourly mean series, with a 3-step-ahead forecast —
    * the classic capacity-planning curve on top of ts_trend's global
    * regression. Two stages with honest scale shapes: (1) the hourly
    * collapse is ONE map-side-combinable aggregate, summing values in
    * EXACT integer micro-units (the fixture's values are exact 6-dp
    * decimals; an fp sum would drift a ulp around dyadic means and flip
    * 6-dp rounding at half boundaries — the stream_anomaly lesson), so
    * both engines see bit-identical smoothed inputs; (2) the recurrence
    * lₜ = α·yₜ + (1−α)(lₜ₋₁+bₜ₋₁), bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁ is
    * inherently sequential, but it runs AFTER aggregation on the
    * bucket-count-sized series (O(time-span hours) per key, independent
    * of event volume), as a per-key sorted fold in `flatMapGroups`; the
    * DuckDB oracle replays it as a recursive CTE with the identical
    * operation order, so the unrounded recursion is bit-equal and every
    * emitted value is rounded only at the edge. b₀ = y₂−y₁ (0 for a
    * 1-bucket series); ŷ is the one-step-ahead prediction lₜ₋₁+bₜ₋₁ for
    * fit rows and l_T + h·b_T for the 3 forecast rows per type. */
  private def tsHoltForecast(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val hourly = eventsUs(s, d).filter(col("value").isNotNull)
      .withColumn("bucket", expr("ts_us div 3600000000"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(expr("cast(round(value * 1e6) as long)")).as("micros"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("bucket"),
        round(col("micros").cast("double") / 1e6 / col("n"), 6).as("y_r"))
    hourly.as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (tpe, it) =>
        val ys = it.toArray.sortBy(_._2)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long, Boolean, Option[Double], Option[Double], Double, Double)]
        var l = ys(0)._3
        var b = if (ys.length >= 2) ys(1)._3 - ys(0)._3 else 0.0
        out += ((tpe, ys(0)._2, false, Some(ys(0)._3), None, r6(l), r6(b)))
        var t = 1
        while (t < ys.length) {
          val y = ys(t)._3
          val pred = l + b
          val lNew = 0.5 * y + 0.5 * pred
          val bNew = 0.3 * (lNew - l) + 0.7 * b
          out += ((tpe, ys(t)._2, false, Some(y), Some(r6(pred)), r6(lNew), r6(bNew)))
          l = lNew; b = bNew
          t += 1
        }
        val lastBucket = ys.last._2
        (1 to 3).foreach { h =>
          out += ((tpe, lastBucket + h, true, None,
            Some(r6(l + h.toDouble * b)), r6(l), r6(b)))
        }
        out.iterator
      }
      .toDF("event_type", "bucket", "is_forecast", "y_r", "yhat_r", "level_r", "trend_r")
      .orderBy(col("event_type"), col("bucket"))
  }

  // ---------------------------------------------------------- Kalman filter
  /** Local-level Kalman noise constants in micro-variance units:
    * σ_proc = 4/hour (Q = 4²·1e6) and σ_obs = 12 (R = 12²·1e6) — sized so
    * the 3σ innovation gate genuinely splits at EVERY fixture scale
    * (steady-state threshold 3·√(P′+R) ≈ 42.5; measured max |innovation|
    * is 294 at sf0.01 but only 45 at sf0.1, where denser hours smooth
    * the series — a wider σ_obs would leave the flag a dead branch
    * there). */
  private[relational] val KalmanQ = 16000000L
  private[relational] val KalmanR = 144000000L

  /** LOCAL-LEVEL KALMAN FILTER per event type over the hourly mean
    * series, with a 3σ innovation OUTLIER gate — the state-space
    * (random-walk level + observation noise) smoother: a probabilistic
    * EWMA whose gain ADAPTS to uncertainty instead of a fixed α
    * (high after gaps/starts, converging as evidence accumulates),
    * completing the online-monitor row next to ts_anomaly_zscore's
    * windowed z-score and ts_ewma's fixed smoother. ALL-INTEGER
    * recurrence: state x (level) and P (variance) in int64 micro-units,
    * predict P′ = P+Q, gain K = P′·1e6 div (P′+R) as a micro-fraction,
    * update x += K·(z−x) div 1e6, P = (1e6−K)·P′ div 1e6 — every division
    * TRUNCATING, and Scala `Long./` and DuckDB `//` both truncate toward
    * zero, so the whole trajectory is bit-identical across engines by
    * construction; the outlier gate compares SQUARED integers
    * (e² > 9·(P′+R)·1e6) — no sqrt, no float compare anywhere (the
    * embed_pca integer-ladder rule applied to a recursive filter).
    * Same two-stage scale shape as [[tsHoltForecast]]: the corpus-sized
    * work is ONE map-side-combinable hourly aggregate; the inherently
    * sequential filter then runs per key over the bucket-count-bounded
    * series (O(time-span hours), independent of event volume). */
  private def tsKalman(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hourly = eventsUs(s, d).filter(col("value").isNotNull)
      .withColumn("bucket", expr("ts_us div 3600000000"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(expr("cast(round(value * 1e6) as long)")).as("micros"),
        count(lit(1)).as("n"))
      // z = the 6-dp hourly mean (the hash-proven quantity) as exact micros
      .select(col("event_type"), col("bucket"),
        expr("cast(round(round(cast(micros as double) / 1e6 / n, 6) * 1e6) as long)")
          .as("z"))
    hourly.as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (tpe, it) =>
        val zs = it.toArray.sortBy(_._2)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long, Long, Long, Long, Long, Boolean)]
        var x = zs(0)._3
        var p = KalmanR // diffuse start: first observation fully trusted
        out += ((tpe, zs(0)._2, zs(0)._3, x, p, 1000000L, false))
        var t = 1
        while (t < zs.length) {
          val z = zs(t)._3
          val pp = p + KalmanQ
          val k = pp * 1000000L / (pp + KalmanR)
          val e = z - x
          // |e| clamped to 1.7e9 µ before squaring: e² would overflow
          // Long (and raise in DuckDB) on a >3000-unit jump, flipping the
          // flag instead of setting it. The clamp is exact — the gate
          // threshold 9(P′+R)·1e6 is provably ≤ 2.74e18 (P ≤ R invariant
          // ⇒ P′+R ≤ 2R+Q) and the clamped square is 2.89e18, so any
          // clamped innovation still reads "outlier". Branch-free, so the
          // SQL replay needs no lazily-evaluated CASE.
          val ec = math.min(math.abs(e), 1700000000L)
          val outlier = ec * ec > 9L * (pp + KalmanR) * 1000000L
          // multiplyExact: k ≤ 1e6, so k·e overflows only past |e| ≈ 9.2e12 µ
          // — DuckDB's BIGINT multiply RAISES there, so the JVM must throw
          // too (a silent wrap would diverge instead of failing loudly)
          x = x + Math.multiplyExact(k, e) / 1000000L
          p = (1000000L - k) * pp / 1000000L
          out += ((tpe, zs(t)._2, z, x, p, k, outlier))
          t += 1
        }
        out.iterator
      }
      .toDF("event_type", "bucket", "z_micros", "x_micros", "p_micros",
        "k_micros", "is_outlier")
      .orderBy(col("event_type"), col("bucket"))
  }

  /** LTTB DOWNSAMPLING (Largest-Triangle-Three-Buckets, Steinarsson
    * 2013) of each type's hourly series to 20 points — the
    * shape-preserving decimation dashboards run before plotting a
    * 100-TB-derived series (uniform striding loses peaks; LTTB keeps the
    * visually dominant points). Both anchors kept; the 18 interior
    * buckets each contribute the point maximizing the triangle area with
    * the previously SELECTED point and the NEXT bucket's average —
    * a sequential recurrence, so it runs as the Holt-style per-key fold
    * over the bucket-count-bounded hourly series (O(span), not
    * O(events); the heavy lifting — the hourly aggregation — is the
    * combinable pass). Cross-engine exactness BY CONSTRUCTION: y values
    * are the 6-dp hourly means (already hash-proven), scaled to int64
    * micro-units, and the area comparison is the n-scaled ALL-INTEGER
    * form |(n·xₚ−Σx)(y_c−yₚ) − (xₚ−x_c)(n·yₚ−Σy)| with ties to the
    * earlier point — no float is ever compared, so the selected set is
    * identical in any engine (the oracle replays the recurrence as a
    * recursive CTE with a NOT-EXISTS argmax, wordpiece-style). Series
    * with ≤ 20 points pass through (spec-covered; the fixture's ~700
    * always downsample). */
  private def tsDownsampleLttb(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val B = 18 // interior buckets; output = B + 2 anchors
    val hourly = eventsUs(s, d).filter(col("value").isNotNull)
      .withColumn("bucket", expr("ts_us div 3600000000"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(expr("cast(round(value * 1e6) as long)")).as("micros"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("bucket"),
        round(col("micros").cast("double") / 1e6 / col("n"), 6).as("y_r"))
    hourly.as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (tpe, it) =>
        val pts = it.toArray.sortBy(_._2) // (type, bucket, y_r)
        val t = pts.length
        val ym = pts.map(p => math.round(p._3 * 1e6))
        val out = Seq.newBuilder[(String, Long, Long, Double)]
        if (t <= B + 2) {
          var i = 0
          while (i < t) { out += ((tpe, (i + 1).toLong, pts(i)._2, pts(i)._3)); i += 1 }
        } else {
          val m = t - 2
          // interior index j (1-based rn = j+1, j in 1..m) → bucket floor((j-1)·B/m)
          val bidxOf = (j: Int) => ((j - 1).toLong * B / m).toInt
          val lo = Array.fill(B)(Int.MaxValue)
          val hi = Array.fill(B)(Int.MinValue)
          for (j <- 1 to m) {
            val b = bidxOf(j)
            lo(b) = math.min(lo(b), j); hi(b) = math.max(hi(b), j)
          }
          var pX = pts(0)._2
          var pY = ym(0)
          out += ((tpe, 1L, pts(0)._2, pts(0)._3))
          for (b <- 0 until B) {
            // next-bucket average as exact integer sums (final point for the last)
            val (nn, sx, sy) =
              if (b == B - 1) (1L, pts(t - 1)._2, ym(t - 1))
              else {
                var n = 0L; var x = 0L; var y = 0L
                for (j <- lo(b + 1) to hi(b + 1)) { n += 1; x += pts(j)._2; y += ym(j) }
                (n, x, y)
              }
            var bestJ = -1
            var bestA = -1L
            for (j <- lo(b) to hi(b)) {
              val a = math.abs((nn * pX - sx) * (ym(j) - pY) - (pX - pts(j)._2) * (nn * pY - sy))
              if (a > bestA) { bestA = a; bestJ = j }
            }
            pX = pts(bestJ)._2; pY = ym(bestJ)
            out += ((tpe, (b + 2).toLong, pts(bestJ)._2, pts(bestJ)._3))
          }
          out += ((tpe, (B + 2).toLong, pts(t - 1)._2, pts(t - 1)._3))
        }
        out.result().iterator
      }
      .toDF("event_type", "k", "bucket", "y_r")
      .orderBy(col("event_type"), col("bucket"))
  }

  /** PERIODOGRAM of the hourly event-rate series — frequency-domain
    * seasonality detection (the spectral complement of ts_peak_hours'
    * time-domain profile and the analytics cousin of
    * multimodal_audio_fft, whose trig-parity discipline this reuses):
    * per type, DFT magnitudes at harmonics k = 1..12 of the full
    * observed span, peak bin flagged. The series is the per-(type, hour)
    * count ZERO-FILLED on the global hour grid (a missed hour is a real
    * zero — the agg_corr lesson), so the spectrum sees gaps honestly.
    * Parity ladder: counts are exact integers; cos/sin arguments are the
    * identical left-associated expression in both engines (2π exact, one
    * correctly-rounded cos); Re/Im sums rounded@4dp (fp order noise
    * ~1e-10 vs values ~1e2), magnitude from the ROUNDED pair @2dp, peak
    * ranked on the rounded magnitude with ties to the lower harmonic.
    * Plan: one combinable count, a |types|×T grid join, one combinable
    * trig-sum aggregate — the O(T·K) direct DFT is the right shape when
    * K is a fixed report size (an FFT saves nothing at K=12). */
  private def tsPeriodogram(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.eventsTsUs(s, d)
      .select(col("event_type"), expr("ts_us div 3600000000").as("bucket"))
      .groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val mm = counts.agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1")).head()
    val (b0, b1) = (mm.getLong(0), mm.getLong(1))
    val tlen = (b1 - b0 + 1).toDouble
    val series = counts.select(col("event_type")).distinct()
      .crossJoin(s.range(b0, b1 + 1).toDF("bucket"))
      .join(counts, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), (col("bucket") - b0).cast("double").as("t"),
        coalesce(col("cnt"), lit(0L)).cast("double").as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("mag_r").desc, col("k"))
    series.crossJoin(broadcast(s.range(1, 13).toDF("k")))
      .withColumn("ang", lit(2d * math.Pi) * col("k") * col("t") / lit(tlen))
      .groupBy(col("event_type"), col("k"))
      .agg(round(sum(col("c") * cos(col("ang"))), 4).as("re_r"),
        round(sum(col("c") * sin(col("ang"))), 4).as("im_r"))
      .withColumn("mag_r",
        round(sqrt(col("re_r") * col("re_r") + col("im_r") * col("im_r")), 2))
      .withColumn("is_peak", row_number().over(w) === 1)
      .select(col("event_type"), col("k"), col("mag_r"), col("is_peak"))
      .orderBy(col("event_type"), col("k"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_downsample_lttb" -> (tsDownsampleLttb _),
    "ts_periodogram" -> (tsPeriodogram _),
    "multimodal_audio_vad" -> (multimodalAudioVad _),
    "ts_anomaly_zscore" -> (tsAnomalyZscore _),
    "ts_ohlc" -> (tsOhlc _),
    "ts_ewma" -> (tsEwma _),
    "ts_interpolate" -> (tsInterpolate _),
    "dedup_fuzzy" -> (dedupFuzzy _),
    "sample_split" -> (sampleSplit _),
    "window_ntile" -> (windowNtile _),
    "compact_small_files" -> (compactSmallFiles _),
    "agg_moments" -> (aggMoments _),
    "ts_autocorr" -> (tsAutocorr _),
    "ts_changepoint" -> (tsChangepoint _),
    "agg_mode" -> (aggMode _),
    "scan_stats_pruning" -> (scanStatsPruning _),
    "multimodal_audio_rms" -> (multimodalAudioRms _),
    "ts_rolling_median" -> (tsRollingMedian _),
    "ts_peak_hours" -> (tsPeakHours _),
    "ts_trend" -> (tsTrend _),
    "ts_stl_decompose" -> (tsStlDecompose _),
    "scan_csv_gzip" -> (scanCsvGzip _),
    "window_streaks" -> (windowStreaks _),
    "agg_user_paths" -> (aggUserPaths _),
    "agg_entropy_by_key" -> (aggEntropyByKey _),
    "agg_gini" -> (aggGini _),
    "ts_holt_forecast" -> (tsHoltForecast _),
    "ts_kalman" -> (tsKalman _),
    "multimodal_audio_fft" -> (multimodalAudioFft _),
    "multimodal_scene_detect" -> (multimodalSceneDetect _),
  )

  val oracle: Map[String, String] = Map(
    // the same integer-micro quantization at every aggregation boundary;
    // windowed sums CAST to BIGINT immediately (the HUGEINT driver rule)
    "ts_stl_decompose" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(h0, h1)) AS h FROM bounds),
        |dense AS (SELECT g.event_type, g.h, CAST(coalesce(hh.cnt, 0) AS BIGINT) AS n
        |          FROM grid g LEFT JOIN hourly hh USING (event_type, h)),
        |win AS (
        |  SELECT *,
        |         count(*) OVER (PARTITION BY event_type ORDER BY h
        |                        RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS hcnt,
        |         CAST(sum(n) OVER (PARTITION BY event_type ORDER BY h
        |                           RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS BIGINT) AS wsum
        |  FROM dense),
        |dm AS (
        |  SELECT event_type, h, h % 24 AS hod, n,
        |         CASE WHEN hcnt = 25 THEN CAST(wsum AS DOUBLE) / 25.0 END AS trend
        |  FROM win),
        |dmic AS (SELECT *, CAST(round((n - trend) * 1e6) AS BIGINT) AS d_mic FROM dm),
        |seas AS (
        |  SELECT event_type, hod,
        |         CAST(round(CAST(sum(d_mic) AS DOUBLE) / count(d_mic)) AS BIGINT) AS s_mic
        |  FROM dmic GROUP BY 1, 2)
        |SELECT d.event_type, CAST(d.h AS BIGINT) AS h, CAST(d.hod AS BIGINT) AS hod, d.n,
        |       round(d.trend, 6) AS trend_r,
        |       round(CAST(s.s_mic AS DOUBLE) / 1000000.0, 6) AS seasonal_r,
        |       round(CAST(d.d_mic - s.s_mic AS DOUBLE) / 1000000.0, 6) AS resid_r
        |FROM dmic d LEFT JOIN seas s USING (event_type, hod)
        |ORDER BY d.event_type, d.h""".stripMargin,
    // recursive-CTE replay of the sequential selection with the SAME
    // n-scaled all-integer area argmax (NOT-EXISTS, ties to earlier rn)
    "ts_downsample_lttb" ->
      """WITH RECURSIVE
        |e AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bucket,
        |             CAST(round(value * 1e6) AS BIGINT) AS vmic
        |      FROM events WHERE value IS NOT NULL),
        |h AS (SELECT event_type, bucket,
        |             round(CAST(sum(vmic) AS DOUBLE) / 1e6 / count(*), 6) AS y_r
        |      FROM e GROUP BY 1, 2),
        |ser AS (SELECT event_type, bucket, y_r,
        |               CAST(round(y_r * 1e6) AS BIGINT) AS ym,
        |               row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
        |        FROM h),
        |tt AS (SELECT event_type, max(rn) AS t FROM ser GROUP BY 1),
        |big AS (SELECT ser.*, tt.t FROM ser JOIN tt USING (event_type) WHERE t > 20),
        |small AS (SELECT ser.event_type, ser.rn, ser.bucket, ser.y_r
        |          FROM ser JOIN tt USING (event_type) WHERE t <= 20),
        |i AS (SELECT event_type, rn, bucket, ym, y_r,
        |             CAST(((rn - 2) * 18) // (t - 2) AS BIGINT) AS bidx
        |      FROM big WHERE rn >= 2 AND rn <= t - 1),
        |bsum AS (SELECT event_type, bidx, CAST(count(*) AS BIGINT) AS n,
        |                sum(bucket) AS sx, sum(ym) AS sy
        |         FROM i GROUP BY 1, 2),
        |bnext AS (SELECT event_type, bidx - 1 AS bprev,
        |                 n, CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy
        |          FROM bsum WHERE bidx >= 1
        |          UNION ALL
        |          SELECT event_type, 17, 1, bucket, ym FROM big WHERE rn = t),
        |step AS (
        |  SELECT event_type, 1 AS k, rn, bucket, ym, y_r FROM big WHERE rn = 1
        |  UNION ALL
        |  SELECT c.event_type, s.k + 1, c.rn, c.bucket, c.ym, c.y_r
        |  FROM step s
        |  JOIN i c ON c.event_type = s.event_type AND c.bidx = s.k - 1
        |  JOIN bnext nx ON nx.event_type = s.event_type AND nx.bprev = s.k - 1
        |  WHERE s.k <= 18
        |    AND NOT EXISTS (SELECT 1 FROM i c2
        |      WHERE c2.event_type = c.event_type AND c2.bidx = c.bidx
        |        AND (abs((nx.n * s.bucket - nx.sx) * (c2.ym - s.ym)
        |                 - (s.bucket - c2.bucket) * (nx.n * s.ym - nx.sy))
        |             > abs((nx.n * s.bucket - nx.sx) * (c.ym - s.ym)
        |                   - (s.bucket - c.bucket) * (nx.n * s.ym - nx.sy))
        |             OR (abs((nx.n * s.bucket - nx.sx) * (c2.ym - s.ym)
        |                     - (s.bucket - c2.bucket) * (nx.n * s.ym - nx.sy))
        |                 = abs((nx.n * s.bucket - nx.sx) * (c.ym - s.ym)
        |                       - (s.bucket - c.bucket) * (nx.n * s.ym - nx.sy))
        |                 AND c2.rn < c.rn)))),
        |sel AS (SELECT event_type, k, bucket, y_r FROM step
        |        UNION ALL
        |        SELECT event_type, 20, bucket, y_r FROM big WHERE rn = t
        |        UNION ALL
        |        SELECT event_type, rn, bucket, y_r FROM small)
        |SELECT event_type, CAST(k AS BIGINT) AS k, bucket, y_r
        |FROM sel ORDER BY event_type, bucket""".stripMargin,
    // the active set reads the SAME rounded rms the rms oracle proves
    // equal; islands via the identical two-row_number identity
    "multimodal_audio_vad" ->
      """WITH d AS (SELECT doc_id, text, length(text) // 320 AS n_frames FROM documents),
        |fr AS (SELECT doc_id, n_frames, unnest(range(0, n_frames)) AS frame_idx
        |       FROM d WHERE n_frames > 0),
        |s AS (SELECT f.doc_id, f.frame_idx,
        |        list_transform(range(0, 160), i ->
        |          CASE WHEN ascii(substr(d.text, CAST(f.frame_idx * 320 + 2 * i + 1 AS INTEGER), 1))
        |                    + 256 * ascii(substr(d.text, CAST(f.frame_idx * 320 + 2 * i + 2 AS INTEGER), 1)) >= 32768
        |               THEN ascii(substr(d.text, CAST(f.frame_idx * 320 + 2 * i + 1 AS INTEGER), 1))
        |                    + 256 * ascii(substr(d.text, CAST(f.frame_idx * 320 + 2 * i + 2 AS INTEGER), 1)) - 65536
        |               ELSE ascii(substr(d.text, CAST(f.frame_idx * 320 + 2 * i + 1 AS INTEGER), 1))
        |                    + 256 * ascii(substr(d.text, CAST(f.frame_idx * 320 + 2 * i + 2 AS INTEGER), 1))
        |          END) AS samples
        |      FROM fr f JOIN d ON f.doc_id = d.doc_id),
        |r AS (SELECT doc_id, frame_idx,
        |             round(sqrt(list_sum(list_transform(samples, x -> CAST(x * x AS DOUBLE))) / 160.0), 6) AS rms
        |      FROM s),
        |a AS (SELECT doc_id, frame_idx FROM r WHERE rms > 25400),
        |i AS (SELECT doc_id, frame_idx,
        |             frame_idx - (row_number() OVER (PARTITION BY doc_id
        |                                             ORDER BY frame_idx) - 1) AS grp
        |      FROM a)
        |SELECT doc_id, CAST(min(frame_idx) AS BIGINT) AS seg_start,
        |       CAST(max(frame_idx) + 1 AS BIGINT) AS seg_end,
        |       CAST(count(*) AS BIGINT) AS n_active
        |FROM i GROUP BY doc_id, grp ORDER BY doc_id, seg_start""".stripMargin,
    // identical left-associated trig argument, Re/Im@4dp, magnitude from
    // the rounded pair @2dp, peak ranked on the rounded magnitude
    "ts_periodogram" ->
      """WITH e AS (SELECT event_type,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bucket
        |           FROM events),
        |c AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS cnt
        |      FROM e GROUP BY 1, 2),
        |mm AS (SELECT min(bucket) AS b0, max(bucket) AS b1 FROM c),
        |grid AS (SELECT unnest(generate_series(b0, b1)) AS b, b0, b1 FROM mm),
        |s AS (SELECT t.event_type, CAST(g.b - g.b0 AS DOUBLE) AS t,
        |             CAST(coalesce(cc.cnt, 0) AS DOUBLE) AS cv,
        |             CAST(g.b1 - g.b0 + 1 AS DOUBLE) AS tlen
        |      FROM (SELECT DISTINCT event_type FROM c) t
        |      CROSS JOIN grid g
        |      LEFT JOIN c cc ON cc.event_type = t.event_type AND cc.bucket = g.b),
        |f AS (SELECT event_type, k.k AS k,
        |             round(sum(cv * cos(2 * pi() * k.k * t / tlen)), 4) AS re_r,
        |             round(sum(cv * sin(2 * pi() * k.k * t / tlen)), 4) AS im_r
        |      FROM s CROSS JOIN generate_series(1, 12) k(k)
        |      GROUP BY event_type, k.k),
        |m AS (SELECT event_type, k,
        |             round(sqrt(re_r * re_r + im_r * im_r), 2) AS mag_r FROM f),
        |p AS (SELECT event_type, k, mag_r,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY mag_r DESC, k) AS rn
        |      FROM m)
        |SELECT event_type, k, mag_r, (rn = 1) AS is_peak
        |FROM p ORDER BY event_type, k""".stripMargin,
    // exact-decimal hourly means feed a recursive-CTE replay of the SAME
    // recurrence with the same operation order — the unrounded state is
    // bit-identical, every emitted value rounded only at the edge
    "ts_holt_forecast" ->
      """WITH RECURSIVE
        |e AS (SELECT event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bucket,
        |             CAST(round(value * 1e6) AS BIGINT) AS vmic
        |      FROM events WHERE value IS NOT NULL),
        |y AS (SELECT event_type, bucket,
        |             round(CAST(sum(vmic) AS DOUBLE) / 1e6 / count(*), 6) AS y_r,
        |             row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
        |      FROM e GROUP BY 1, 2),
        |tmax AS (SELECT event_type, max(rn) AS t FROM y GROUP BY 1),
        |h AS (
        |  SELECT y.event_type, y.rn, y.bucket, y.y_r,
        |         CAST(NULL AS DOUBLE) AS yhat, y.y_r AS l,
        |         coalesce(y2.y_r - y.y_r, 0.0) AS b
        |  FROM y LEFT JOIN y y2 ON y2.event_type = y.event_type AND y2.rn = 2
        |  WHERE y.rn = 1
        |  UNION ALL
        |  SELECT yy.event_type, yy.rn, yy.bucket, yy.y_r,
        |         h.l + h.b AS yhat,
        |         0.5 * yy.y_r + 0.5 * (h.l + h.b) AS l,
        |         0.3 * ((0.5 * yy.y_r + 0.5 * (h.l + h.b)) - h.l) + 0.7 * h.b AS b
        |  FROM h JOIN y yy ON yy.event_type = h.event_type AND yy.rn = h.rn + 1)
        |SELECT event_type, bucket, FALSE AS is_forecast, y_r,
        |       round(yhat, 6) AS yhat_r, round(l, 6) AS level_r, round(b, 6) AS trend_r
        |FROM h
        |UNION ALL
        |SELECT h.event_type, h.bucket + g.g, TRUE, NULL,
        |       round(h.l + g.g * h.b, 6), round(h.l, 6), round(h.b, 6)
        |FROM h JOIN tmax ON h.event_type = tmax.event_type AND h.rn = tmax.t,
        |     generate_series(1, 3) g(g)
        |ORDER BY event_type, bucket""".stripMargin,
    // the identical all-integer recurrence: truncating BIGINT division
    // (DuckDB // and Scala Long./ both truncate toward zero), squared
    // integer outlier gate — bit-equal trajectories, no rounding at all
    "ts_kalman" ->
      s"""WITH RECURSIVE
        |e AS (SELECT event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bucket,
        |             CAST(round(value * 1e6) AS BIGINT) AS vmic
        |      FROM events WHERE value IS NOT NULL),
        |y AS (SELECT event_type, bucket,
        |             CAST(round(round(CAST(sum(vmic) AS DOUBLE) / 1e6 / count(*), 6)
        |                        * 1e6) AS BIGINT) AS z,
        |             row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
        |      FROM e GROUP BY 1, 2),
        |kal AS (
        |  SELECT event_type, rn, bucket, z, z AS x,
        |         CAST($KalmanR AS BIGINT) AS p,
        |         CAST(1000000 AS BIGINT) AS k, FALSE AS is_outlier
        |  FROM y WHERE rn = 1
        |  UNION ALL
        |  SELECT n.event_type, n.rn, n.bucket, n.z,
        |         kal.x + ((kal.p + $KalmanQ) * 1000000
        |                  // (kal.p + $KalmanQ + $KalmanR)) * (n.z - kal.x) // 1000000,
        |         (1000000 - (kal.p + $KalmanQ) * 1000000
        |                    // (kal.p + $KalmanQ + $KalmanR)) * (kal.p + $KalmanQ) // 1000000,
        |         (kal.p + $KalmanQ) * 1000000 // (kal.p + $KalmanQ + $KalmanR),
        |         least(abs(n.z - kal.x), 1700000000) * least(abs(n.z - kal.x), 1700000000)
        |           > 9 * (kal.p + $KalmanQ + $KalmanR) * 1000000
        |  FROM kal JOIN y n ON n.event_type = kal.event_type AND n.rn = kal.rn + 1)
        |SELECT event_type, bucket, z AS z_micros, x AS x_micros, p AS p_micros,
        |       k AS k_micros, is_outlier
        |FROM kal ORDER BY event_type, bucket""".stripMargin,
    // mean/std rounded FIRST; z from the rounded operands; flag from the
    // rounded z — no comparison ever sees an unrounded float
    "ts_anomaly_zscore" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
        |           FROM events WHERE value IS NOT NULL),
        |w AS (SELECT event_id, user_id, ts_us, value,
        |        CAST(count(value) OVER win AS BIGINT) AS n_base,
        |        round(avg(value) OVER win, 6) AS mean_r,
        |        round(stddev_samp(value) OVER win, 6) AS std_r
        |      FROM e
        |      WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, ts_us, value, n_base, mean_r, std_r,
        |       CASE WHEN n_base >= 5 AND std_r > 0
        |            THEN round((value - mean_r) / std_r, 4) + 0 END AS z,
        |       coalesce(CASE WHEN n_base >= 5 AND std_r > 0
        |            THEN abs(round((value - mean_r) / std_r, 4)) > 3.0 END, FALSE) AS is_anomaly
        |FROM w ORDER BY event_id""".stripMargin,
    // open/close via deterministic first/last row ranks — values copied,
    // never recomputed, so they hash exactly; only the sum is rounded
    "ts_ohlc" ->
      """WITH e AS (SELECT event_type, event_id, value,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bucket
        |           FROM events WHERE value IS NOT NULL),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY event_type, bucket
        |                           ORDER BY ts_us, event_id) AS ra,
        |        row_number() OVER (PARTITION BY event_type, bucket
        |                           ORDER BY ts_us DESC, event_id DESC) AS rd
        |      FROM e)
        |SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
        |       max(CASE WHEN ra = 1 THEN value END) AS open,
        |       max(value) AS high, min(value) AS low,
        |       max(CASE WHEN rd = 1 THEN value END) AS close,
        |       round(sum(value), 6) AS volume
        |FROM r GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,
    // the bounded self-join is the oracle's form of the ROWS-20 frame;
    // identical weights, closed-form normalizer
    "ts_ewma" ->
      """WITH e AS (SELECT event_id, user_id, value,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |           FROM events WHERE value IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                   ORDER BY ts_us, event_id) AS rn FROM e),
        |j AS (SELECT a.user_id, a.event_id, a.ts_us, a.value, a.rn,
        |             sum(b.value * pow(0.7, a.rn - b.rn)) AS num,
        |             count(*) AS n
        |      FROM r a JOIN r b ON a.user_id = b.user_id
        |                       AND b.rn BETWEEN a.rn - 19 AND a.rn
        |      GROUP BY 1, 2, 3, 4, 5)
        |SELECT user_id, event_id, ts_us, value,
        |       round(num / ((1 - pow(0.7, n)) / 0.3), 6) AS ewma
        |FROM j ORDER BY user_id, ts_us, event_id""".stripMargin,
    // bucket means rounded before interpolating; exact integer bucket
    // distances; edges extend flat
    "ts_interpolate" ->
      """WITH e AS (SELECT user_id,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bucket, value
        |           FROM events WHERE value IS NOT NULL),
        |pb AS (SELECT user_id, bucket, round(avg(value), 6) AS v_raw FROM e GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM pb GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket FROM bounds),
        |f AS (SELECT g.user_id, g.bucket, pb.v_raw
        |      FROM grid g LEFT JOIN pb USING (user_id, bucket)),
        |x AS (SELECT user_id, bucket, v_raw,
        |        last_value(v_raw IGNORE NULLS) OVER wp AS pv,
        |        last_value(CASE WHEN v_raw IS NOT NULL THEN bucket END IGNORE NULLS)
        |          OVER wp AS pbk,
        |        first_value(v_raw IGNORE NULLS) OVER wn AS nv,
        |        first_value(CASE WHEN v_raw IS NOT NULL THEN bucket END IGNORE NULLS)
        |          OVER wn AS nbk
        |      FROM f
        |      WINDOW wp AS (PARTITION BY user_id ORDER BY bucket
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |             wn AS (PARTITION BY user_id ORDER BY bucket
        |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, bucket, bucket * 3600000000 AS ts_us, v_raw IS NULL AS is_gap,
        |       floor((CASE WHEN v_raw IS NOT NULL THEN v_raw
        |                  WHEN pv IS NULL THEN nv
        |                  WHEN nv IS NULL THEN pv
        |                  ELSE pv + (nv - pv) * CAST(bucket - pbk AS DOUBLE)
        |                                      / CAST(nbk - pbk AS DOUBLE)
        |             END) * 1e6 + 0.5) / 1e6 AS v
        |FROM x ORDER BY user_id, bucket""".stripMargin,
    // same blocks, same cap, same prefix operands — Levenshtein is
    // identically defined in both engines on this ASCII corpus
    "dedup_fuzzy" ->
      """WITH d AS (SELECT doc_id, lang, substr(text, 1, 80) AS prefix,
        |                  substr(text, 1, 8) AS sig, n_chars // 20 AS lb
        |           FROM documents),
        |b AS (SELECT lang, lb, sig, count(*) AS bn FROM d GROUP BY 1, 2, 3),
        |k AS (SELECT d.* FROM d JOIN b USING (lang, lb, sig) WHERE bn BETWEEN 2 AND 50)
        |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
        |       CAST(levenshtein(a.prefix, c.prefix) AS BIGINT) AS dist
        |FROM k a JOIN k c ON a.lang = c.lang AND a.lb = c.lb AND a.sig = c.sig
        |                 AND a.doc_id < c.doc_id
        |WHERE levenshtein(a.prefix, c.prefix) <= 5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "sample_split" ->
      """WITH d AS (SELECT doc_id, source,
        |                  (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 100
        |                    AS bucket
        |           FROM documents)
        |SELECT doc_id, source,
        |       CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM d ORDER BY doc_id""".stripMargin,
    "window_ntile" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |                  ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
        |           FROM documents)
        |SELECT CAST(decile AS BIGINT) AS decile, CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(n_chars) AS BIGINT) AS min_chars,
        |       CAST(max(n_chars) AS BIGINT) AS max_chars,
        |       round(avg(n_chars), 6) AS avg_chars
        |FROM r GROUP BY 1 ORDER BY decile""".stripMargin,
    // losslessness: the compacted copy must aggregate identically to the
    // source table (counts, distinct ids, char totals per source)
    "compact_small_files" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // identical two-pass rounded-mean centering — see the Spark scaladoc
    "agg_moments" ->
      """WITH m AS (SELECT l_returnflag AS flag, round(avg(l_extendedprice), 6) AS mean_r
        |           FROM lineitem GROUP BY 1),
        |c AS (SELECT l.l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
        |             sum(pow(l.l_extendedprice - m.mean_r, 2)) AS s2,
        |             sum(pow(l.l_extendedprice - m.mean_r, 3)) AS s3,
        |             sum(pow(l.l_extendedprice - m.mean_r, 4)) AS s4,
        |             any_value(m.mean_r) AS mean_r
        |      FROM lineitem l JOIN m ON l.l_returnflag = m.flag GROUP BY 1)
        |SELECT flag, n, mean_r,
        |       round(sqrt(s2 / n), 4) AS std_pop,
        |       round((s3 / n) / pow(s2 / n, 1.5), 5) AS skewness,
        |       round((s4 / n) / pow(s2 / n, 2) - 3, 5) AS kurtosis
        |FROM c ORDER BY flag""".stripMargin,
    // same zero-filled grid as agg_corr, shifted against itself per lag
    "ts_autocorr" ->
      """WITH e AS (SELECT event_type,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h
        |           FROM events),
        |hours AS (SELECT DISTINCT h FROM e), types AS (SELECT DISTINCT event_type FROM e),
        |grid AS (SELECT h, event_type FROM hours CROSS JOIN types),
        |cnt AS (SELECT h, event_type, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |f AS (SELECT g.h, g.event_type, coalesce(cnt.n, 0) AS n
        |      FROM grid g LEFT JOIN cnt USING (h, event_type)),
        |lags AS (SELECT unnest(range(1, 7)) AS lag),
        |j AS (SELECT a.event_type, l.lag, a.n AS na, b.n AS nb
        |      FROM f a CROSS JOIN lags l
        |      JOIN f b ON b.event_type = a.event_type AND b.h = a.h + l.lag)
        |SELECT event_type, CAST(lag AS BIGINT) AS lag,
        |       round(corr(na, nb), 6) AS r, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM j GROUP BY 1, 2 ORDER BY event_type, lag""".stripMargin,
    // integer-cents CUSUM: the running sum is exact BIGINT arithmetic, so
    // any accumulation order hashes identically
    "ts_changepoint" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
        |           FROM events WHERE value IS NOT NULL),
        |m AS (SELECT user_id, round(avg(value), 6) AS mean_r,
        |             round(stddev_samp(value), 6) AS std_r
        |      FROM e GROUP BY user_id),
        |c AS (SELECT e.event_id, e.user_id, e.ts_us, e.value,
        |             CAST(floor((e.value - m.mean_r) * 100 + 0.5) AS BIGINT) AS dev_c,
        |             CAST(floor(m.std_r * 500 + 0.5) AS BIGINT) AS thr_c
        |      FROM e JOIN m USING (user_id))
        |SELECT event_id, user_id, ts_us, value,
        |       CAST(sum(dev_c) OVER w AS BIGINT) AS cusum_c,
        |       thr_c,
        |       abs(CAST(sum(dev_c) OVER w AS BIGINT)) > thr_c AS shifted
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "agg_mode" ->
      """WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                   ORDER BY n DESC, event_type) AS rn,
        |             sum(n) OVER (PARTITION BY user_id) AS total
        |      FROM c)
        |SELECT user_id, event_type AS mode_type, n AS n_mode,
        |       CAST(total AS BIGINT) AS n_total,
        |       round(CAST(n AS DOUBLE) / total, 6) AS share
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // layout must not change semantics: the stats-pruned scan's aggregate
    // equals the same aggregate over the raw table
    "scan_stats_pruning" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(value), 6) AS sum_value
        |FROM events WHERE user_id BETWEEN 40 AND 49 AND value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the payload bytes ARE the doc's ASCII text bytes (as in
    // multimodal_metadata), so the oracle reassembles the same PCM16-LE
    // samples from character codes; integer energy sums are exact
    // exact integer byte sums over the fixed /64 divisor: means are
    // 6-decimal dyadics, so the hash is bit-exact with no fp latitude
    "multimodal_scene_detect" ->
      """WITH d AS (SELECT doc_id, text, length(text) // 64 AS n_frames FROM documents),
        |fr AS (SELECT doc_id, unnest(range(0, n_frames)) AS frame_idx
        |       FROM d WHERE n_frames > 0),
        |m AS (SELECT f.doc_id, f.frame_idx,
        |        list_sum(list_transform(range(0, 64), i ->
        |          ascii(substr(d.text, CAST(f.frame_idx * 64 + i + 1 AS INTEGER), 1))))
        |          / 64.0 AS mean_px
        |      FROM fr f JOIN d ON f.doc_id = d.doc_id),
        |x AS (SELECT doc_id, frame_idx, mean_px,
        |        mean_px - lag(mean_px) OVER (PARTITION BY doc_id
        |                                     ORDER BY frame_idx) AS diff
        |      FROM m)
        |SELECT doc_id, frame_idx, round(mean_px, 6) AS mean_px,
        |       round(diff, 6) AS diff,
        |       coalesce(abs(round(diff, 6)) > 2.0, FALSE) AS is_cut
        |FROM x ORDER BY doc_id, frame_idx""".stripMargin,
    // same sample assembly as the RMS oracle; identical cos/sin argument
    // association; magnitudes rounded to 2 dp BEFORE the peak rank
    "multimodal_audio_fft" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 320),
        |nn AS (SELECT doc_id, unnest(range(0, 160)) AS i FROM d),
        |x AS (SELECT r.doc_id, r.i,
        |             CASE WHEN r.raw >= 32768 THEN r.raw - 65536 ELSE r.raw END AS x
        |      FROM (SELECT nn.doc_id, nn.i,
        |              ascii(substr(d.text, CAST(2 * nn.i + 1 AS INTEGER), 1))
        |              + 256 * ascii(substr(d.text, CAST(2 * nn.i + 2 AS INTEGER), 1)) AS raw
        |            FROM nn JOIN d ON nn.doc_id = d.doc_id) r),
        |b AS (SELECT doc_id, unnest(range(1, 17)) AS bin FROM d),
        |f AS (SELECT b.doc_id, b.bin,
        |        sum(CAST(x.x AS DOUBLE) * cos(6.283185307179586 * b.bin * x.i / 160.0)) AS re,
        |        sum(CAST(x.x AS DOUBLE) * sin(6.283185307179586 * b.bin * x.i / 160.0)) AS im
        |      FROM b JOIN x ON b.doc_id = x.doc_id GROUP BY 1, 2),
        |m AS (SELECT doc_id, bin, round(sqrt(re * re + im * im), 2) AS mag_r FROM f),
        |p AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY mag_r DESC, bin) AS rn FROM m)
        |SELECT doc_id, CAST(bin AS BIGINT) AS bin, mag_r, rn = 1 AS is_peak
        |FROM p ORDER BY doc_id, bin""".stripMargin,
    "multimodal_audio_rms" ->
      """WITH d AS (SELECT doc_id, text, length(text) // 320 AS n_frames FROM documents),
        |fr AS (SELECT doc_id, n_frames, unnest(range(0, n_frames)) AS frame_idx
        |       FROM d WHERE n_frames > 0),
        |s AS (SELECT f.doc_id, f.n_frames, f.frame_idx,
        |        list_transform(range(0, 160), i ->
        |          CASE WHEN ascii(substr(d.text, CAST(f.frame_idx * 320 + 2 * i + 1 AS INTEGER), 1))
        |                    + 256 * ascii(substr(d.text, CAST(f.frame_idx * 320 + 2 * i + 2 AS INTEGER), 1)) >= 32768
        |               THEN ascii(substr(d.text, CAST(f.frame_idx * 320 + 2 * i + 1 AS INTEGER), 1))
        |                    + 256 * ascii(substr(d.text, CAST(f.frame_idx * 320 + 2 * i + 2 AS INTEGER), 1)) - 65536
        |               ELSE ascii(substr(d.text, CAST(f.frame_idx * 320 + 2 * i + 1 AS INTEGER), 1))
        |                    + 256 * ascii(substr(d.text, CAST(f.frame_idx * 320 + 2 * i + 2 AS INTEGER), 1))
        |          END) AS samples
        |      FROM fr f JOIN d ON f.doc_id = d.doc_id)
        |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
        |       CAST(frame_idx AS BIGINT) AS frame_idx,
        |       round(sqrt(list_sum(list_transform(samples, x -> CAST(x * x AS DOUBLE))) / 160.0), 6) AS rms,
        |       CAST(list_max(list_transform(samples, x -> abs(x))) AS BIGINT) AS peak
        |FROM s ORDER BY doc_id, frame_idx""".stripMargin,
    // both engines linearly interpolate the even-frame midpoint
    "ts_rolling_median" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
        |           FROM events WHERE value IS NOT NULL)
        |SELECT event_id, user_id, ts_us, value,
        |       round(median(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                                 ROWS BETWEEN 10 PRECEDING AND CURRENT ROW), 6) AS med
        |FROM e ORDER BY event_id""".stripMargin,
    "ts_peak_hours" ->
      """WITH e AS (SELECT event_type,
        |                  (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hod
        |           FROM events),
        |c AS (SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |                                   ORDER BY n DESC, hod) AS rn,
        |             sum(n) OVER (PARTITION BY event_type) AS total
        |      FROM c)
        |SELECT event_type, CAST(hod AS BIGINT) AS hod, n,
        |       round(CAST(n AS DOUBLE) / total, 6) AS share,
        |       rn = 1 AS is_peak
        |FROM r ORDER BY event_type, hod""".stripMargin,
    // same centered regressor (constant offset pinned in TrendEpochHours)
    "ts_trend" ->
      """WITH e AS (SELECT user_id,
        |                  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) / 3600000000.0
        |                    - 473000.0 AS th,
        |                  value
        |           FROM events WHERE value IS NOT NULL)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |       round(regr_slope(value, th), 6) AS slope,
        |       round(regr_intercept(value, th), 4) AS intercept,
        |       round(regr_r2(value, th), 6) AS r2
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the compressed round trip must be lossless on the projection
    "scan_csv_gzip" ->
      """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // (global rank) - (per-type rank) is constant within a consecutive run
    "window_streaks" ->
      """WITH e AS (SELECT user_id, event_type,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                   ORDER BY ts_us, event_id) AS rn,
        |             row_number() OVER (PARTITION BY user_id, event_type
        |                                ORDER BY ts_us, event_id) AS rt
        |      FROM e),
        |runs AS (SELECT user_id, event_type, rn - rt AS grp,
        |                CAST(count(*) AS BIGINT) AS len, min(ts_us) AS start_us
        |         FROM r GROUP BY 1, 2, 3),
        |best AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                      ORDER BY len DESC, start_us, event_type) AS brk
        |         FROM runs)
        |SELECT user_id, event_type AS streak_type, len AS streak_len, start_us
        |FROM best WHERE brk = 1 ORDER BY user_id""".stripMargin,
    // ordered string_agg = the struct-sorted transform+join on the Spark side
    "agg_user_paths" ->
      """WITH e AS (SELECT user_id, event_type,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                   ORDER BY ts_us, event_id) AS rn FROM e),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 3 GROUP BY user_id),
        |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_users FROM p GROUP BY path),
        |k AS (SELECT *, row_number() OVER (ORDER BY n_users DESC, path) AS rank FROM c)
        |SELECT CAST(rank AS BIGINT) AS rank, path, n_users FROM k
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,
    "agg_entropy_by_key" ->
      """WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, sum(n) AS total, CAST(count(*) AS BIGINT) AS n_types
        |      FROM c GROUP BY 1)
        |SELECT c.user_id, any_value(t.n_types) AS n_types,
        |       CAST(any_value(t.total) AS BIGINT) AS n_events,
        |       round(-sum((CAST(c.n AS DOUBLE) / t.total)
        |                  * ln(CAST(c.n AS DOUBLE) / t.total)), 6) AS entropy
        |FROM c JOIN t USING (user_id) GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,
    // every product/sum is an exact <2^53 integer; only the division rounds
    "agg_gini" ->
      """WITH r AS (SELECT source, n_chars,
        |                  row_number() OVER (PARTITION BY source
        |                                     ORDER BY n_chars, doc_id) AS i
        |           FROM documents),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n, sum(n_chars) AS s,
        |             sum(CAST(i AS DOUBLE) * n_chars) AS si
        |      FROM r GROUP BY source)
        |SELECT source, n,
        |       round(2.0 * si / (n * s) - (n + 1.0) / n, 6) AS gini
        |FROM g ORDER BY source""".stripMargin,
  )
}
