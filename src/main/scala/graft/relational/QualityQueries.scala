package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-quality and warehouse-governance wave: Deequ-style column
  * profiling, a declarative constraint-check battery, and SCD Type 2
  * dimension construction from a change stream.
  *
  * The reference pipeline trusts its inputs (patternly detection.py:81-124
  * consumes a pre-cleaned wide frame; its notebooks drop NaN rows by hand)
  * — at 100 TB nobody hand-inspects a frame, so ingestion runs a profile
  * and a constraint gate first, and slowly-changing entity attributes are
  * tracked as validity intervals rather than overwritten. Conventions
  * match the sibling modules: floats `round(x, 6)`, counts BIGINT, total
  * ORDER BY, identical aliases in the Spark plan and the DuckDB oracle,
  * and any value feeding a comparison is rounded before the comparison.
  */
object QualityQueries {

  /** µs-since-epoch view of a timestamp-typed column, robust to the
    * fixture's TIMESTAMP vs TIMESTAMP_NTZ physical encoding (same contract
    * as [[Tables.tsUsCol]], generalized to any column). The session
    * timezone is pinned UTC by Verify/Bench/TestSpark, so the NTZ cast and
    * DuckDB's `epoch_us` interpret the same wall-clock instant. */
  private def usOf(dt: DataType, c: Column): Column = dt match {
    case TimestampType    => unix_micros(c)
    case TimestampNTZType => unix_micros(c.cast(TimestampType))
    case other => throw new IllegalArgumentException(s"not a timestamp column: $other")
  }

  // -------------------------------------------------------------- column profile
  /** Deequ/Glue-crawler-style table profile of `orders`: one output row
    * per column with row count, null count/fraction, exact distinct
    * count, numeric min/max (timestamps as µs-since-epoch), string
    * min/max, and mean string length. The whole profile is ONE aggregate
    * over one scan — every stat is map-side combinable, so at 100 TB each
    * map task collapses its split to a single partial-stats row before
    * the 1-row exchange. The only non-combinable piece is the exact
    * `count(DISTINCT)` (one Expand ×|columns| inside the same scan, kept
    * here because the DuckDB oracle can replay it exactly); the 100-TB
    * swap is `approx_count_distinct` (HLL), which drops the Expand and
    * keeps the identical single-scan plan — the same exact-vs-sketch axis
    * as agg_quantiles vs agg_quantiles_approx. The column list is read
    * from the scanned schema, not hard-coded, so the operator profiles
    * any table; dtype is reported as a coarse class (`numeric` / `string`
    * / `timestamp`) so a TIMESTAMP↔TIMESTAMP_NTZ fixture regeneration
    * (the round-7 drift) cannot flip the output. */
  private def profileColumns(s: SparkSession, d: String): DataFrame = {
    val df = Tables.tbl(s, d, "orders")
    val stats: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      val (cls, numView, strView) = f.dataType match {
        case _: NumericType => ("numeric", c.cast("double"), lit(null).cast("string"))
        case t @ (TimestampType | TimestampNTZType) =>
          ("timestamp", usOf(t, c).cast("double"), lit(null).cast("string"))
        case StringType => ("string", lit(null).cast("double"), c)
        case other => (other.simpleString, lit(null).cast("double"), lit(null).cast("string"))
      }
      struct(
        lit(f.name).as("col_name"), lit(cls).as("dtype"),
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(c)).as("n_null"),
        round((count(lit(1)) - count(c)).cast("double") / count(lit(1)), 6).as("null_frac"),
        countDistinct(c).as("n_distinct"),
        round(min(numView), 6).as("min_num"), round(max(numView), 6).as("max_num"),
        min(strView).as("min_str"), max(strView).as("max_str"),
        round(avg(length(strView)), 4).as("avg_len"))
    }
    df.agg(array(stats: _*).as("profile"))
      .select(explode(col("profile")).as("p"))
      .select(col("p.*"))
      .orderBy(col("col_name"))
  }

  // ---------------------------------------------------------- constraint checks
  /** Declarative data-quality gate: a battery of named constraints over
    * the warehouse tables, one row per check with its violation count and
    * verdict — the shape a CI data contract consumes. Three constraint
    * classes, each in its scalable form: uniqueness (count minus distinct
    * count, one combinable agg + Expand), referential integrity (LEFT
    * ANTI join child→parent on the key — a shuffle semi-join that AQE
    * converts to broadcast when the parent's key projection is small, and
    * that never materializes matches), and row-level predicates
    * (completeness / range / date bounds — a codegen'd filter + combinable
    * count, zero shuffle). Each check collapses to ONE row before the
    * 7-row union, so the union cost is nil at any scale. Date bounds are
    * compared in integer µs-since-epoch so the check is immune to the
    * session-timezone and timestamp-encoding axes. */
  private def dqChecks(s: SparkSession, d: String): DataFrame = {
    val orders   = Tables.tbl(s, d, "orders")
    val customer = Tables.tbl(s, d, "customer")
    val lineitem = Tables.tbl(s, d, "lineitem")
    val docs     = Tables.tbl(s, d, "documents")

    def row(check: String, table: String, violations: Column, from: DataFrame): DataFrame =
      from.agg(violations.cast("long").as("violations"))
        .select(lit(check).as("check_name"), lit(table).as("table_name"),
          col("violations"), (col("violations") === 0L).as("passed"))

    val odateUs = usOf(orders.schema("o_orderdate").dataType, col("o_orderdate"))
    val loUs = lit(694224000000000L)   // 1992-01-01T00:00Z in µs
    val hiUs = lit(915148800000000L)   // 1999-01-01T00:00Z in µs

    val checks = Seq(
      row("orders_pk_unique", "orders",
        count(lit(1)) - countDistinct(col("o_orderkey")), orders),
      row("orders_custkey_fk", "orders",
        count(lit(1)),
        orders.join(customer.select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")),
      row("lineitem_orderkey_fk", "lineitem",
        count(lit(1)),
        lineitem.join(orders.select(col("o_orderkey").as("ok")),
          col("l_orderkey") === col("ok"), "left_anti")),
      row("lineitem_qty_range", "lineitem",
        count(lit(1)),
        lineitem.filter(col("l_quantity") < 1.0 || col("l_quantity") > 50.0)),
      row("customer_name_complete", "customer",
        count(lit(1)),
        customer.filter(col("c_name").isNull || col("c_name") === "")),
      row("orders_date_bounds", "orders",
        count(lit(1)),
        orders.filter(odateUs < loUs || odateUs >= hiUs)),
      row("documents_text_complete", "documents",
        count(lit(1)),
        docs.filter(col("text").isNull || col("text") === "")))
    checks.reduce(_.union(_)).orderBy(col("check_name"))
  }

  // -------------------------------------------------------------- SCD Type 2
  /** Slowly-Changing-Dimension Type 2 build from the event stream: treat
    * each user's `event_type` sequence as a tracked attribute and emit
    * one validity interval per CHANGE — `[valid_from_us, valid_to_us)`,
    * open-ended (NULL) for the current state, with a per-user version
    * counter. Two windows over the SAME (user_id → ts_us, event_id)
    * partitioning: a `lag` to keep only change rows, then `lead` /
    * `row_number` over the surviving rows — one exchange, two bounded
    * sorts, O(1) state per row, and the interval table is at most one row
    * per source change at any scale. Ties on ts are broken by the unique
    * event_id in both engines, so run boundaries are deterministic. This
    * is the dimension-side companion to merge_upsert (Type 1 overwrite)
    * and the batch twin of the CDC apply in cdc_merge. */
  private def scd2Build(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val changes = Tables.eventsTsUs(s, d)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    changes
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .select(col("user_id"), col("event_type"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"), col("version"))
      .orderBy(col("user_id"), col("version"))
  }

  // ------------------------------------------------------- k-anonymity
  /** k-ANONYMITY audit over the documents quasi-identifiers (lang,
    * source, 200-char length bucket): a release is k-anonymous when every
    * quasi-identifier combination covers ≥ k individuals — groups below
    * k=5 are re-identification risks that a privacy-preserving export
    * must suppress or generalize. ONE map-side-combinable aggregate over
    * the quasi-identifier key space (bounded by |lang|·|source|·buckets,
    * tiny at any corpus scale); the suppression pass a release pipeline
    * appends is a broadcast semi-join of the flagged groups back onto the
    * corpus — same shape as text_decontaminate. */
  private def dqKAnonymity(s: SparkSession, d: String): DataFrame =
    Tables.tbl(s, d, "documents")
      .groupBy(col("lang"), col("source"),
        (col("n_chars") / 200).cast("long").as("len_bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("is_k_anon", col("n") >= 5L)
      .orderBy(col("lang"), col("source"), col("len_bucket"))

  /** FRESHNESS audit — the data-SLA check every warehouse runs before
    * trusting a partition: per event type, the last observed event time,
    * its lag behind the newest event anywhere in the feed (integer
    * minutes, floor), and a staleness flag at the 1-hour SLA. A type that
    * silently stopped emitting is the classic upstream breakage that row
    * counts alone never catch. Plan: one map-side-combinable agg to a
    * |types|-row frame, its 1-row max broadcast back — nothing rescans
    * the feed, so at 100 TB this is one pass (or zero, reading the
    * sink's partition-level max-ts statistics). All integer µs math. */
  private def dqFreshness(s: SparkSession, d: String): DataFrame = {
    val per = Tables.eventsTsUs(s, d).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), max(col("ts_us")).as("last_ts_us"))
    per.crossJoin(broadcast(per.agg(max(col("last_ts_us")).as("feed_max_us"))))
      .select(col("event_type"), col("n_events"), col("last_ts_us"),
        expr("(feed_max_us - last_ts_us) div 60000000").as("lag_min"),
        (col("feed_max_us") - col("last_ts_us") > 3600000000L).as("stale"))
      .orderBy(col("event_type"))
  }

  /** VOLUME-ANOMALY MONITOR — the partition-volume half of pipeline
    * observability (dq_freshness watches "did the feed stop", this
    * watches "did the feed's VOLUME break": a half-empty hour from an
    * upstream outage, a 10× hour from a replay storm). Per event type:
    * hourly arrival counts, the type's population mean/σ over its hours,
    * and a |z| > 3 flag per hour. Cross-engine parity is exact: counts
    * are integers, the second moment accumulates in DECIMAL(38,0) (the
    * embed_outliers device — a LONG square wraps at ~3e9 rows/hour while
    * the oracle's HUGEINT doesn't), and μ/σ are single divisions/sqrt of
    * identical exact values, so the rounded z and the flag cannot flip.
    * 100-TB shape: one map-side-combinable (type, hour) count, then all
    * stats on the tiny hours×types frame; the stats side broadcasts. */
  private def dqVolumeAnomaly(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.eventsTsUs(s, d)
      .withColumn("h", expr("ts_us div 3600000000"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("n"))
    val stats = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), sum(col("n")).as("s1"),
        sum(col("n").cast("decimal(19,0)") * col("n").cast("decimal(19,0)")).as("s2"))
      .select(col("event_type"),
        (col("s1").cast("double") / col("n_hours")).as("mu"),
        sqrt(greatest(col("s2").cast("double") / col("n_hours")
          - (col("s1").cast("double") / col("n_hours"))
            * (col("s1").cast("double") / col("n_hours")),
          lit(0.0))).as("sd"))
    hourly.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("h"), col("n"),
        round(col("mu"), 6).as("mu_r"),
        when(col("sd") > 0, round((col("n") - col("mu")) / col("sd"), 6))
          .otherwise(lit(0.0)).as("z_r"),
        (col("sd") > 0 &&
          abs(when(col("sd") > 0, round((col("n") - col("mu")) / col("sd"), 6))
            .otherwise(lit(0.0))) > lit(3.0)).as("is_anomalous"))
      .orderBy(col("event_type"), col("h"))
  }

  /** REFERENTIAL-INTEGRITY audit — the orphan-foreign-key check every
    * warehouse DQ suite runs (dbt relationship tests, Deequ isContainedIn):
    * per declared FK edge, how many child rows reference a missing parent.
    * The four TPC-H edges hold by construction (the generator is
    * consistent — their rows prove the CLEAN branch); the fifth audits
    * events.user_id against the customer table, where the fixture's user
    * space genuinely exceeds the customer space — real orphans exercise
    * the violation branch at every SF. Plan per edge: distinct parent
    * keys, one LEFT join, two combinable counts — the anti-join shape; at
    * 100 TB the standard prepass is a bloom filter of parent keys
    * (join_bloom_prune demonstrates exactly that) so only candidate
    * orphans shuffle. */
  private def dqReferentialIntegrity(s: SparkSession, d: String): DataFrame = {
    def audit(name: String, child: DataFrame, fk: String,
              parent: DataFrame, pk: String): DataFrame =
      child.select(col(fk).cast("long").as("k")).filter(col("k").isNotNull)
        .join(parent.select(col(pk).cast("long").as("k")).distinct()
          .withColumn("hit", lit(1)), Seq("k"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("relationship"), col("n_rows"), col("n_orphans"),
          round(col("n_orphans").cast("double") / col("n_rows"), 6).as("orphan_rate"),
          (col("n_orphans") === 0L).as("ok"))
    val edges = Seq(
      audit("lineitem.l_orderkey->orders", Tables.tbl(s, d, "lineitem"), "l_orderkey",
        Tables.tbl(s, d, "orders"), "o_orderkey"),
      audit("lineitem.l_partkey->part", Tables.tbl(s, d, "lineitem"), "l_partkey",
        Tables.tbl(s, d, "part"), "p_partkey"),
      audit("lineitem.l_suppkey->supplier", Tables.tbl(s, d, "lineitem"), "l_suppkey",
        Tables.tbl(s, d, "supplier"), "s_suppkey"),
      audit("orders.o_custkey->customer", Tables.tbl(s, d, "orders"), "o_custkey",
        Tables.tbl(s, d, "customer"), "c_custkey"),
      audit("events.user_id->customer", Tables.events(s, d), "user_id",
        Tables.tbl(s, d, "customer"), "c_custkey"))
    edges.reduce(_ unionByName _).orderBy(col("relationship"))
  }

  /** WRITE-AUDIT-PUBLISH — the atomic-visibility pattern (Iceberg/Delta
    * WAP) that makes a 100-TB sink safe to read mid-ingest: (1) WRITE the
    * cleaned batch to a staging location and capture the exact file list
    * the committed job produced; (2) AUDIT the staged files (row count vs
    * plan, primary-key uniqueness) BEFORE any reader can see them;
    * (3) PUBLISH by writing a manifest naming those files — readers
    * resolve the manifest, never list the directory. The test plants an
    * ORPHAN part-file in the staging directory after the manifest is cut
    * (the debris a killed executor's un-committed task leaves behind):
    * a directory-listing reader would double-count; the manifest reader
    * must not — the oracle recomputes per-lang counts from the source, so
    * debris leaking into the read IS a hash mismatch. At scale the
    * manifest is the table-format snapshot and "publish" is one atomic
    * pointer swap; audit cost is one pass over the new files only. */
  private def sinkWriteAuditPublish(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_wap")
    try {
    val stage = tmp.resolve("stage").toFile
    val docs = Tables.tbl(s, d, "documents").filter(col("n_chars") > 0)
    docs.repartition(4).write.mode("overwrite").parquet(stage.getPath)
    // the committed write's file list — at scale the commit protocol
    // returns this; locally we snapshot the directory BEFORE any debris
    val committed = stage.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.getPath).sorted
    val staged = s.read.parquet(committed: _*)
    // audit: count + PK uniqueness, one bounded 1-row aggregate
    val a = staged.agg(count(lit(1)).as("n"),
      countDistinct(col("doc_id")).as("nd")).head()
    val auditOk = a.getLong(0) > 0 && a.getLong(0) == a.getLong(1)
    // publish: manifest names exactly the audited files
    val manifest = tmp.resolve("_manifest.json")
    val body = s"""{"rows":${a.getLong(0)},"audit_pk_ok":$auditOk,"files":[${
      committed.map(f => "\"" + f + "\"").mkString(",")}]}"""
    java.nio.file.Files.writeString(manifest, body)
    // debris lands AFTER the manifest — an uncommitted task's leftover
    docs.limit(50).coalesce(1).write.mode("overwrite")
      .parquet(tmp.resolve("orphan").toString)
    tmp.resolve("orphan").toFile.listFiles()
      .filter(_.getName.endsWith(".parquet")).take(1).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          stage.toPath.resolve("part-99999-orphan-uncommitted.parquet"))
      }
    // the reader path: resolve the manifest, read ONLY its files
    val mj = java.nio.file.Files.readString(manifest)
    val files = "\"([^\"]+\\.parquet)\"".r.findAllMatchIn(mj).map(_.group(1)).toSeq
    // localCheckpoint BEFORE the finally deletes the staged files the
    // lazy read would otherwise scan
    s.read.parquet(files: _*)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"))
      .withColumn("audit_pk_ok", lit(auditOk))
      .orderBy(col("lang"))
      .localCheckpoint(true)
    } finally DataPipelineQueries.deleteRecursively(tmp)
  }

  /** ENCRYPTED-AT-REST parquet sink — Parquet MODULAR ENCRYPTION through
    * Spark's own hook (`parquet.crypto.factory.class` →
    * PropertiesDrivenCryptoFactory, keys served by
    * [[graft.sources.ConfKeyringKms]], local AES-GCM key wrapping so the
    * KMS is never hit per file): the footer is encrypted under one master
    * key and the sensitive `text` column under another, which is the
    * column-granular governance posture (an analyst keyed for metadata
    * cannot read the payload column). Two verdicts ride the output row:
    * `footer_encrypted` reads the file's trailing MAGIC directly — an
    * encrypted-footer parquet ends in `PARE`, plaintext in `PAR1`, so the
    * at-rest claim is checked against the BYTES, not the API — and the
    * per-lang aggregate over the decrypted `text` column proves the
    * round trip (the oracle recomputes it from the source, so a decrypt
    * corruption is a hash mismatch). Encryption is pure per-file CPU —
    * no plan change, no extra shuffle, scale-free. */
  private def sinkParquetEncrypted(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_enc")
    try {
      val out = tmp.resolve("docs_enc").toString
      // crypto config travels as PER-OPERATION DataFrameWriter/Reader
      // options (Spark merges them into that job's hadoop conf via
      // newHadoopConfWithOptions) — never the SparkContext-global
      // hadoopConfiguration, which would silently encrypt every
      // concurrent parquet write in the shared session with the test
      // keyring and race a concurrent reader against the restore
      val cryptoOpts = Map(
        "parquet.crypto.factory.class" ->
          "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory",
        "parquet.encryption.kms.client.class" -> "graft.sources.ConfKeyringKms",
        "parquet.encryption.key.list" ->
          "kf:AAECAwQFBgcICQoLDA0ODw==, kc:EBESExQVFhcYGRobHB0eHw==")
      Tables.tbl(s, d, "documents")
        .write.mode("overwrite")
        .options(cryptoOpts)
        .option("parquet.encryption.footer.key", "kf")
        .option("parquet.encryption.column.keys", "kc:text")
        .parquet(out)
      val part = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
      val raf = new java.io.RandomAccessFile(part, "r")
      val magic = try {
        raf.seek(part.length() - 4)
        val b = new Array[Byte](4); raf.readFully(b); new String(b, "US-ASCII")
      } finally raf.close()
      s.read.options(cryptoOpts).parquet(out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_text_chars"))
        .withColumn("footer_encrypted", lit(magic == "PARE"))
        .orderBy(col("lang"))
        .localCheckpoint(true)
    } finally DataPipelineQueries.deleteRecursively(tmp)
  }

  /** IN-FLIGHT observability — Spark's `Observation` API: QC counters
    * (row count, char mass, empty-doc count, null-lang count) are
    * attached to the MAIN corpus pass with `df.observe(...)` and
    * harvested from the driver-side accumulator after the action — ZERO
    * extra scans, which is the whole point at 100 TB (a separate QC query
    * would re-read the corpus; here the counters ride the pass the
    * pipeline already runs — the per-lang aggregate a mixing step needs).
    * The oracle recomputes every observed value from the source, so a
    * dropped-row or double-count in the observation path is a hash
    * mismatch. The observed metrics come back as ONE result row joined
    * (broadcast, literally one row) onto the per-lang output. */
  private def observeMetrics(s: SparkSession, d: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation("corpus_qc")
    val observed = Tables.tbl(s, d, "documents")
      .observe(obs,
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        count(when(length(col("text")) === 0, 1)).as("n_empty"),
        count(when(col("lang").isNull, 1)).as("n_null_lang"))
    // the action that both produces the pipeline output AND populates the
    // observation: one corpus pass, |langs| rows back
    val perLang = observed.groupBy(col("lang")).agg(count(lit(1)).as("n")).collect()
    val m = obs.get
    import s.implicits._
    perLang.map(r => (r.getString(0), r.getLong(1))).toSeq.toDF("lang", "n")
      .withColumn("n_docs", lit(m("n_docs").asInstanceOf[Long]))
      .withColumn("total_chars", lit(m("total_chars").asInstanceOf[Long]))
      .withColumn("n_empty", lit(m("n_empty").asInstanceOf[Long]))
      .withColumn("n_null_lang", lit(m("n_null_lang").asInstanceOf[Long]))
      .orderBy(col("lang"))
  }

  /** SNAPSHOT DRIFT audit — the data-contract monitor between two table
    * versions: per watched column, null rate, distinct cardinality,
    * numeric range and mean are profiled on each snapshot and compared;
    * the drift row per column carries the deltas and the alert booleans a
    * contract would page on. Snapshots here are the two event_id-parity
    * halves of events (a deterministic stand-in for yesterday/today the
    * oracle reproduces exactly); at scale each snapshot profile is ONE
    * map-side-combinable aggregate over its partition (no join touches
    * row-level data — the drift join is |columns| rows), and yesterday's
    * profile is a stored |columns|-row table, never a re-scan. Means
    * travel as exact integer micro-units; rates round at 6dp. */
  private def dqSchemaDrift(s: SparkSession, d: String): DataFrame = {
    val e = Tables.eventsTsUs(s, d)
    def profile(df: DataFrame, snap: String): DataFrame = {
      val numeric = df.agg(
        count(lit(1)).as("n"),
        count(when(col("value").isNull, 1)).as("n_null"),
        countDistinct(col("user_id")).as("nd_user"),
        countDistinct(col("event_type")).as("nd_type"),
        min(col("ts_us")).as("ts_min"), max(col("ts_us")).as("ts_max"),
        sum(expr("cast(round(value * 1e6) as long)")).as("vmic"))
      numeric.select(lit(snap).as("snap"), col("n"), col("n_null"),
        col("nd_user"), col("nd_type"), col("ts_min"), col("ts_max"), col("vmic"))
    }
    // an EMPTY half yields no drift row on either engine: Spark's global
    // aggregate always returns one row (n=0, null sums) where the
    // oracle's GROUP-BY-snap CTE returns none — the n>0 filter aligns
    // them and guards every division below
    val a = profile(e.filter(col("event_id") % 2 === 0), "a").filter(col("n") > 0)
    val b = profile(e.filter(col("event_id") % 2 === 1), "b").filter(col("n") > 0)
    a.crossJoin(b.select(
        col("n").as("bn"), col("n_null").as("bn_null"),
        col("nd_user").as("bnd_user"), col("nd_type").as("bnd_type"),
        col("ts_min").as("bts_min"), col("ts_max").as("bts_max"),
        col("vmic").as("bvmic")))
      .select(
        col("n"), col("bn"),
        round(col("n_null").cast("double") / col("n")
          - col("bn_null").cast("double") / col("bn"), 6).as("null_rate_delta"),
        round(col("bnd_user").cast("double") / col("nd_user"), 6).as("user_card_ratio"),
        (col("nd_type") === col("bnd_type")).as("type_domain_stable"),
        (col("bts_max") >= col("ts_min")).as("ranges_overlap"),
        round(col("vmic").cast("double") / lit(1e6) / col("n")
          - col("bvmic").cast("double") / lit(1e6) / col("bn"), 6).as("mean_value_delta"),
        (abs(round(col("vmic").cast("double") / lit(1e6) / col("n")
          - col("bvmic").cast("double") / lit(1e6) / col("bn"), 6)) <= 10.0)
          .as("mean_within_tolerance"))
  }

  /** PER-FEATURE DISTRIBUTION DRIFT via the Population Stability Index —
    * the standard model-monitoring / training-data-freshness gate
    * (PSI < 0.1 stable, 0.1–0.2 moderate, > 0.2 drifted), complementing
    * dq_schema_drift (shape) and dq_volume_anomaly (row counts) with
    * VALUE-distribution drift. Baseline/current = the event_id parity
    * split (dedup_incremental's convention); per event_type, `value` is
    * binned into 10 fixed-width bins derived from the BASELINE's exact
    * micro-unit [min, max] (integer arithmetic end-to-end, so bin
    * assignment is bit-identical cross-engine; current-side outliers
    * clamp into the edge bins), Laplace-smoothed (+0.5/bin) so empty
    * bins stay finite, and PSI = Σ (p_c − p_b)·ln(p_c/p_b) folds in bin
    * order (deterministic accumulation — the embed_outliers lesson).
    *
    * 100-TB shape: two combinable aggregates (per-(type, side, bin)
    * counts; per-type totals) over one scan + a 10-bin-universe
    * broadcast — no shuffle grows with the corpus, and the output is
    * |types| rows. */
  private def dqDistributionDrift(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(col("event_type"),
      (col("event_id") % 2 === 0).as("is_base"),
      expr("cast(round(value * 1e6) as bigint)").as("vmic"))
    val edges = e.filter(col("is_base"))
      .groupBy(col("event_type"))
      .agg(min(col("vmic")).as("lo"), max(col("vmic")).as("hi"))
    val counts = e.join(broadcast(edges), "event_type")
      .withColumn("bin", when(col("hi") === col("lo"), lit(0L))
        .otherwise(greatest(lit(0L), least(lit(9L),
          expr("((vmic - lo) * 10) div (hi - lo)")))))
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("nb"),
        sum(when(!col("is_base"), 1L).otherwise(0L)).as("nc"))
    psiVerdict(s, edges, counts)
  }

  /** Universe join + Laplace smoothing + ordered PSI fold — shared by the
    * batch monitor and its streaming replay (one copy: a smoothing or
    * fold-order change must reach both or they diverge under the gate).
    * `counts` carries (event_type, bin, nb, nc); the full 10-bin universe
    * per type keeps empty bins contributing their smoothed term (the
    * standard PSI definition). */
  private def psiVerdict(s: SparkSession, edges: DataFrame, counts: DataFrame): DataFrame = {
    val universe = edges.select(col("event_type"))
      .crossJoin(s.range(10).select(col("id").as("bin")))
    val terms = universe.join(counts, Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("bin"),
        coalesce(col("nb"), lit(0L)).as("nb"), coalesce(col("nc"), lit(0L)).as("nc"))
      .withColumn("tb", sum(col("nb")).over(Window.partitionBy(col("event_type"))))
      .withColumn("tc", sum(col("nc")).over(Window.partitionBy(col("event_type"))))
      .withColumn("pb", (col("nb") + lit(0.5)) / (col("tb") + lit(5.0)))
      .withColumn("pc", (col("nc") + lit(0.5)) / (col("tc") + lit(5.0)))
      .withColumn("term", (col("pc") - col("pb")) * log(col("pc") / col("pb")))
    terms.groupBy(col("event_type"))
      .agg(first(col("tb")).as("n_base"), first(col("tc")).as("n_cur"),
        round(expr(
          "aggregate(transform(array_sort(collect_list(struct(bin, term))), x -> x.term), 0D, (a, x) -> a + x)"),
          6).as("psi"))
      .select(col("event_type"), col("n_base"), col("n_cur"), col("psi"),
        (col("psi") > 0.2).as("drifted"))
      .orderBy(col("event_type"))
  }

  /** stream_dq_drift — the PSI monitor as a LIVE monitoring query (the
    * production deployment shape: baseline bin edges are pinned OFFLINE
    * from the reference corpus and broadcast; the event stream bins
    * against them and per-(type, bin) counts accumulate in COMPLETE-mode
    * aggregation state across triggers — the stream_vocab state shape
    * applied to the dq family). After the bounded AvailableNow replay the
    * sink's accumulated counts are exactly the batch counts, so the PSI
    * verdict computed from them matches dq_distribution_drift
    * value-for-value — directly hash-gated against the SAME DuckDB
    * replay. At 100 TB: the only streaming state is |types|·10 count
    * rows; every trigger's work is one broadcast join plus a combinable
    * count update. */
  private def streamDqDrift(s: SparkSession, d: String): DataFrame = {
    val batchE = Tables.events(s, d).select(col("event_type"),
      (col("event_id") % 2 === 0).as("is_base"),
      expr("cast(round(value * 1e6) as bigint)").as("vmic"))
    val edges = batchE.filter(col("is_base"))
      .groupBy(col("event_type"))
      .agg(min(col("vmic")).as("lo"), max(col("vmic")).as("hi"))
      .localCheckpoint(true) // pinned baseline: read by the stream AND the verdict
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val src =
      if (new java.io.File(s"$d/events.parquet").isDirectory)
        s.readStream.schema(schema).parquet(s"$d/events.parquet")
      else
        s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d)
    val counts = src.select(col("event_type"),
        (col("event_id") % 2 === 0).as("is_base"),
        expr("cast(round(value * 1e6) as bigint)").as("vmic"))
      .join(broadcast(edges), "event_type")
      .withColumn("bin", when(col("hi") === col("lo"), lit(0L))
        .otherwise(greatest(lit(0L), least(lit(9L),
          expr("((vmic - lo) * 10) div (hi - lo)")))))
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("nb"),
        sum(when(!col("is_base"), 1L).otherwise(0L)).as("nc"))
    val sunk = DataPipelineQueries.runMemorySink(counts, "stream_dq_drift_", "complete",
      parts = Some(DataPipelineQueries.streamStateParts(s, d, "events.parquet")))
    psiVerdict(s, edges, sunk)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_distribution_drift" -> (dqDistributionDrift _),
    "stream_dq_drift" -> (streamDqDrift _),
    "dq_referential_integrity" -> (dqReferentialIntegrity _),
    "dq_volume_anomaly" -> (dqVolumeAnomaly _),
    "dq_schema_drift" -> (dqSchemaDrift _),
    "observe_metrics" -> (observeMetrics _),
    "sink_parquet_encrypted" -> (sinkParquetEncrypted _),
    "sink_write_audit_publish" -> (sinkWriteAuditPublish _),
    "dq_freshness" -> (dqFreshness _),
    "dq_k_anonymity" -> (dqKAnonymity _),
    "profile_columns" -> (profileColumns _),
    "dq_checks" -> (dqChecks _),
    "scd2_build" -> (scd2Build _),
  )

  private val oracle1: Map[String, String] = Map(
    // the streaming replay's accumulated complete-mode counts equal the
    // batch counts after the bounded run, so the SAME replay gates it
    "stream_dq_drift" -> DriftOracleSql,
    // identical ladder: exact micro-unit baseline edges, integer-division
    // bin assignment (clamped — trunc-vs-floor cannot diverge after the
    // clamp because the numerator's sign decides both), Laplace +0.5
    // smoothing, ln-ratio terms folded in bin order, round@6 BEFORE the
    // 0.2 comparison
    "dq_distribution_drift" -> DriftOracleSql,
  )

  /** The PSI replay shared verbatim by the batch monitor and its
    * streaming counterpart (their outputs are value-identical). */
  // lazy: referenced from oracle1, which initializes first in object order
  private lazy val DriftOracleSql: String =
      """WITH e AS (SELECT event_type, event_id % 2 = 0 AS is_base,
        |                  CAST(round(value * 1e6) AS BIGINT) AS vmic FROM events),
        |edges AS (SELECT event_type, min(vmic) AS lo, max(vmic) AS hi
        |          FROM e WHERE is_base GROUP BY 1),
        |binned AS (
        |  SELECT e.event_type, e.is_base,
        |         CASE WHEN g.hi = g.lo THEN 0
        |              ELSE greatest(0, least(9, (e.vmic - g.lo) * 10 // (g.hi - g.lo)))
        |         END AS bin
        |  FROM e JOIN edges g USING (event_type)),
        |counts AS (
        |  SELECT event_type, bin,
        |         CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |         CAST(sum(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS BIGINT) AS nc
        |  FROM binned GROUP BY 1, 2),
        |uni AS (SELECT event_type, b.bin FROM edges,
        |        (SELECT unnest(generate_series(0, 9)) AS bin) b),
        |terms AS (
        |  SELECT u.event_type, u.bin,
        |         coalesce(c.nb, 0) AS nb, coalesce(c.nc, 0) AS nc
        |  FROM uni u LEFT JOIN counts c USING (event_type, bin)),
        |tot AS (SELECT event_type, CAST(sum(nb) AS BIGINT) AS tb,
        |               CAST(sum(nc) AS BIGINT) AS tc
        |        FROM terms GROUP BY 1),
        |tv AS (
        |  SELECT t.event_type, t.bin, o.tb, o.tc,
        |         ((t.nc + 0.5) / (o.tc + 5.0) - (t.nb + 0.5) / (o.tb + 5.0))
        |           * ln(((t.nc + 0.5) / (o.tc + 5.0))
        |                / ((t.nb + 0.5) / (o.tb + 5.0))) AS term
        |  FROM terms t JOIN tot o USING (event_type))
        |SELECT event_type, tb AS n_base, tc AS n_cur,
        |       round(CAST(list_sum(list(term ORDER BY bin)) AS DOUBLE), 6) AS psi,
        |       round(CAST(list_sum(list(term ORDER BY bin)) AS DOUBLE), 6) > 0.2 AS drifted
        |FROM tv GROUP BY event_type, tb, tc
        |ORDER BY event_type""".stripMargin

  private val oracle2: Map[String, String] = Map(
    // the same five FK edges, the same LEFT-join orphan counts
    "dq_referential_integrity" -> {
      val edges = Seq(
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"))
      val parts = edges.map { case (name, ct, fk, pt, pk) =>
        s"""SELECT '$name' AS relationship,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
           |FROM (SELECT CAST($fk AS BIGINT) AS k FROM $ct WHERE $fk IS NOT NULL) c
           |LEFT JOIN (SELECT DISTINCT CAST($pk AS BIGINT) AS k FROM $pt) p USING (k)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""SELECT relationship, n_rows, n_orphans,
         |       round(CAST(n_orphans AS DOUBLE) / n_rows, 6) AS orphan_rate,
         |       n_orphans = 0 AS ok
         |FROM ($parts)
         |ORDER BY relationship""".stripMargin
    },
    // identical exact-moment ladder: integer counts, DECIMAL second
    // moment (HUGEINT-exact here), single divisions, rounded z
    "dq_volume_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type,
        |         CAST(sum(n) AS DOUBLE) / count(*) AS mu,
        |         sqrt(greatest(
        |           CAST(sum(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))
        |                AS DOUBLE) / count(*)
        |           - (CAST(sum(n) AS DOUBLE) / count(*))
        |             * (CAST(sum(n) AS DOUBLE) / count(*)), 0.0)) AS sd
        |  FROM hourly GROUP BY 1)
        |SELECT h.event_type, CAST(h.h AS BIGINT) AS h, h.n,
        |       round(st.mu, 6) AS mu_r,
        |       CASE WHEN st.sd > 0 THEN round((h.n - st.mu) / st.sd, 6)
        |            ELSE CAST(0.0 AS DOUBLE) END AS z_r,
        |       st.sd > 0 AND
        |         abs(CASE WHEN st.sd > 0 THEN round((h.n - st.mu) / st.sd, 6)
        |                  ELSE CAST(0.0 AS DOUBLE) END) > 3.0 AS is_anomalous
        |FROM hourly h JOIN st USING (event_type)
        |ORDER BY h.event_type, h.h""".stripMargin,
    // the same two parity snapshots, the same micro-int means
    "dq_schema_drift" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |p AS (SELECT event_id % 2 AS snap,
        |             CAST(count(*) AS BIGINT) AS n,
        |             CAST(count(*) FILTER (value IS NULL) AS BIGINT) AS n_null,
        |             CAST(count(DISTINCT user_id) AS BIGINT) AS nd_user,
        |             CAST(count(DISTINCT event_type) AS BIGINT) AS nd_type,
        |             min(ts_us) AS ts_min, max(ts_us) AS ts_max,
        |             CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS vmic
        |      FROM e GROUP BY 1),
        |a AS (SELECT * FROM p WHERE snap = 0),
        |b AS (SELECT * FROM p WHERE snap = 1)
        |SELECT a.n, b.n AS bn,
        |       round(CAST(a.n_null AS DOUBLE) / a.n
        |             - CAST(b.n_null AS DOUBLE) / b.n, 6) AS null_rate_delta,
        |       round(CAST(b.nd_user AS DOUBLE) / a.nd_user, 6) AS user_card_ratio,
        |       a.nd_type = b.nd_type AS type_domain_stable,
        |       b.ts_max >= a.ts_min AS ranges_overlap,
        |       round(CAST(a.vmic AS DOUBLE) / 1e6 / a.n
        |             - CAST(b.vmic AS DOUBLE) / 1e6 / b.n, 6) AS mean_value_delta,
        |       abs(round(CAST(a.vmic AS DOUBLE) / 1e6 / a.n
        |             - CAST(b.vmic AS DOUBLE) / 1e6 / b.n, 6)) <= 10.0
        |         AS mean_within_tolerance
        |FROM a CROSS JOIN b""".stripMargin,
    // every observed counter recomputed from the source alongside the
    // per-lang output the pass produced
    "observe_metrics" ->
      """WITH g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |                  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |                  CAST(count(CASE WHEN length(text) = 0 THEN 1 END) AS BIGINT) AS n_empty,
        |                  CAST(count(CASE WHEN lang IS NULL THEN 1 END) AS BIGINT) AS n_null_lang
        |           FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |       g.n_docs, g.total_chars, g.n_empty, g.n_null_lang
        |FROM documents CROSS JOIN g
        |GROUP BY lang, g.n_docs, g.total_chars, g.n_empty, g.n_null_lang
        |ORDER BY lang""".stripMargin,
    // recomputed from SOURCE: a decrypt corruption in the round trip (or
    // an unencrypted footer) breaks the hash via the verdict column
    "sink_parquet_encrypted" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_text_chars,
        |       TRUE AS footer_encrypted
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // recomputed from the SOURCE: if directory debris leaked into the
    // manifest read, counts double and the hash breaks
    "sink_write_audit_publish" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
        |       TRUE AS audit_pk_ok
        |FROM documents WHERE n_chars > 0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // same integer-µs lag math; // floors like Spark's div on non-negatives
    "dq_freshness" ->
      """WITH per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |                    max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_ts_us
        |             FROM events GROUP BY event_type),
        |g AS (SELECT max(last_ts_us) AS feed_max_us FROM per)
        |SELECT event_type, n_events, last_ts_us,
        |       CAST((feed_max_us - last_ts_us) // 60000000 AS BIGINT) AS lag_min,
        |       (feed_max_us - last_ts_us) > 3600000000 AS stale
        |FROM per CROSS JOIN g ORDER BY event_type""".stripMargin,
    "dq_k_anonymity" ->
      """SELECT lang, source, CAST(n_chars // 200 AS BIGINT) AS len_bucket,
        |       CAST(count(*) AS BIGINT) AS n, count(*) >= 5 AS is_k_anon
        |FROM documents GROUP BY 1, 2, 3
        |ORDER BY lang, source, len_bucket""".stripMargin,
    // one SELECT per column, mirroring the Spark side's per-column stat
    // struct; timestamps profiled in µs, dtype as the coarse class
    "profile_columns" -> {
      val numCol = (n: String, cls: String, minmax: String) =>
        s"""SELECT '$n' AS col_name, '$cls' AS dtype,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($n) AS BIGINT) AS n_null,
           |  round(CAST(count(*) - count($n) AS DOUBLE) / count(*), 6) AS null_frac,
           |  CAST(count(DISTINCT $n) AS BIGINT) AS n_distinct,
           |  round(min($minmax), 6) AS min_num, round(max($minmax), 6) AS max_num,
           |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
           |  CAST(NULL AS DOUBLE) AS avg_len FROM orders""".stripMargin
      val strCol = (n: String) =>
        s"""SELECT '$n' AS col_name, 'string' AS dtype,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($n) AS BIGINT) AS n_null,
           |  round(CAST(count(*) - count($n) AS DOUBLE) / count(*), 6) AS null_frac,
           |  CAST(count(DISTINCT $n) AS BIGINT) AS n_distinct,
           |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           |  min($n) AS min_str, max($n) AS max_str,
           |  round(avg(length($n)), 4) AS avg_len FROM orders""".stripMargin
      Seq(
        numCol("o_orderkey", "numeric", "CAST(o_orderkey AS DOUBLE)"),
        numCol("o_custkey", "numeric", "CAST(o_custkey AS DOUBLE)"),
        strCol("o_orderstatus"),
        numCol("o_totalprice", "numeric", "o_totalprice"),
        numCol("o_orderdate", "timestamp",
          "CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS DOUBLE)"),
        strCol("o_orderpriority"),
      ).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "dq_checks" ->
      """WITH c AS (
        |  SELECT 'orders_pk_unique' AS check_name, 'orders' AS table_name,
        |         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations FROM orders
        |  UNION ALL
        |  SELECT 'orders_custkey_fk', 'orders', CAST(count(*) AS BIGINT)
        |  FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |  UNION ALL
        |  SELECT 'lineitem_orderkey_fk', 'lineitem', CAST(count(*) AS BIGINT)
        |  FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |  UNION ALL
        |  SELECT 'lineitem_qty_range', 'lineitem', CAST(count(*) AS BIGINT)
        |  FROM lineitem WHERE l_quantity < 1.0 OR l_quantity > 50.0
        |  UNION ALL
        |  SELECT 'customer_name_complete', 'customer', CAST(count(*) AS BIGINT)
        |  FROM customer WHERE c_name IS NULL OR c_name = ''
        |  UNION ALL
        |  SELECT 'orders_date_bounds', 'orders', CAST(count(*) AS BIGINT)
        |  FROM orders WHERE epoch_us(CAST(o_orderdate AS TIMESTAMP)) < 694224000000000
        |                 OR epoch_us(CAST(o_orderdate AS TIMESTAMP)) >= 915148800000000
        |  UNION ALL
        |  SELECT 'documents_text_complete', 'documents', CAST(count(*) AS BIGINT)
        |  FROM documents WHERE text IS NULL OR text = '')
        |SELECT check_name, table_name, violations, violations = 0 AS passed
        |FROM c ORDER BY check_name""".stripMargin,
    "scd2_build" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |                  event_id, event_type FROM events),
        |chg AS (SELECT * FROM (
        |    SELECT user_id, ts_us, event_id, event_type,
        |           lag(event_type) OVER w AS prev_type
        |    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type, ts_us AS valid_from_us,
        |       lead(ts_us) OVER w AS valid_to_us,
        |       lead(ts_us) OVER w IS NULL AS is_current,
        |       CAST(row_number() OVER w AS BIGINT) AS version
        |FROM chg WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |ORDER BY user_id, version""".stripMargin,
  )

  val oracle: Map[String, String] = oracle1 ++ oracle2
}
