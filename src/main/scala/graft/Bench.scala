package graft
import org.apache.spark.sql.SparkSession
object Bench {
  // /proc/loadavg snapshot — makes a run on a loaded box SELF-IDENTIFYING:
  // round 5's driver artifact was 10-55x a quiet-box re-run of the same
  // commit and nothing in the JSON revealed it. "unavailable" off-Linux.
  private def loadavg(): String =
    try scala.util.Using.resource(scala.io.Source.fromFile("/proc/loadavg"))(
      _.mkString.trim)
    catch { case _: Throwable => "unavailable" }

  // cumulative guest jiffies from /proc/stat's "cpu" line: (busy, steal).
  // Steal is the taint loadavg CANNOT see — on a shared host the guest's
  // runnable threads simply run slowly, load stays low, and job-count-heavy
  // queries (MLlib iteration loops) inflate 10-50x. The JSON reports the
  // run's steal fraction so such a run is self-identifying too.
  private def cpuJiffies(): (Long, Long) =
    try {
      val cols = scala.util.Using.resource(scala.io.Source.fromFile("/proc/stat"))(
        _.getLines().next()).trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal ...
      (cols.take(3).sum + cols.drop(5).take(2).sum, if (cols.length > 7) cols(7) else 0L)
    } catch { case _: Throwable => (-1L, -1L) }

  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val loadBefore = loadavg()
    val (busy0, steal0) = cpuJiffies()
    val startedAtMs = System.currentTimeMillis()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // fixture-schema preflight (shared with Verify): records what's
    // physically on disk — round 7's fixtures changed encoding under the
    // round and the artifact gave no clue
    val schemas = Verify.schemaFingerprints(spark, sfDir)
    schemas.foreach { case (t, fp) => System.err.println(s"[bench] schema $t=$fp") }
    // CALIBRATION: a fixed, seeded, data-independent codegen'd aggregate
    // (4·10^8 rows, Knuth-hash mod-sum) timed after its own untimed
    // JVM/codegen warm-up pass. Cross-box absolute times have burned two rounds of
    // judging (87.9 s vs 94.1 s vs 177 s for the same commit); per-query
    // numbers quoted as multiples of calib_s normalize out box speed.
    def calibJob(rows: Long): Unit =
      spark.range(0, rows, 1, cpus.toInt)
        .selectExpr("sum(cast(((id * 2654435761) % 1000000007) as double)) as s")
        .head()
    calibJob(10000000L) // untimed: absorb codegen/JIT for the timed pass
    val calibT0 = System.nanoTime()
    calibJob(400000000L) // ~1.3 s at local[16] on the dev box: long enough to dominate noise
    val calibS = (System.nanoTime() - calibT0) / 1e9
    // untimed warm-up: absorb JVM/codegen/netlib/MLlib init so the FIRST
    // timed query (alphabetically) and the first MLlib user aren't inflated
    // ~5-10 s — keeps round-over-round deltas attributable to code changes
    try SparkEntry.queries.get("pipeline_fit_predict").foreach(_(spark, sfDir).count())
    catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up failed: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    // optional arg (dev only; the driver passes none): comma-separated query
    // names to bench alone — spot-timing without the full-run interference
    val only = args.headOption.map(_.split(',').toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    }
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    // observed plan metrics (Dataset.observe — e.g. dedup_minhash's
    // cap-binding signal, r12 advice #3): collected by a listener during
    // the normal action, zero extra passes, reported per metric name
    val observed = scala.collection.concurrent.TrieMap[String, String]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          val rendered = try row.schema.fieldNames.zip(row.toSeq)
            .map { case (k, v) => s"$k=$v" }.mkString(",")
          catch { case _: Throwable => row.toString }
          observed.put(name, rendered)
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             error: Exception): Unit = ()
    })
    // sorted: deterministic execution order makes per-round timings comparable
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      // per-query steal attribution: round 6's artifact had 2.25% AVERAGE
      // steal yet individual queries 13-53x their isolated cost — bursts
      // land on job-count-heavy queries and the run-level number hides
      // them. Jiffies sampled around each query let the gate discard the
      // TAINTED ROWS instead of the whole run.
      val (qBusy0, qSteal0) = cpuJiffies()
      // family-build attribution (r12 verdict ask #4): memoized one-time
      // builds (ANN edges, pair frame, LM scores, fitted model) land on
      // whichever gated query runs them first — snapshot the named-memo
      // build ledger around each query so the artifact reports build and
      // serve separately instead of charging the first family member.
      val ledger0 = graft.core.SessionMemo.buildLedger.size
      // generated-class compiles (Janino) the query triggered: codegen
      // cache misses, repeated ones included — a plan shape that outgrows
      // the session's codegen cache recompiles on every run
      val compiles0 = compiles()
      val t0 = System.nanoTime()
      // a crashing query must read as a FAILURE, not a fast time
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      val builds = graft.core.SessionMemo.buildLedger.drop(ledger0)
      val qCompiles = compiles() - compiles0
      val (qBusy1, qSteal1) = cpuJiffies()
      val qSteal =
        if (qBusy0 < 0 || qBusy1 + qSteal1 <= qBusy0 + qSteal0) -1.0
        else 100.0 * (qSteal1 - qSteal0) / (qBusy1 - qBusy0 + qSteal1 - qSteal0)
      // Registered queries are standalone by contract, so nothing persisted
      // may outlive its query — but eager localCheckpoint RDDs stay in the
      // block manager until a driver GC lets ContextCleaner find them, so
      // across 70+ queries heap-resident blocks accumulate. Released here,
      // OUTSIDE the timed window: bench harness hygiene, not query cost,
      // and it keeps a query's time independent of what ran before it.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      (name, elapsed, qSteal, builds, qCompiles)
    }
    def pct(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qs = results.map { case (k, v, _, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // calibration-NORMALIZED per-query values (seconds / calib_s): the
    // round-over-round comparable number. r10's driver window ran at
    // calib 0.53 vs r9's 0.37 and every raw total regressed ~20% while
    // the code got faster — normalized values make such deltas
    // attributable without forensic A/B against steal windows.
    // 4 dp, not the 2-dp percent helper: a 0.02-normalized query at 2 dp
    // carries up to ~25% quantization error — defeating the purpose
    def norm4(v: Double): String = String.format(java.util.Locale.ROOT,
      "%.4f", Double.box(if (calibS > 0) v / calibS else -1.0))
    val qsNorm = results.map { case (k, v, _, _, _) => s"\"" + k + "\":" + norm4(v) }
      .mkString("{", ",", "}")
    val qsSteal = results.map { case (k, _, s, _, _) => s"\"" + k + "\":" + pct(s) }
      .mkString("{", ",", "}")
    // family-build accounting (r12 verdict ask #4): `family_builds` totals
    // each named memo's one-time build (warm-up-paid builds included via
    // the full ledger); `queries_build` lists the build seconds each query
    // actually paid inline, so serve cost = queries[q] − queries_build[q]
    val familyBuilds = graft.core.SessionMemo.buildLedger
      .groupBy(_._1).map { case (n, xs) => (n, xs.map(_._2).sum) }.toSeq.sortBy(_._1)
    val familyJson = familyBuilds
      .map { case (n, s) => "\"" + n + "\":" + pct(s) }.mkString("{", ",", "}")
    val qsBuild = results.filter(_._4.nonEmpty)
      .map { case (k, _, _, b, _) => s"\"" + k + "\":" + pct(b.map(_._2).sum) }
      .mkString("{", ",", "}")
    val qsCompiles = results.map { case (k, _, _, _, c) => s"\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    // full JSON string escape shared with Verify: a Spark
    // AnalysisException message is routinely multi-line — a raw \n inside
    // the quoted string would corrupt the output exactly on the runs
    // where errors matter
    def q(s: String): String = Verify.q(s)
    val errJson = errors.map(q).mkString("[", ",", "]")
    val observedJson = observed.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val (busy1, steal1) = cpuJiffies()
    val stealPct =
      if (busy0 < 0 || busy1 <= busy0) -1.0
      else 100.0 * (steal1 - steal0) / (busy1 - busy0 + steal1 - steal0)
    // loadavg strings go through q() like the error strings: /proc/loadavg
    // content is benign today, but the "unavailable" fallback path could
    // grow an exception message, and raw interpolation would corrupt the
    // JSON on exactly the runs where the metadata matters.
    // (pct uses Locale.ROOT: default-locale "%.2f" writes a comma decimal
    // separator on many boxes, which is invalid JSON)
    val schemasJson = schemas.map { case (t, fp) => s"${q(t)}:${q(fp)}" }
      .mkString("{", ",", "}")
    val env = s""""load_before":${q(loadBefore)},"load_after":${q(loadavg())},""" +
      s""""steal_pct":${pct(stealPct)},"query_steal_pct":$qsSteal,""" +
      s""""calib_s":${pct(calibS)},"schemas":$schemasJson,""" +
      s""""started_at_ms":$startedAtMs,"finished_at_ms":${System.currentTimeMillis()}"""
    val totalNorm = norm4(total)
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""queries_norm":$qsNorm,"total_norm":$totalNorm,""" +
      s""""family_builds":$familyJson,"queries_build":$qsBuild,""" +
      s""""compiles":${results.map(_._5).sum},"queries_compiles":$qsCompiles,""" +
      s""""observed":$observedJson,""" +
      s""""errors":$errJson,$env,"sf":"$sfDir"}"""
    // The driver keeps only a ~2,000-char TAIL of stdout and parses a JSON
    // line out of it. Round 8's single detail line (198-entry query + steal
    // dicts) outgrew that window, so the artifact landed with parsed:null —
    // no machine-readable totals survived the round. Contract now:
    //   1. full detail JSON → a file (always readable in the repo) AND
    //      stdout first (for humans / full-capture harnesses);
    //   2. a compact (<2,000-char) summary line LAST, so the tail window
    //      always ends with one complete parseable JSON object.
    // Compact-first would not survive: the tail is suffix-based, and the
    // long line behind it would push the summary out of the window.
    // r16 verdict #2: the default detail path was a FIXED file, so the
    // driver's own 8-core scaling run overwrote the 32-core detail in the
    // working tree and per-query grading degraded to reconstruction work.
    // The default is now stamped with core count + start time (never
    // overwritten); $SPARK_GRAFT_BENCH_FULL still pins an explicit path,
    // and BENCH_FULL_local.json is additionally refreshed as a
    // latest-run pointer for existing tooling.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      s"BENCH_FULL_c${cpus}_$startedAtMs.json")
    (Seq(fullPath, "BENCH_FULL_local.json").distinct).foreach { p =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), fullLine + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}") }
    }
    println(fullLine)
    // top-10 slowest queries: the per-query signal that matters for grading,
    // small enough to always fit beside totals/errors/calibration
    val top = results.sortBy(-_._2).take(10)
      .map { case (k, v, _, _, _) => "\"" + k + "\":" + pct(v) }.mkString("{", ",", "}")
    // errors capped at 5 (full list is in the detail file) so a
    // many-failure run cannot push the summary line past the tail window.
    // Sanitize BEFORE truncating: q() expands quotes/backslashes 2x and
    // control chars 6x, so truncating the raw string first could still
    // blow the window (160 raw newline-heavy chars → ~960 escaped) —
    // after replacing every escapable char with a space, escaped length
    // equals raw length and the budget is exact
    def sanitize(e: String): String =
      e.map(c => if (c < ' ' || c == '"' || c == '\\') ' ' else c).take(160)
    val errCompact = (errors.take(5).map(e => q(sanitize(e))) ++
      (if (errors.size > 5) Seq(q(s"...and ${errors.size - 5} more")) else Nil))
      .mkString("[", ",", "]")
    // per-FAMILY seconds (query-name prefix before the first '_'): the
    // densest per-query signal that fits the driver's ~2,000-char tail —
    // 262 per-query entries cannot (round 8 proved it), but ~40 family
    // sums can, giving the round-over-round and 8c/32c scaling compare a
    // machine-readable breakdown even when only the tail survives
    // (r16 verdict #2).
    val famJson = results.groupBy(_._1.takeWhile(_ != '_'))
      .map { case (f, xs) => (f, xs.map(_._2).sum) }.toSeq.sortBy(_._1)
      .map { case (f, v) => "\"" + f + "\":" + pct(v) }.mkString("{", ",", "}")
    // family_builds is tiny (≤ a handful of named memos) and is the
    // round-over-round attribution signal — carried on the compact line too
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},""" +
      s""""errors":$errCompact,"calib_s":${pct(calibS)},"total_norm":$totalNorm,""" +
      s""""steal_pct":${pct(stealPct)},"family_builds":$familyJson,""" +
      s""""families":$famJson,""" +
      s""""top_queries":$top,"detail_file":${q(fullPath)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
