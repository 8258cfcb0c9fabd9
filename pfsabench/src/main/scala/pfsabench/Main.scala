package pfsabench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

/** The metrics the benchmark reports. BENCHMARK.json lists the same names;
  * a spec keeps the two in step. */
object Metrics {
  /** (name, unit, better) — the end-to-end metrics bounded between commits. */
  val endToEnd: Seq[(String, String, String)] = Seq(
    ("symbols_per_s", "1/s", "higher"),
    ("call_p50_s", "s", "lower"),
    ("setup_s", "s", "lower"))

  val jobLayers: Seq[String] = Seq(Layers.Batch, "core.quantize", "core.cluster", "core.genesess",
    "core.llk", "core.segment", Layers.Stream)

  private val common: Seq[(String, String)] = Seq(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count", "busy_s" -> "s",
    "self_s" -> "s", "task_cpu_s" -> "s", "task_run_s" -> "s", "gc_s" -> "s",
    "shuffle_write_bytes" -> "B", "shuffle_read_bytes" -> "B", "spill_bytes" -> "B",
    "cpu_util" -> "frac")

  /** (name, unit) of every per-layer metric, in report order. */
  val perLayer: Seq[(String, String)] =
    jobLayers.flatMap(l => common.map { case (f, u) => s"$l.$f" -> u }) ++
      Seq(Layers.Batch, "core.segment", Layers.Stream).map(l => s"$l.driver_gap_s" -> "s") ++
      Seq("core.quantize", "core.llk", "core.segment").flatMap(l =>
        Seq(s"$l.rows_in" -> "count", s"$l.rows_out" -> "count")) ++
      Seq("core.genesess", "core.llk").map(l => s"$l.peak_exec_mem_bytes" -> "B") ++
      Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count", "task_cpu_s" -> "s",
        "task_run_s" -> "s", "gc_s" -> "s", "shuffle_write_bytes" -> "B",
        "shuffle_read_bytes" -> "B", "spill_bytes" -> "B", "peak_exec_mem_bytes" -> "B",
        "failed_tasks" -> "count", "cpu_util" -> "frac").map { case (f, u) => s"spark.$f" -> u } ++
      Seq(
        s"${Layers.Batch}.calls" -> "count",
        s"${Layers.Stream}.calls" -> "count",
        "pipeline.continuous.calls" -> "count",
        "pipeline.continuous.births_per_window" -> "frac",
        "core.segment.dup_ratio" -> "ratio",
        "core.llk.pairs_per_s" -> "1/s",
        "core.genesess.states" -> "count",
        "streaming.continuous.latest_offset_s" -> "s",
        "streaming.continuous.get_batch_s" -> "s",
        "streaming.continuous.query_planning_s" -> "s",
        "streaming.continuous.add_batch_s" -> "s",
        "streaming.continuous.wal_commit_s" -> "s",
        "streaming.continuous.commit_offsets_s" -> "s",
        "streaming.continuous.state_rows" -> "count",
        "streaming.continuous.state_mem_bytes" -> "B",
        "streaming.continuous.state_commit_s" -> "s",
        "trace_overhead_frac" -> "frac",
        "trace_coverage" -> "frac")
}

object Main {

  final case class Opts(workload: String = "", seed: Long = -1L, seconds: Int = -1,
                        trace: Int = 0, work: String = ".bench_build/pfsabench",
                        commit: String = "unknown", sourceHash: String = "unknown")

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, o.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, o.copy(trace = v.toInt))
    case "--work" :: v :: rest => parse(rest, o.copy(work = v))
    case "--commit" :: v :: rest => parse(rest, o.copy(commit = v))
    case "--source-hash" :: v :: rest => parse(rest, o.copy(sourceHash = v))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unexpected arguments: ${other.mkString(" ")}")
  }

  /** Input generations per run; setup_s counts their median. */
  val SetupReps = 3

  /** One timed call and the host readings around it. */
  final case class Call(i: Int, traced: Boolean, latencyS: Double, symbols: Long, stealPct: Double,
                        loadavg: String, error: Option[String])

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * eleventh-largest latency, as (percentile, value); None below eleven
    * samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    if (s.size < 11) None else Some((100.0 * (s.size - 10) / s.size, s(s.size - 11)))
  }

  def session(work: File, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pfsabench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop-tmp").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(Workloads.names.contains(o.workload), s"--workload must be one of ${Workloads.names.mkString(", ")}")
    require(o.seed >= 0 && o.seconds > 0 && (o.trace == 0 || o.trace == 1),
      "need --seed >= 0, --seconds > 0, --trace 0|1")
    val code = run(o)
    sys.exit(code)
  }

  def run(o: Opts): Int = {
    val wl = Workloads.byName(o.workload)
    val base = new File(o.work).getAbsoluteFile
    val work = new File(base, s"run-${o.workload}")
    deleteTree(work)
    work.mkdirs()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val runJiffies0 = Host.jiffies()
    val load0 = Host.loadavg()

    val t0 = System.nanoTime()
    val spark = session(work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val setups = mutable.ArrayBuffer.empty[Double]
    val fingerprints = mutable.ArrayBuffer.empty[Map[String, String]]
    for (r <- 0 until SetupReps) {
      val s = System.nanoTime()
      fingerprints += wl.generate(spark, new File(work, s"data$r").getAbsolutePath, o.seed)
      setups += (System.nanoTime() - s) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(setups.toSeq) + warmS
    val inputsStable = fingerprints.distinct.size == 1

    // One measured phase of at least `seconds` and at least two calls (four
    // when traced), so a slow first call is never the only sample. In a
    // traced run every other call is traced (the listener stays registered;
    // untraced calls set no job group and record no span), so traced and
    // untraced calls see the same JVM warmth and their medians give the
    // tracing overhead.
    val tracer = if (o.trace == 1) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val spans = new Spans(spark.sparkContext)
    val calls = mutable.ArrayBuffer.empty[Call]
    var failed = 0
    wl.begin()
    val start = System.nanoTime()
    def more = (System.nanoTime() - start) / 1e9 < o.seconds ||
      calls.size < (if (tracer.nonEmpty) 4 else 2)
    while (more && wl.hasCall(calls.size)) {
      val i = calls.size
      spans.on = tracer.nonEmpty && i % 2 == 0
      val j0 = Host.jiffies()
      val c0 = System.nanoTime()
      var symbols = 0L
      val err = try { symbols = spans.call(wl.entry, wl.layer)(wl.call(i, spans)); None }
      catch { case e: Exception => failed += 1; Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      calls += Call(i, spans.on, (System.nanoTime() - c0) / 1e9, symbols,
        Host.stealPct(j0, Host.jiffies()), Host.loadavg(), err)
    }
    wl.end()
    spans.on = false
    val check = wl.check()
    tracer.foreach { t =>
      org.apache.spark.pfsabench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(t)
    }
    val peakRss = Host.peakRssMb()
    val runSteal = Host.stealPct(runJiffies0, Host.jiffies())

    val plain = calls.filterNot(_.traced)
    val latencies = plain.map(_.latencyS).toSeq
    val attempted = calls.size
    val correct = failed == 0 && check.wrong == 0 && inputsStable && check.checked > 0 &&
      plain.map(_.symbols).sum > 0
    val tailV = tail(latencies)
    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("symbols_per_s", plain.map(_.symbols).sum / latencies.sum, "1/s"),
      ("call_p50_s", median(latencies), "s"),
      ("setup_s", setupS, "s"),
      ("peak_rss_mb", peakRss, "MB"),
      ("call_tail_s", tailV.map(_._2).getOrElse(Double.NaN), "s"),
      ("failed_frac", failed.toDouble / math.max(1, attempted), "frac"),
      ("wrong_outputs", check.wrong.toDouble, "count"),
      ("detect_recall", check.plantedFlagged.toDouble / math.max(1L, check.planted), "frac"),
      ("false_alarm_frac", check.normalFlagged.toDouble / math.max(1L, check.normal), "frac"))

    val folded = tracer.map(t => Layers.fold(t, spans.done.toSeq))
    val layerValues: Seq[(String, Double, String)] =
      folded.map(f => perLayer(wl, calls.toSeq, f, cores)).getOrElse(Nil)

    endToEnd.foreach { case (n, v, u) => println(f"metric $n%-22s $v%.6g $u") }
    println(tailV.map(t => f"call_tail_s is p${t._1}%.1f of ${latencies.size} calls")
      .getOrElse(s"call_tail_s needs at least 11 untraced calls; this run made ${latencies.size}"))
    layerValues.foreach { case (n, v, u) => println(f"layer $n%-44s $v%.6g $u") }
    check.notes.foreach(n => println(s"wrong output: $n"))
    if (!inputsStable) println(s"inputs differ between setups: ${fingerprints.distinct.mkString(" / ")}")

    val env = Json.obj(
      "commit" -> o.commit, "source_hash" -> o.sourceHash,
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "master" -> spark.sparkContext.master, "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "state_store_provider" -> spark.conf.get("spark.sql.streaming.stateStore.providerClass"))
    val result = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "env" -> env,
      "host" -> Json.obj("steal_pct" -> runSteal, "loadavg_before" -> load0, "loadavg_after" -> Host.loadavg()),
      "inputs" -> Json.obj("fingerprints" -> fingerprints.head, "stable_across_setups" -> inputsStable),
      "setup" -> Json.obj("session_s" -> sessionS, "generate_s" -> setups.toSeq, "warm_up_s" -> warmS),
      "end_to_end" -> endToEnd.map { case (n, v, u) => Json.obj("name" -> n, "value" -> v, "unit" -> u) },
      "call_tail" -> Json.obj("percentile" -> tailV.map(_._1), "samples" -> latencies.size),
      "per_layer" -> layerValues.map { case (n, v, u) => Json.obj("name" -> n, "value" -> v, "unit" -> u) },
      "calls" -> calls.map(c => Json.obj("i" -> c.i, "traced" -> c.traced, "latency_s" -> c.latencyS,
        "symbols" -> c.symbols, "steal_pct" -> c.stealPct, "loadavg" -> c.loadavg, "error" -> c.error)),
      "oracle" -> Json.obj("checked" -> check.checked, "wrong" -> check.wrong, "planted" -> check.planted,
        "planted_flagged" -> check.plantedFlagged, "normal" -> check.normal,
        "normal_flagged" -> check.normalFlagged, "notes" -> check.notes),
      "correct" -> correct)
    val results = new File(base, "results")
    results.mkdirs()
    val stem = s"${o.workload}-seed${o.seed}-trace${o.trace}"
    Files.write(new File(results, s"$stem.json").toPath, Json.render(result).getBytes(StandardCharsets.UTF_8))
    tracer.zip(folded).foreach { case (t, f) =>
      Files.write(new File(results, s"$stem.spans.jsonl").toPath,
        spanLines(t, spans, f._2).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
    deleteTree(work)

    val reported = if (o.trace == 1) layerValues else {
      val keep = Metrics.endToEnd.map(_._1).toSet
      endToEnd.filter(m => keep(m._1))
    }
    println(Json.render(Json.obj(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.obj(reported.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }: _*))))
    if (correct) 0 else 1
  }

  /** Per-layer values of the traced calls, each a mean per traced call
    * unless its name says otherwise. */
  def perLayer(wl: Workload, calls: Seq[Call],
               folded: (Map[String, Layers.Acc], Seq[Layers.Placed], Double),
               cores: Int): Seq[(String, Double, String)] = {
    val (accs, _, coverage) = folded
    val n = math.max(1, calls.count(_.traced)).toDouble
    val all = new Cost
    accs.values.foreach(a => all.add(a.cost))
    def costFields(c: Cost, busyS: Double): Map[String, Double] = Map(
      "stages" -> c.stages / n, "tasks" -> c.tasks / n,
      "task_cpu_s" -> c.cpuNs / 1e9 / n, "task_run_s" -> c.runMs / 1e3 / n, "gc_s" -> c.gcMs / 1e3 / n,
      "shuffle_write_bytes" -> c.shuffleWrite / n, "shuffle_read_bytes" -> c.shuffleRead / n,
      "spill_bytes" -> c.spill / n, "peak_exec_mem_bytes" -> c.peakMem.toDouble,
      "rows_in" -> c.rowsIn / n, "rows_out" -> c.rowsOut / n, "failed_tasks" -> c.failedTasks / n,
      "cpu_util" -> (if (busyS > 0) c.cpuNs / 1e9 / (busyS * cores) else 0.0))
    val values = mutable.HashMap.empty[String, Double]
    accs.foreach { case (l, a) =>
      costFields(a.cost, a.busyMs / 1e3).foreach { case (f, v) => values(s"$l.$f") = v }
      values(s"$l.jobs") = a.jobs / n
      values(s"$l.busy_s") = a.busyMs / 1e3 / n
      values(s"$l.self_s") = a.selfMs / 1e3 / n
      values(s"$l.driver_gap_s") = a.gapMs / 1e3 / n
    }
    costFields(all, calls.filter(_.traced).map(_.latencyS).sum).foreach { case (f, v) => values(s"spark.$f") = v }
    values("spark.jobs") = accs.values.map(_.jobs).sum / n
    values(s"${wl.layer}.calls") = n
    values ++= wl.extras(l => values.getOrElse(s"$l.busy_s", 0.0))
    val plainP50 = median(calls.filterNot(_.traced).map(_.latencyS))
    val tracedP50 = median(calls.filter(_.traced).map(_.latencyS))
    values("trace_overhead_frac") = if (plainP50 > 0) (tracedP50 - plainP50) / plainP50 else 0.0
    values("trace_coverage") = coverage
    Metrics.perLayer.map { case (name, unit) => (name, values.getOrElse(name, 0.0), unit) }
  }

  /** Span file: every benchmark span, then every Spark job as a child span
    * of the benchmark span it ran under, with its layer and cost. */
  def spanLines(tracer: Tracer, spans: Spans, placed: Seq[Layers.Placed]): Seq[String] = {
    spans.done.toSeq.map(s => Json.render(Json.obj("trace" -> s.trace, "span" -> s"s${s.id}",
      "parent" -> (if (s.parent < 0) None else Some(s"s${s.parent}")), "name" -> s.name,
      "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end))) ++
      placed.map { p =>
        val c = p.job.cost
        Json.render(Json.obj("trace" -> p.trace, "span" -> s"job${p.job.id}", "parent" -> s"s${p.parent}",
          "name" -> {
            val site = tracer.site(p.job)
            site.linesIterator.find(_.trim.startsWith("graft.")).getOrElse(site.linesIterator.take(1).mkString).trim
          },
          "layer" -> p.layer, "start_ms" -> p.job.start, "end_ms" -> p.job.end, "failed" -> p.job.failed,
          "stages" -> c.stages, "tasks" -> c.tasks, "task_cpu_ns" -> c.cpuNs, "task_run_ms" -> c.runMs,
          "gc_ms" -> c.gcMs, "shuffle_write_bytes" -> c.shuffleWrite, "shuffle_read_bytes" -> c.shuffleRead,
          "spill_bytes" -> c.spill, "peak_exec_mem_bytes" -> c.peakMem, "rows_in" -> c.rowsIn,
          "rows_out" -> c.rowsOut))
      }
  }
}
