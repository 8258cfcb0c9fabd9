package pfsabench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** A span recorded by the benchmark around one of its own calls into the
  * library. Top-level spans (parent -1) are public calls; each gets its own
  * trace id, which is also the Spark job group set for the call. */
final case class Span(trace: String, id: Int, parent: Int, name: String, layer: String,
                      start: Long, end: Long)

/** Benchmark-side span recorder. While `on` is false it only runs the
  * bodies: an untraced call sets no job group and records no span. */
final class Spans(sc: SparkContext) {
  var on = false
  val done: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var open: List[(Int, String)] = Nil // (span id, trace id), innermost first
  private var nextId = 0

  /** Top-level span for one public call. */
  def call[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val trace = f"t${nextId}%05d"
      sc.setJobGroup(trace, name, interruptOnCancel = false)
      try record(trace, name, layer)(body) finally sc.clearJobGroup()
    }

  /** Child span inside the current call. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!on || open.isEmpty) body else record(open.head._2, name, layer)(body)

  private def record[T](trace: String, name: String, layer: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, trace) :: open
    val start = System.currentTimeMillis()
    try body
    finally {
      open = open.tail
      done += Span(trace, id, parent, name, layer, start, System.currentTimeMillis())
    }
  }
}

object Spans {
  /** Recorder for setup and warm-up calls, which are never traced. */
  val off: Spans = new Spans(null)
}

/** Spark cost folded from task metrics. */
final class Cost {
  var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var peakMem = 0L
  var rowsIn = 0L; var rowsOut = 0L
  def add(o: Cost): Unit = {
    stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    peakMem = math.max(peakMem, o.peakMem); rowsIn += o.rowsIn; rowsOut += o.rowsOut
  }
}

/** One Spark job of the traced run. */
final class JobRec(val id: Int, val group: String, val execId: Long, val site: String,
                   val start: Long) {
  var end: Long = -1L
  var failed = false
  val cost = new Cost
}

/** Folds every Spark job, stage and task of the traced run into per-job
  * records; [[Layers]] later attributes the jobs to layers. */
final class Tracer extends SparkListener {
  val jobs: mutable.LinkedHashMap[Int, JobRec] = mutable.LinkedHashMap.empty
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val plans = mutable.HashMap.empty[Long, String]
  private val actionSites = mutable.HashMap.empty[Long, String]

  def plan(execId: Long): String = synchronized(plans.getOrElse(execId, ""))

  /** Call site of the job, or of the SQL action that ran it when the job
    * was submitted from a Spark thread (adaptive query stages are). */
  def site(j: JobRec): String = synchronized {
    if (Layers.siteLayer(j.site).isDefined) j.site else actionSites.getOrElse(j.execId, j.site)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    // the result stage has the highest id; its details is the job's long call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val j = new JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
      prop("spark.sql.execution.id").flatMap(_.toLongOption).getOrElse(-1L), site, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.failed = e.jobResult != JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.cost.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      val c = j.cost
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        c.rowsIn += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        c.rowsOut += m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      plans(s.executionId) = s.physicalPlanDescription
      actionSites(s.executionId) = s.details
    }
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      synchronized(plans(u.executionId) = plans.getOrElse(u.executionId, "") + u.physicalPlanDescription)
    case _ =>
  }
}

/** Attribution of jobs to layers and the per-layer fold. */
object Layers {

  val Batch = "pipeline.anomaly"
  val Stream = "streaming.continuous"

  /** Layer of a library source file named in a call site. The
    * graft.functions aggregates run inside llk scoring and GenESeSS. */
  val fileLayer: Map[String, String] = Map(
    "AnomalyDetection.scala" -> Batch,
    "Quantize.scala" -> "core.quantize",
    "Cluster.scala" -> "core.cluster",
    "GenESeSS.scala" -> "core.genesess",
    "PfsaVisitLong.scala" -> "core.genesess",
    "PfsaVisitCounts.scala" -> "core.genesess",
    "Llk.scala" -> "core.llk",
    "LlkLongScore.scala" -> "core.llk",
    "LlkScoreAll.scala" -> "core.llk",
    "Segment.scala" -> "core.segment",
    "ContinuousDetection.scala" -> "pipeline.continuous",
    "ContinuousStreaming.scala" -> Stream)

  private val graftFrame = """^\s*(?:at\s+)?graft\.[\w.$]+\((\w+\.scala):\d+\).*""".r

  /** Innermost library frame of a long call site. */
  def siteLayer(site: String): Option[String] =
    site.linesIterator.collectFirst { case graftFrame(f) if fileLayer.contains(f) => fileLayer(f) }

  /** Layer marked by a kernel aggregate in the job's physical plan. */
  def planLayer(plan: String): Option[String] = {
    val p = plan.toLowerCase(java.util.Locale.ROOT)
    if (p.contains("pfsa_visit")) Some("core.genesess")
    else if (p.contains("llk_score")) Some("core.llk")
    else None
  }

  /** A job goes to the library file of its call site; a job triggered from
    * AnomalyDetection itself or from the benchmark goes to the kernel its
    * plan runs, and failing that to the benchmark span it ran under. */
  def attribute(site: String, plan: String, enclosing: String): String =
    siteLayer(site) match {
      case Some(l) if l != Batch => l
      case s => planLayer(plan).orElse(s).getOrElse(enclosing)
    }

  /** Total length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  /** Length of the union of `a` not covered by the union of `b`. */
  def coveredExcept(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Long =
    covered(a ++ b) - covered(b)

  final class Acc {
    val cost = new Cost
    var jobs = 0L
    var busyMs = 0L
    var selfMs = 0L
    var gapMs = 0L
  }

  /** One job placed in a call: its layer and the span it ran under. */
  final case class Placed(job: JobRec, layer: String, parent: Int, trace: String)

  /** Fold every traced call into per-layer sums. Returns the accumulators,
    * the placed jobs (for the span file) and the covered share of call time. */
  def fold(tracer: Tracer, spans: Seq[Span]): (Map[String, Acc], Seq[Placed], Double) = {
    val calls = spans.filter(_.parent < 0)
    val traces = calls.map(_.trace).toSet
    val accs = mutable.LinkedHashMap.empty[String, Acc]
    def acc(l: String) = accs.getOrElseUpdate(l, new Acc)
    val placed = mutable.ArrayBuffer.empty[Placed]
    var coveredMs = 0L
    var wallMs = 0L
    val allJobs = tracer.synchronized(tracer.jobs.values.toVector)
    calls.foreach { c =>
      val children = spans.filter(s => s.trace == c.trace && s.parent >= 0)
      val jobs = allJobs.filter(j =>
        j.group == c.trace || (!traces(j.group) && j.start >= c.start && j.start <= c.end))
      val here = jobs.map { j =>
        val under = children.filter(s => s.start <= j.start && j.start <= s.end)
          .sortBy(s => s.end - s.start).headOption
        val layer = attribute(tracer.site(j), tracer.plan(j.execId), under.map(_.layer).getOrElse(c.layer))
        Placed(j, layer, under.map(_.id).getOrElse(c.id), c.trace)
      }
      placed ++= here
      def clip(s: Long, e: Long) = (math.max(s, c.start), math.min(if (e < 0) c.end else e, c.end))
      val jobIv = here.map(p => p.layer -> clip(p.job.start, p.job.end))
      val spanIv = children.map(s => s.layer -> clip(s.start, s.end))
      val byLayer = (jobIv ++ spanIv).groupMap(_._1)(_._2) +
        (c.layer -> Seq((c.start, c.end)))
      val allJobIv = jobIv.map(_._2)
      byLayer.foreach { case (l, iv) =>
        val a = acc(l)
        val others = byLayer.iterator.filter(x => x._1 != l && x._1 != c.layer).flatMap(_._2).toSeq
        a.busyMs += covered(iv)
        a.selfMs += coveredExcept(iv, others)
        val spanned = if (l == c.layer) Seq((c.start, c.end)) else spanIv.filter(_._1 == l).map(_._2)
        a.gapMs += coveredExcept(spanned, allJobIv)
      }
      here.foreach { p => val a = acc(p.layer); a.jobs += 1; a.cost.add(p.job.cost) }
      coveredMs += covered(allJobIv ++ spanIv.map(_._2))
      wallMs += c.end - c.start
    }
    (accs.toMap, placed.toSeq, if (wallMs > 0) coveredMs.toDouble / wallMs else 0.0)
  }
}
