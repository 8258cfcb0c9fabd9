package pfsabench

import graft.core.{Llk, Segment}
import graft.pipeline.{AnomalyDetection, ContinuousDetection}
import graft.streaming.ContinuousStreaming
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** What the oracle found for one measured phase. `planted`/`normal` are
  * the sequences, windows or births whose truth the generator knows;
  * `*Flagged` are those the program flagged. */
final case class Check(checked: Long, wrong: Long, planted: Long, plantedFlagged: Long,
                       normal: Long, normalFlagged: Long, notes: Seq[String])

/** One closed-loop workload over the public API. Main drives it: setup
  * (generate, repeated; then warmUp once), then per measured phase
  * begin → call… → end → check. */
trait Workload {
  /** Name and layer of the top-level span of one call. */
  def entry: String
  def layer: String
  /** Generate the inputs from the seed and write them under `dir`. Returns
    * a content hash per generated corpus. The last call's inputs are the
    * ones measured. */
  def generate(spark: SparkSession, dir: String, seed: Long): Map[String, String]
  /** Fit any fixed model and make one untimed call on inputs the timed
    * calls never read, so JIT and codegen are warm before timing. */
  def warmUp(): Unit
  def begin(): Unit = ()
  /** Whether call `i` has input left. */
  def hasCall(i: Int): Boolean = true
  /** One public call; returns the input symbols it consumed. */
  def call(i: Int, spans: Spans): Long
  def end(): Unit = ()
  /** Recompute every output of the phase on the driver; clears them. */
  def check(): Check
  /** Workload readings for the per-layer report of the last phase, given
    * the per-call busy seconds of each layer. */
  def extras(busyS: String => Double): Map[String, Double] = Map.empty
}

/** Driver-side recomputation of batch predictions with the array kernel
  * [[Llk.llk]], independent of the long-form aggregate the program uses. */
object Oracle {
  val Eps = 1e-9

  /** Long-form parquet → values per sequence in t order. */
  def load(spark: SparkSession, path: String): Map[Long, Array[Double]] =
    spark.read.parquet(path).select(col("seq_id"), col("t"), col("value")).collect()
      .groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.sortBy(_.getLong(1)).map(_.getDouble(2)) }

  /** Sign of the first difference; the first symbol is 0. */
  def quantizeSimple(v: Array[Double]): Array[Byte] =
    Array.tabulate(v.length)(t => if (t > 0 && v(t) - v(t - 1) > 0) 1.toByte else 0.toByte)

  /** Number of cutoffs strictly below the value. */
  def quantizeComplex(v: Array[Double], cutoffs: Array[Double]): Array[Byte] =
    v.map(x => cutoffs.count(x > _).toByte)

  def quantize(v: Array[Double], m: AnomalyDetection.Model): Array[Byte] =
    m.complexModel match {
      case Some(c) => quantizeComplex(v, c.cutoffs)
      case None => quantizeSimple(v)
    }

  /** Whether a predicted (is_anomaly, closest, llk) agrees with the
    * recomputation; a flag within Eps of a bound may go either way. */
  def agrees(isAnomaly: Boolean, closest: Int, llk: Double, syms: Array[Byte],
             m: AnomalyDetection.Model, bounds: Array[Double]): Boolean = {
    val llks = m.library.map(Llk.llk(syms, _)).toArray
    val best = llks.min
    val llkOk = llk == best || math.abs(llk - best) <= Eps
    val closestOk =
      if (best == Double.PositiveInfinity) closest == -1
      else closest >= 0 && closest < llks.length && llks(closest) <= best + Eps
    val anomOk = isAnomaly == llks.indices.forall(j => llks(j) > bounds(j)) ||
      llks.indices.exists(j => math.abs(llks(j) - bounds(j)) <= Eps)
    llkOk && closestOk && anomOk
  }

  final case class Pred(seqId: Long, isAnomaly: Boolean, closest: Int, llk: Double)

  def preds(rows: Array[Row]): Array[Pred] =
    rows.map(r => Pred(r.getAs[Number]("seq_id").longValue, r.getAs[Boolean]("is_anomaly"),
      r.getAs[Int]("closest"), r.getAs[Double]("llk")))
}

/** `fit_large`: back-to-back `fitPredict` calls over the half-overlapping
  * windows of many streams, each stream from one machine. Each call cuts
  * the windows with [[Segment.windows]] (kept for the fit and its scoring
  * passes), then fits a library on them and flags the windows no entry
  * explains — the paper's satellite and agitation flow.
  *
  * Why: it is the write side. One call loads every batch layer —
  * segment, the equal-mass quantizer fit, cluster features and KMeans,
  * the GenESeSS visit sweep, llk scoring with >128 groups per partition —
  * and pays the fit's per-job fixed cost. */
final class FitLarge extends Workload {
  val entry = "AnomalyDetection.fitPredict"
  val layer: String = Layers.Batch
  private val size = 1000
  private val overlap = 500
  private val stride = size - overlap
  private val params = AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 3,
    reduceClusters = true, quantizeType = "complex", nSymbols = 3, eps = 0.2)
  private var spark: SparkSession = _
  private var dir: String = _
  private var streams: Inputs.SeriesSpec = _
  private val outs = mutable.ArrayBuffer.empty[(AnomalyDetection.Model, Array[Row])]
  private var windowRows = 0L
  private var states = 0.0
  private var pairs = 0.0

  def generate(s: SparkSession, d: String, seed: Long): Map[String, String] = {
    spark = s; dir = d
    streams = Inputs.SeriesSpec(seed, 0, size = 48, length = 3000, planted = 2)
    // corpus 1 is a smaller stream set for the warm-up call only
    val warm = Inputs.SeriesSpec(seed, 1, size = 24, length = 3000, planted = 1)
    Inputs.writeCorpora(spark, dir, IndexedSeq(streams, warm))
    Inputs.fingerprints(spark.read.parquet(dir), "corpus")
  }

  def warmUp(): Unit = fitWindows(1, Spans.off)

  /** Cut corpus `c` into windows, then fit and predict on them. */
  private def fitWindows(c: Int, spans: Spans): (AnomalyDetection.Model, Array[Row]) = {
    val windows = spans.span("Segment.windows", "core.segment") {
      val w = Segment.windows(spark.read.parquet(s"$dir/corpus=$c"), size, overlap)
        .select((col("seq_id") * 1000000L + col("win_id")).as("seq_id"), col("pos").as("t"),
          col("value"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      windowRows = w.count()
      w
    }
    try {
      val (model, pred) = AnomalyDetection.fitPredict(spark, windows, params)
      (model, pred.collect())
    } finally windows.unpersist()
  }

  def call(i: Int, spans: Spans): Long = {
    outs += fitWindows(0, spans)
    streams.size.toLong * streams.length
  }

  def check(): Check = {
    var checked, wrong, planted, plantedFlagged, normal, normalFlagged = 0L
    val notes = mutable.ArrayBuffer.empty[String]
    val values = Oracle.load(spark, s"$dir/corpus=0")
    val nWin = (streams.length - size) / stride + 1
    outs.foreach { case (model, rows) =>
      val bounds = model.bounds
      val seen = mutable.HashSet.empty[Long]
      Oracle.preds(rows).foreach { p =>
        checked += 1
        val (s, w) = (p.seqId / 1000000L, p.seqId % 1000000L)
        val ok = seen.add(p.seqId) && w < nWin && values.get(s).exists { v =>
          val from = (w * stride).toInt
          Oracle.agrees(p.isAnomaly, p.closest, p.llk,
            Oracle.quantize(v.slice(from, from + size), model), model, bounds)
        }
        if (!ok) { wrong += 1; if (notes.size < 5) notes += s"window $s/$w: $p" }
        if (streams.machineOf(s) == Inputs.ternaryRegimes.size) {
          planted += 1; if (p.isAnomaly) plantedFlagged += 1
        } else { normal += 1; if (p.isAnomaly) normalFlagged += 1 }
      }
      val missing = streams.size * nWin - seen.size
      if (missing > 0) { wrong += missing; notes += s"$missing windows unpredicted" }
    }
    states = outs.map(_._1.library.map(_.numStates).sum.toDouble).sum / math.max(1, outs.size)
    pairs = outs.map(o => o._2.length.toDouble * o._1.library.size).sum / math.max(1, outs.size)
    outs.clear()
    Check(checked, wrong, planted, plantedFlagged, normal, normalFlagged, notes.toSeq)
  }

  override def extras(busyS: String => Double): Map[String, Double] = Map(
    "core.genesess.states" -> states,
    "core.segment.dup_ratio" -> windowRows.toDouble / (streams.size.toLong * streams.length),
    "core.llk.pairs_per_s" -> (if (busyS("core.llk") > 0) pairs / busyS("core.llk") else 0.0))
}

/** `online_stream`: one `scoresFromSymbols` query, one trigger per call.
  *
  * Why: it is the only workload that runs graft.streaming — state store,
  * WAL, the fixed cost of a trigger — and the local ContinuousDetection
  * step kernels, with a known set of pattern births. */
final class OnlineStream extends Workload {
  val entry = "ContinuousStreaming.trigger"
  val layer: String = Layers.Stream
  private val nStreams = 64
  private val window = 1000
  // about twice the triggers one measured run makes after the warm-up
  private val maxTriggers = 24
  private val warmTriggers = 6
  // a stream switches machine every segWindows windows, on a window
  // boundary; births (the slow triggers) then stay a small, fixed share of
  // a run's triggers, so they do not move the median
  private val segWindows = 8
  private val params = ContinuousDetection.Params(windowSize = window, windowOverlap = 0,
    anomalySensitivity = 3.0, quantize = false, eps = 0.05, bootstrapRepeats = 50)
  private var spark: SparkSession = _
  private var dir: String = _
  private var spec: Inputs.SwitchSpec = _
  private var chunks: Array[Array[Array[Byte]]] = _ // stream → trigger → symbols
  private var query: StreamingQuery = _
  private var input: MemoryStream[(Long, Long, Byte)] = _
  private var phase = 0
  private var triggers = 0
  private var rows: Array[Row] = Array.empty
  private var progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil

  def generate(s: SparkSession, d: String, seed: Long): Map[String, String] = {
    spark = s; dir = d
    import s.implicits._
    spec = Inputs.SwitchSpec(seed, 2, nStreams, maxTriggers / segWindows, segWindows * window)
    val sp = spec
    val w = window
    spark.range(0L, nStreams.toLong, 1, nStreams).as[Long]
      .flatMap(sid => sp.symbolsOf(sid).grouped(w).zipWithIndex.map { case (b, c) => (sid, c, b) })
      .toDF("stream_id", "chunk", "symbols")
      .write.mode("overwrite").parquet(s"$dir/streams")
    val df = spark.read.parquet(s"$dir/streams")
    val fp = Inputs.fingerprints(df.withColumn("corpus", lit(2)), "corpus")
    chunks = Array.fill(nStreams)(new Array[Array[Byte]](maxTriggers))
    df.collect().foreach(r => chunks(r.getLong(0).toInt)(r.getInt(1)) = r.getAs[Array[Byte]](2))
    fp
  }

  /** A throwaway query over the first triggers: trigger latency keeps
    * falling over the first few as the step kernels and the state store
    * path get compiled. */
  def warmUp(): Unit = {
    begin()
    (0 until warmTriggers).foreach(call(_, Spans.off))
    end()
  }

  override def begin(): Unit = {
    val s = spark
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    phase += 1
    triggers = 0
    input = MemoryStream[(Long, Long, Byte)]
    query = ContinuousStreaming.scoresFromSymbols(input.toDS(), params)
      .writeStream.format("memory").queryName(s"online_$phase")
      .option("checkpointLocation", s"$dir/checkpoint_$phase")
      .outputMode("append").start()
  }

  override def hasCall(i: Int): Boolean = i < maxTriggers

  def call(i: Int, spans: Spans): Long = {
    val batch = new Array[(Long, Long, Byte)](nStreams * window)
    var k = 0
    for (s <- 0 until nStreams; t <- 0 until window) {
      batch(k) = (s.toLong, i.toLong * window + t, chunks(s)(i)(t)); k += 1
    }
    input.addData(batch.toIndexedSeq)
    query.processAllAvailable()
    triggers = i + 1
    nStreams.toLong * window
  }

  override def end(): Unit = {
    rows = spark.table(s"online_$phase").collect()
    progress = query.recentProgress.toSeq.filter(_.numInputRows > 0)
    query.stop()
  }

  def check(): Check = {
    val ss = spark
    import ss.implicits._
    val n = triggers
    val size = window
    val long = spark.read.parquet(s"$dir/streams").where(col("chunk") < n)
      .as[(Long, Int, Array[Byte])]
      .flatMap { case (s, c, b) => b.indices.map(j => (s, c.toLong * size + j, b(j).toDouble)) }
      .toDF("seq_id", "t", "value")
    val expected = ContinuousDetection.fitStream(spark, long, params).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    var checked, wrong, planted, plantedFlagged, normal, normalFlagged = 0L
    val notes = mutable.ArrayBuffer.empty[String]
    val seen = mutable.HashSet.empty[(Long, Long)]
    rows.foreach { r =>
      checked += 1
      val key = (r.getLong(0), r.getLong(1))
      val ok = seen.add(key) && expected.get(key).exists { e =>
        e.getBoolean(2) == r.getBoolean(2) && e.getInt(4) == r.getInt(4) && e.getInt(5) == r.getInt(5) &&
          (e.getDouble(3) == r.getDouble(3) || math.abs(e.getDouble(3) - r.getDouble(3)) <= Oracle.Eps)
      }
      if (!ok) { wrong += 1; if (notes.size < 5) notes += s"window $key: $r" }
      // a birth is expected at a segment's first window when the segment's
      // machine is new to the stream
      val (s, w) = key
      val g = (w / segWindows).toInt
      val born = w % segWindows == 0 &&
        !(0 until g).exists(h => spec.machineOf(s, h) == spec.machineOf(s, g))
      if (born) { planted += 1; if (r.getBoolean(2)) plantedFlagged += 1 }
      else { normal += 1; if (r.getBoolean(2)) normalFlagged += 1 }
    }
    val missing = expected.size - seen.size
    if (missing > 0) { wrong += missing; notes += s"$missing windows not streamed" }
    births = rows.count(_.getBoolean(2)).toDouble / math.max(1, rows.length)
    windowsPerTrigger = rows.length.toDouble / math.max(1, n)
    Check(checked, wrong, planted, plantedFlagged, normal, normalFlagged, notes.toSeq)
  }

  private var births = 0.0
  private var windowsPerTrigger = 0.0

  override def extras(busyS: String => Double): Map[String, Double] = {
    val n = math.max(1, progress.size).toDouble
    def phaseS(k: String) =
      progress.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1000.0 / n
    val ops = progress.flatMap(_.stateOperators.headOption)
    Map(
      "pipeline.continuous.calls" -> windowsPerTrigger,
      "pipeline.continuous.births_per_window" -> births,
      "streaming.continuous.latest_offset_s" -> phaseS("latestOffset"),
      "streaming.continuous.get_batch_s" -> phaseS("getBatch"),
      "streaming.continuous.query_planning_s" -> phaseS("queryPlanning"),
      "streaming.continuous.add_batch_s" -> phaseS("addBatch"),
      "streaming.continuous.wal_commit_s" -> phaseS("walCommit"),
      "streaming.continuous.commit_offsets_s" -> phaseS("commitOffsets"),
      "streaming.continuous.state_rows" -> ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.continuous.state_mem_bytes" -> ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "streaming.continuous.state_commit_s" -> ops.map(_.commitTimeMs).sum / 1000.0 / n)
  }
}

object Workloads {
  def byName(name: String): Workload = name match {
    case "fit_large" => new FitLarge
    case "online_stream" => new OnlineStream
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
  val names: Seq[String] = Seq("fit_large", "online_stream")
}
