package graft.streaming

import graft.TestSpark
import graft.core.{GenESeSS, Llk, Pfsa}
import graft.pipeline.ContinuousDetection
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer

/** Pins the four entry points of the online loop — the batch replay
  * `ContinuousDetection.fitStream` and the stream handlers
  * `ContinuousStreaming.scores` / `scoresWithWatermark` /
  * `scoresFromSymbols` — to a loop written out here, straight from the
  * reference (detection.py:661-676), against the public kernels only. The
  * engine's own cross-checks compare its entry points with each other, so
  * they share whatever the engine's loop gets wrong; this one does not.
  *
  * The fixture has three streams with births after window 0, an alphabet
  * that grows mid-stream, overlapping windows, a watermark delivery out of
  * win_id order, and a raw-symbol trigger that ends inside a window. */
class ContinuousReferenceLoopSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val p = ContinuousDetection.Params(
    windowSize = 500, windowOverlap = 100, anomalySensitivity = 3.0,
    quantize = false, eps = 0.05, bootstrapRepeats = 20, seed = 5L)
  private val stride = p.windowSize - p.windowOverlap

  /** (stream id, symbols): M2 → M2_u, M2_u → M2, and M2 → a {1, 2} run
    * that widens the alphabet past every machine in the library. */
  private lazy val streams: Seq[(Long, Array[Byte])] = Seq(
    0L -> (Pfsa.m2.sample(2100, seed = 31L) ++ Pfsa.m2u.sample(2000, seed = 32L)),
    1L -> (Pfsa.m2u.sample(2500, seed = 33L) ++ Pfsa.m2.sample(2000, seed = 34L)),
    2L -> (Pfsa.m2.sample(2100, seed = 35L) ++
      Pfsa.m2u.sample(1600, seed = 36L).map(s => (s + 1).toByte)))

  private def windowsOf(stream: Array[Byte]): Seq[(Long, Array[Byte])] =
    (0 to (stream.length - p.windowSize) / stride).map(w =>
      w.toLong -> stream.slice(w * stride, w * stride + p.windowSize))

  /** (seq_id, win_id, emerged, llk bits, closest, n_patterns) */
  private type Row = (Long, Long, Boolean, Long, Int, Int)
  private def row(sid: Long, wid: Long, emerged: Boolean, llk: Double,
                  closest: Int, n: Int): Row =
    (sid, wid, emerged, java.lang.Double.doubleToLongBits(llk), closest, n)

  /** detection.py:661-676: score the window against every library entry;
    * when none explains it (llk above the entry's mean + sensitivity·std),
    * infer a machine from the window and bootstrap its llk stats from the
    * window plus seeded sample paths; carry the library to the next
    * window. */
  private def referenceLoop(sid: Long, stream: Array[Byte]): Seq[Row] = {
    val lib = ArrayBuffer.empty[(Pfsa, Double, Double)] // machine, llk mean, llk std
    windowsOf(stream).map { case (wid, win) =>
      val alphabet = win.max + 1
      val llks = lib.map { case (m, _, _) =>
        if (alphabet > m.alphabetSize) Double.PositiveInfinity else Llk.llk(win, m)
      }
      val unexplained = lib.indices.forall(j =>
        llks(j) > lib(j)._2 + p.anomalySensitivity * lib(j)._3)
      if (!unexplained) {
        val best = llks.indices.reduceLeft((a, b) => if (llks(b) < llks(a)) b else a)
        row(sid, wid, emerged = false, llks(best), best, lib.size)
      } else {
        val m = GenESeSS.inferLocal(win, math.max(2, alphabet), GenESeSS.Params(eps = p.eps))
        val own = Llk.llk(win, m)
        val seed = p.seed + sid * 7919 + wid * 104729
        val all = own +: (0 until p.bootstrapRepeats).map(i =>
          Llk.llk(m.sample(p.windowSize, seed + i), m))
        val mean = all.sum / all.size
        val std = math.sqrt(all.map(v => (v - mean) * (v - mean)).sum / (all.size - 1))
        lib += ((m, mean, std))
        row(sid, wid, emerged = true, own, lib.size - 1, lib.size)
      }
    }
  }

  private lazy val expected: Seq[Row] =
    streams.flatMap { case (sid, s) => referenceLoop(sid, s) }.sorted

  private def scoreRows(ws: Seq[ContinuousDetection.WindowScore]): Seq[Row] =
    ws.map(w => row(w.seq_id, w.win_id, w.emerged, w.llk, w.closest, w.n_patterns)).sorted

  private def sinkRows(table: String): Seq[Row] =
    spark.table(table).collect().toSeq.map(r =>
      row(r.getLong(0), r.getLong(1), r.getBoolean(2), r.getDouble(3), r.getInt(4), r.getInt(5)))
      .sorted

  private def assertMatches(got: Seq[Row], path: String): Unit =
    assert(got == expected,
      s"$path diverged from the reference loop:\n got=$got\nwant=$expected")

  test("the fixture has births after window 0 in every stream") {
    streams.foreach { case (sid, _) =>
      assert(expected.exists(r => r._1 == sid && r._2 > 0 && r._3),
        s"stream $sid has no birth after window 0: $expected")
    }
  }

  test("fitStream matches the reference loop") {
    import spark.implicits._
    val long = streams.flatMap { case (sid, s) =>
      s.zipWithIndex.map { case (sym, t) => (sid, t.toLong, sym.toDouble) }
    }.toDF("seq_id", "t", "value")
    val got = ContinuousDetection.fitStream(spark, long, p).collect().toSeq.map(r =>
      row(r.getLong(0), r.getLong(1), r.getBoolean(2), r.getDouble(3), r.getInt(4), r.getInt(5)))
    assertMatches(got.sorted, "fitStream")
  }

  test("scores matches the reference loop on windows delivered in reverse") {
    import spark.implicits._
    val wins = streams.flatMap { case (sid, s) =>
      windowsOf(s).map { case (wid, w) => (sid, wid, w.toSeq) }
    }.reverse
    assertMatches(scoreRows(ContinuousStreaming.scores(wins.toDS(), p).collect().toSeq), "scores")
  }

  test("scoresWithWatermark matches the reference loop under out-of-order delivery") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    val wins = streams.flatMap { case (sid, s) =>
      windowsOf(s).map { case (wid, w) =>
        (sid, wid, w.toSeq, new java.sql.Timestamp(t0 + wid * 1000L))
      }
    }
    val input = MemoryStream[(Long, Long, Seq[Byte], java.sql.Timestamp)]
    val query = ContinuousStreaming.scoresWithWatermark(input.toDS(), p, delay = "1 hour")
      .writeStream.format("memory").queryName("ref_loop_wm")
      .outputMode("append").start()
    try {
      // trigger 1: even windows only, so every odd hole holds the rest in
      // the pending map; trigger 2: the odd windows, newest first
      input.addData(wins.filter(_._2 % 2 == 0): _*)
      query.processAllAvailable()
      assert(sinkRows("ref_loop_wm").forall(_._2 == 0L), "window 2 must wait for window 1")
      input.addData(wins.filter(_._2 % 2 == 1).reverse: _*)
      query.processAllAvailable()
      assertMatches(sinkRows("ref_loop_wm"), "scoresWithWatermark")
    } finally query.stop()
  }

  test("scoresFromSymbols matches the reference loop across a trigger that splits a window") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val split = 1650 // windows start at 0, 400, …, 1200: the fourth ends at 1700
    val syms = streams.map { case (sid, s) =>
      sid -> s.zipWithIndex.map { case (sym, t) => (sid, t.toLong, sym) }.toSeq
    }
    val input = MemoryStream[(Long, Long, Byte)]
    val query = ContinuousStreaming.scoresFromSymbols(input.toDS(), p)
      .writeStream.format("memory").queryName("ref_loop_raw")
      .outputMode("append").start()
    try {
      input.addData(syms.flatMap(_._2.take(split)): _*)
      query.processAllAvailable()
      assert(sinkRows("ref_loop_raw").forall(_._2 < 3L), "window 3 is not complete yet")
      input.addData(syms.flatMap(_._2.drop(split)): _*)
      query.processAllAvailable()
      assertMatches(sinkRows("ref_loop_raw"), "scoresFromSymbols")
    } finally query.stop()
  }
}
