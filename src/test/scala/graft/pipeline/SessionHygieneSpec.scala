package graft.pipeline

import graft.TestSpark
import graft.core.Pfsa
import org.scalatest.funsuite.AnyFunSuite

/** The detectors leave a session as it found it. Twenty rounds of
  * `fitPredict`, `fit` and `predict` on one session grow neither its
  * persisted RDDs, its RDD storage nor its broadcast blocks past what the
  * first round left; twenty rounds of the three `ContinuousStreaming`
  * handlers, each run as a stream, grow neither its temp views, its active
  * streams, its streaming query listeners nor the live `graft_*` temp
  * dirs. Threads per round are recorded, not asserted: Spark's cached
  * pools (adaptive query stages, the block manager's async side) grow and
  * shrink on their own keep-alive clocks. */
class SessionHygieneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("twenty rounds of fitPredict, fit and predict leave no RDD, storage or broadcast behind") {
    val sc = spark.sparkContext
    val train = (0L until 12L).flatMap { i =>
      (if (i % 2 == 0) Pfsa.m2 else Pfsa.m2u).sample(1500, seed = 7700L + i).zipWithIndex
        .map { case (s, t) => (i, t.toLong, s.toDouble) }
    }.toDF("seq_id", "t", "value").persist()
    val params = AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 2,
      reduceClusters = true, quantize = false, eps = 0.05)
    def round(): Unit = {
      AnomalyDetection.fitPredict(spark, train, params)._2.collect()
      val model = AnomalyDetection.fit(spark, train, params)
      AnomalyDetection.predict(spark, model, train).collect()
    }
    // what a round leaves that nothing references any more (the returned
    // predictions' checkpoint, job closures) is released by the context
    // cleaner once a collection finds it unreachable
    def census() = (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.length,
      org.apache.spark.graft.BlockCensus.broadcastBlocks(sc))
    def settled(limit: (Int, Int, Int)): (Int, Int, Int) = {
      val deadline = System.nanoTime() + 20000000000L
      var c = census()
      while ((c._1 > limit._1 || c._2 > limit._2 || c._3 > limit._3) && System.nanoTime() < deadline) {
        System.gc()
        Thread.sleep(200)
        c = census()
      }
      c
    }
    try {
      round()
      val first = { System.gc(); Thread.sleep(500); census() }
      val counts = scala.collection.mutable.ArrayBuffer(threads())
      (2 to 20).foreach { i =>
        round()
        counts += threads()
        val now = settled(first)
        assert(now._1 <= first._1 && now._2 <= first._2 && now._3 <= first._3,
          s"round $i: (persistent RDDs, RDD storage, broadcast blocks) $now after round 1's $first")
      }
      info(s"after round 1: $first; JVM threads (of them the global pool's) after each round: " +
        counts.map { case (all, pool) => s"$all ($pool)" }.mkString(" "))
    } finally train.unpersist()
  }

  /** The JVM's threads, and those of the JVM's shared global pool. */
  private def threads(): (Int, Int) = {
    import scala.jdk.CollectionConverters._
    val all = Thread.getAllStackTraces.keySet.asScala
    (all.size, all.count(_.getName.startsWith("scala-execution-context-global")))
  }

  test("twenty rounds of the ContinuousStreaming handlers leave no view, stream, listener or temp dir behind") {
    import graft.streaming.ContinuousStreaming
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val p = ContinuousDetection.Params(windowSize = 300, windowOverlap = 0, anomalySensitivity = 3.0,
      quantize = false, eps = 0.05, bootstrapRepeats = 10)
    val symbols = Pfsa.m2.sample(900, seed = 7800L)
    val windows = symbols.grouped(300).zipWithIndex.map { case (w, i) => (0L, i.toLong, w.toSeq) }.toSeq
    def ts(i: Long) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    /** One stream per handler, from a memory source into a memory sink
      * (the same query name every round, so each round replaces its view),
      * run to its last window and stopped. */
    def drain(name: String, out: org.apache.spark.sql.DataFrame)(feed: => Unit): Unit = {
      val query = out.writeStream.format("memory").queryName(name).outputMode("append").start()
      try { feed; query.processAllAvailable() } finally query.stop()
      assert(spark.table(name).count() == windows.size, s"$name: not every window scored")
    }
    def round(): Unit = {
      val byWindow = MemoryStream[(Long, Long, Seq[Byte])]
      drain("hygiene_scores", ContinuousStreaming.scores(byWindow.toDS(), p).toDF())(
        byWindow.addData(windows: _*))
      val stamped = MemoryStream[(Long, Long, Seq[Byte], java.sql.Timestamp)]
      drain("hygiene_watermark", ContinuousStreaming.scoresWithWatermark(stamped.toDS(), p).toDF())(
        stamped.addData(windows.map { case (s, w, x) => (s, w, x, ts(w)) }: _*))
      val raw = MemoryStream[(Long, Long, Byte)]
      drain("hygiene_symbols", ContinuousStreaming.scoresFromSymbols(raw.toDS(), p).toDF())(
        raw.addData(symbols.zipWithIndex.map { case (x, t) => (0L, t.toLong, x) }.toSeq: _*))
    }
    def graftDirs() = {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      Option(tmp.list()).map(_.count(_.startsWith("graft_"))).getOrElse(0)
    }
    def census() = (spark.catalog.listTables().collect().count(_.isTemporary), spark.streams.active.length,
      spark.streams.listListeners().length, graftDirs())
    round()
    val first = census()
    val counts = scala.collection.mutable.ArrayBuffer(threads())
    (2 to 20).foreach { i =>
      round()
      counts += threads()
      val now = census()
      assert(now._1 <= first._1 && now._2 <= first._2 && now._3 <= first._3 && now._4 <= first._4,
        s"round $i: (temp views, active streams, query listeners, graft_ dirs) $now after round 1's $first")
    }
    info(s"after round 1: $first; JVM threads (of them the global pool's) after each round: " +
      counts.map { case (all, pool) => s"$all ($pool)" }.mkString(" "))
  }
}
