package graft.pipeline

import graft.TestSpark
import graft.core.Pfsa
import org.scalatest.funsuite.AnyFunSuite

/** The batch detector leaves a session as it found it: twenty rounds of
  * `fitPredict`, `fit` and `predict` on one session grow neither its
  * persisted RDDs, its RDD storage nor its broadcast blocks past what the
  * first round left. Threads per round are recorded, not asserted: Spark's
  * cached pools (adaptive query stages, the block manager's async side)
  * grow and shrink on their own keep-alive clocks. */
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
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    try {
      round()
      val first = { System.gc(); Thread.sleep(500); census() }
      val counts = scala.collection.mutable.ArrayBuffer(threads.getThreadCount)
      (2 to 20).foreach { i =>
        round()
        counts += threads.getThreadCount
        val now = settled(first)
        assert(now._1 <= first._1 && now._2 <= first._2 && now._3 <= first._3,
          s"round $i: (persistent RDDs, RDD storage, broadcast blocks) $now after round 1's $first")
      }
      info(s"after round 1: $first; JVM threads after each round: ${counts.mkString(" ")}")
    } finally train.unpersist()
  }
}
