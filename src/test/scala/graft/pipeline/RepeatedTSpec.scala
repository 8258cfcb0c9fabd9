package graft.pipeline

import graft.TestSpark
import graft.core.{Cluster, GenESeSS, Llk, Pfsa}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Two rows of one sequence with the same t leave the order of their
  * symbols to the exchange, so every entry point that cuts sequence
  * blocks rejects them, naming the seq_id and the t. */
class RepeatedTSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Four M2 sequences as `(seq_id, t, value, symbol, cluster)` rows, plus
    * a second row for (seq_id 3, t 17). */
  private def corpus: DataFrame = {
    val s = spark
    import s.implicits._
    val rows = (0L until 4L).flatMap { id =>
      Pfsa.m2.sample(200, seed = 4400L + id).zipWithIndex.map { case (x, t) =>
        (id, t.toLong, x.toDouble, x, (id % 2).toInt)
      }
    }
    (rows :+ ((3L, 17L, 1.0, 1.toByte, 1))).toDF("seq_id", "t", "value", "symbol", "cluster")
  }

  /** `body` fails with an IllegalArgumentException naming the repeated
    * row's sequence key (`seq`) and t. */
  private def assertRejected(what: String, seq: String = "3")(body: => Any): Unit = {
    val ex = intercept[Throwable](body)
    val cause = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .collectFirst { case e: IllegalArgumentException => e }
    assert(cause.exists(e => e.getMessage.contains(s"repeated (seq_id, t): seq_id $seq, t 17")),
      s"$what: $ex")
  }

  private val params = AnomalyDetection.Params(quantize = false, eps = 0.2)

  test("fit on the driver rejects a repeated (seq_id, t)") {
    assertRejected("fit")(AnomalyDetection.fit(spark, corpus, params))
    assertRejected("fitPredict")(AnomalyDetection.fitPredict(spark, corpus, params))
  }

  test("fit over cached blocks rejects a repeated (seq_id, t)") {
    AnomalyDetection.driverFitBytes.withValue(0L) {
      assertRejected("fit")(AnomalyDetection.fit(spark, corpus, params))
      assertRejected("fitPredict")(AnomalyDetection.fitPredict(spark, corpus, params))
    }
  }

  test("predict rejects a repeated (seq_id, t)") {
    val model = AnomalyDetection.Model(params, None, 2, IndexedSeq(Pfsa.m2), Array(0.0), Array(0.0))
    assertRejected("predict")(AnomalyDetection.predict(spark, model, corpus).collect())
  }

  test("scoreWide and scoreAllLong reject a repeated (seq_id, t)") {
    assertRejected("scoreWide")(Llk.scoreWide(spark, corpus, Seq(Pfsa.m2)).collect())
    assertRejected("scoreAllLong")(Llk.scoreAllLong(spark, corpus, Seq(Pfsa.m2)).collect())
  }

  test("featuresLong rejects a repeated (seq_id, t)") {
    assertRejected("featuresLong")(Cluster.featuresLong(spark, corpus, alphabetSize = 2).collect())
  }

  test("inferAllLong and ngramCountsLong reject a repeated (seq_id, t)") {
    // their sequence is a (cluster, seq_id) pair
    assertRejected("inferAllLong", "[1,3]")(GenESeSS.inferAllLong(spark, corpus, alphabetSize = 2))
    assertRejected("ngramCountsLong", "[1,3]")(GenESeSS.ngramCountsLong(corpus, 4).collect())
  }
}
