package graft.pipeline

import graft.TestSpark
import graft.core.{Cluster, Pfsa, Quantize}
import org.apache.spark.ml.clustering.KMeans
import org.scalatest.funsuite.AnyFunSuite

/** Fits with fewer sequences than KMeans features. MLlib's AUTO solver
  * takes its block solver there (N < d, d = 4 base-model features), and
  * that solver fails with an index error exactly when N < k as well. The
  * fit names the cause for those cases and fits every other one as MLlib
  * does. */
class TinyFitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("N <= 3 sequences, k in 2..8: a clear error exactly where MLlib's KMeans fails") {
    for (n <- 1 to 3; k <- 2 to 8) {
      val train = (0 until n).flatMap { i =>
        Pfsa.m2.sample(500, seed = 10L + i).zipWithIndex.map { case (s, t) => (i.toLong, t.toLong, s.toDouble) }
      }.toDF("seq_id", "t", "value")
      val feat = Cluster.featuresLong(spark, Quantize.passthrough(train), alphabetSize = 2)
      val mllib = scala.util.Try(new KMeans().setK(k).setSeed(42L).setFeaturesCol("features")
        .setPredictionCol("raw_label").fit(feat.coalesce(1)))
      val fit = scala.util.Try(AnomalyDetection.fit(spark, train,
        AnomalyDetection.Params(nClusters = k, quantize = false)))
      if (n < k) {
        assert(mllib.isFailure, s"N=$n k=$k: MLlib fitted")
        val e = fit.fold(identity, m => fail(s"N=$n k=$k: fitted ${m.library.size} machines"))
        assert(e.isInstanceOf[IllegalArgumentException] &&
          e.getMessage.contains(s"n_samples=$n") && e.getMessage.contains(s"n_clusters=$k"),
          s"N=$n k=$k: $e")
      } else {
        assert(mllib.isSuccess, s"N=$n k=$k: MLlib failed: $mllib")
        val m = fit.get
        assert(m.library.nonEmpty && m.library.size <= k, s"N=$n k=$k: ${m.library.size} machines")
        assert(m.library.size == mllib.get.summary.clusterSizes.count(_ > 0),
          s"N=$n k=$k: library ${m.library.size}, MLlib clusters ${mllib.get.summary.clusterSizes.toSeq}")
      }
    }
  }
}
