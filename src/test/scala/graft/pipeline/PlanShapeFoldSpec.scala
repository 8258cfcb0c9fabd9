package graft.pipeline

import graft.TestSpark
import graft.core.{Llk, Pfsa}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The fit's and predict's llks are the canonical sequential fold —
  * `Llk.llk` of each sequence's symbols, bit for bit — whatever the plan
  * shape: here 600 short sequences, so a partition holds far more than the
  * 128 groups at which an object hash aggregate falls back to sort (and,
  * when the fold was one, merged split partial buffers), under the
  * session's 4 partitions with adaptive execution and again in one
  * partition without it. The long-form DataFrame entry points run the
  * same folds: `Llk.scoreWide`'s llks are `Llk.llk`'s, `featuresLong`'s
  * vectors are the features of those llks, and `inferAllLong` infers the
  * machines `inferAll` infers on the same sequences as arrays. */
class PlanShapeFoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val seqs = (0 until 600).map { i =>
    i.toLong -> (if (i % 3 == 0) Pfsa.m2u else Pfsa.m2).sample(30 + i % 23, seed = 8800L + i)
  }

  private def corpus(s: SparkSession): DataFrame = {
    import s.implicits._
    seqs.flatMap { case (id, syms) =>
      syms.zipWithIndex.map { case (x, t) => (id, t.toLong, x.toDouble) }
    }.toDF("seq_id", "t", "value")
  }

  private def bits(x: Double) = java.lang.Double.doubleToRawLongBits(x)
  private def rows(df: DataFrame) = df.collect().map(r =>
    (r.getLong(0), r.getBoolean(1), r.getInt(2), bits(r.getDouble(3)))).sortBy(_._1).toSeq
  private def machines(m: AnomalyDetection.Model) = m.library.map(p =>
    (p.conn.map(_.toSeq).toSeq, p.pitilde.map(_.toSeq).toSeq, p.symFrq.toSeq))

  /** Every row's llk is `Llk.llk` under its closest model, which is the
    * lowest-id argmin of `Llk.llk` over the library. */
  private def assertCanonical(what: String, model: AnomalyDetection.Model,
                              pred: Seq[(Long, Boolean, Int, Long)]): Unit = {
    val symbols = seqs.toMap
    assert(pred.map(_._1) == seqs.map(_._1), s"$what: not one row per sequence")
    pred.foreach { case (id, _, closest, llk) =>
      val llks = model.library.map(Llk.llk(symbols(id), _))
      val best = llks.indexWhere(_ == llks.min)
      assert(closest == best, s"$what: sequence $id closest $closest, Llk.llk argmin $best")
      assert(llk == bits(llks(best)), s"$what: sequence $id llk ${java.lang.Double.longBitsToDouble(llk)} " +
        s"vs Llk.llk ${llks(best)}")
    }
  }

  /** The sequences as long-form `(seq_id, t, symbol, cluster)` rows, three
    * clusters by seq_id. */
  private def labeled(s: SparkSession): DataFrame = {
    import s.implicits._
    seqs.flatMap { case (id, syms) =>
      syms.zipWithIndex.map { case (x, t) => (id, t.toLong, x, (id % 3).toInt) }
    }.toDF("seq_id", "t", "symbol", "cluster")
  }

  private val inferParams = graft.core.GenESeSS.Params(eps = 0.05)

  /** `inferAll` on the same sequences as arrays: the reference machines. */
  private lazy val arrayMachines = {
    import spark.implicits._
    val arrays = seqs.map { case (id, syms) => ((id % 3).toInt, syms.toSeq) }.toDF("cluster", "symbols")
    graft.core.GenESeSS.inferAll(spark, arrays, alphabetSize = 2, inferParams)
  }

  private def machinesOf(lib: Map[Int, Pfsa]) = lib.toSeq.sortBy(_._1).map { case (c, p) =>
    (c, p.conn.map(_.toSeq).toSeq, p.pitilde.map(_.toSeq).toSeq, p.symFrq.toSeq) }

  private def checkEntryPoints(s: SparkSession, shape: String): Unit = {
    import graft.core.{Cluster, GenESeSS}
    val long = labeled(s).persist()
    try {
      val symbols = seqs.toMap
      val lib = Seq(Pfsa.m2, Pfsa.m2u)
      val wide = Llk.scoreWide(s, long, lib).collect()
      assert(wide.map(_.getLong(0)).sorted.toSeq == seqs.map(_._1), s"$shape scoreWide: not one row per sequence")
      wide.foreach { r =>
        val want = lib.map(m => bits(Llk.llk(symbols(r.getLong(0)), m)))
        assert(r.getSeq[Double](1).map(bits) == want, s"$shape scoreWide: sequence ${r.getLong(0)}")
      }
      val feats = Cluster.featuresLong(s, long, alphabetSize = 2).collect()
      assert(feats.length == seqs.size, s"$shape featuresLong: ${feats.length} rows")
      feats.foreach { r =>
        val want = Cluster.basePfsas(2).map(m =>
          bits(graft.functions.LlkFeatureVector.of(Llk.llk(symbols(r.getLong(0)), m))))
        assert(r.getAs[org.apache.spark.ml.linalg.Vector](1).toArray.toSeq.map(bits) == want,
          s"$shape featuresLong: sequence ${r.getLong(0)}")
      }
      val inferred = GenESeSS.inferAllLong(s, long, alphabetSize = 2, inferParams)
      assert(machinesOf(inferred) == machinesOf(arrayMachines), s"$shape inferAllLong: machines differ from inferAll")
    } finally long.unpersist()
  }

  private def check(s: SparkSession, shape: String): Unit = {
    val train = corpus(s).persist()
    try {
      val params = AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 3,
        reduceClusters = true, quantize = false, eps = 0.05)
      val (fused, fusedPred) = AnomalyDetection.fitPredict(s, train, params)
      val fitted = AnomalyDetection.fit(s, train, params)
      val fromFit = rows(AnomalyDetection.predict(s, fitted, train))
      val fromFused = rows(AnomalyDetection.predict(s, fused, train))
      val fusedRows = rows(fusedPred)
      assertCanonical(s"$shape fitPredict", fused, fusedRows)
      assertCanonical(s"$shape fit + predict", fitted, fromFit)
      assertCanonical(s"$shape predict", fused, fromFused)
      assert(machines(fused) == machines(fitted), s"$shape: fitPredict and fit inferred different machines")
      assert(fused.llkMeans.map(bits).toSeq == fitted.llkMeans.map(bits).toSeq, s"$shape: llkMeans differ")
      assert(fused.llkStds.map(bits).toSeq == fitted.llkStds.map(bits).toSeq, s"$shape: llkStds differ")
      assert(fusedRows == fromFit, s"$shape: fitPredict rows differ from fit + predict")
    } finally train.unpersist()
  }

  private def onePartition: SparkSession = {
    val one = spark.newSession()
    one.conf.set("spark.sql.shuffle.partitions", "1")
    one.conf.set("spark.sql.adaptive.enabled", "false")
    one
  }

  test("600 sequences at 4 partitions with adaptive execution: llks are Llk.llk's") {
    check(spark, "4 partitions")
  }

  test("600 sequences in one partition without adaptive execution: llks are Llk.llk's") {
    check(onePartition, "1 partition")
  }

  test("entry points at 4 partitions, adaptive: llks, features, machines") {
    checkEntryPoints(spark, "4 partitions")
  }

  test("entry points in 1 partition, no adaptive: llks, features, machines") {
    checkEntryPoints(onePartition, "1 partition")
  }
}
