package graft.pipeline

import graft.TestSpark
import graft.core.Pfsa
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end golden test per SURVEY.md §5 item 3: train on streams from the
  * M2.cfg ground-truth machine, predict on a mix of M2 and M2_u windows —
  * the M2_u ones must be flagged anomalous, the M2 ones must not. */
class AnomalyDetectionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def longForm(rows: Seq[(Long, Array[Byte])]) =
    rows.flatMap { case (id, syms) =>
      syms.zipWithIndex.map { case (s, t) => (id, t.toLong, s.toDouble) }
    }.toDF("seq_id", "t", "value")

  test("fit + predict separates M2 from M2_u (quantize=false, k=1)") {
    val train = longForm((0L until 12L).map(i => i -> Pfsa.m2.sample(4000, seed = 100 + i)))
    val params = AnomalyDetection.Params(
      anomalySensitivity = 3.0, nClusters = 1, quantize = false, eps = 0.05)
    val model = AnomalyDetection.fit(spark, train, params)
    assert(model.library.size == 1)

    val test = longForm(
      (0L until 4L).map(i => i -> Pfsa.m2.sample(4000, seed = 200 + i)) ++
      (4L until 8L).map(i => i -> Pfsa.m2u.sample(4000, seed = 300 + i)))
    val pred = AnomalyDetection.predict(spark, model, test)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    (0L until 4L).foreach(i => assert(!pred(i), s"M2 seq $i wrongly anomalous"))
    (4L until 8L).foreach(i => assert(pred(i), s"M2_u seq $i not flagged"))
  }

  test("k=2 clustering separates mixed regimes and model round-trips") {
    val train = longForm(
      (0L until 6L).map(i => i -> Pfsa.m2.sample(4000, seed = 400 + i)) ++
      (6L until 12L).map(i => i -> Pfsa.m2u.sample(4000, seed = 500 + i)))
    val params = AnomalyDetection.Params(
      anomalySensitivity = 3.0, nClusters = 2, quantize = false, eps = 0.05)
    val model = AnomalyDetection.fit(spark, train, params)
    assert(model.library.size == 2)

    // both regimes are in-library → nothing anomalous
    val pred = AnomalyDetection.predict(spark, model, train)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getInt(2)))
    assert(pred.forall(!_._2))
    // the two regimes map to different closest clusters
    val m2Clusters = pred.filter(_._1 < 6).map(_._3).toSet
    val m2uClusters = pred.filter(_._1 >= 6).map(_._3).toSet
    assert(m2Clusters.size == 1 && m2uClusters.size == 1 && m2Clusters != m2uClusters)

    // persistence round-trip (JSON replaces dill, detection.py:166-243)
    val dir = java.nio.file.Files.createTempDirectory("model").toString
    AnomalyDetection.save(spark, model, dir)
    val loaded = AnomalyDetection.load(spark, dir)
    assert(loaded.library.size == model.library.size)
    assert(loaded.llkMeans.toSeq == model.llkMeans.toSeq)
    assert(loaded.alphabetSize == model.alphabetSize)
    val predLoaded = AnomalyDetection.predict(spark, loaded, train)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(pred.forall { case (id, an, _) => predLoaded(id) == an })
  }

  test("complex quantization path works end-to-end on continuous data") {
    // continuous values: regime A ~ random walk via m2 symbols, regime B via m2u
    def walk(syms: Array[Byte]): Array[Byte] = syms // symbols drive the walk below
    val rnd = new scala.util.Random(7)
    def continuous(syms: Array[Byte]): Seq[Double] = {
      var x = 0.0
      syms.map { s => x += (if (s == 1) 1.0 else -1.0) + rnd.nextGaussian() * 0.1; x }.toSeq
    }
    val train = (0L until 8L).flatMap { i =>
      continuous(Pfsa.m2.sample(3000, 600 + i)).zipWithIndex.map { case (v, t) => (i, t.toLong, v) }
    }.toDF("seq_id", "t", "value")
    val params = AnomalyDetection.Params(
      anomalySensitivity = 3.0, nClusters = 1, quantize = true,
      quantizeType = "simple", eps = 0.05)
    val model = AnomalyDetection.fit(spark, train, params)
    val pred = AnomalyDetection.predict(spark, model, train)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(pred.values.forall(!_), "training regime must not be anomalous to itself")
  }

  test("confusion fractions → SCC reduction merges mutually-confused clusters") {
    import graft.core.Cluster
    // clusters 0 and 1 split their argmin between models 0/1 BOTH ways
    // (mutual ≥0.2 edges → one SCC); cluster 2 maps only to itself
    val llks = Seq(
      // seq, model0, model1, model2   (cluster 0 members: seqs 0-3)
      (0L, 0.1, 0.2, 9.0), (1L, 0.1, 0.2, 9.0), (2L, 0.2, 0.1, 9.0), (3L, 0.2, 0.1, 9.0),
      // cluster 1 members: seqs 4-7, also split between 0 and 1
      (4L, 0.1, 0.2, 9.0), (5L, 0.2, 0.1, 9.0), (6L, 0.2, 0.1, 9.0), (7L, 0.1, 0.2, 9.0),
      // cluster 2 members: decisively model 2
      (8L, 9.0, 9.0, 0.1), (9L, 9.0, 9.0, 0.1))
      .flatMap { case (s, a, b, c) => Seq((s, 0, a), (s, 1, b), (s, 2, c)) }
      .toDF("seq_id", "cluster_id", "llk")
    val members = (Seq.tabulate(4)(i => (i.toLong, 0)) ++
      Seq.tabulate(4)(i => ((i + 4).toLong, 1)) ++ Seq((8L, 2), (9L, 2)))
      .toDF("seq_id", "cluster")
    val fracs = Cluster.confusionFractions(llks, members)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(Cluster.reducedClusterCount(fracs, 3) == 2,
      s"clusters 0,1 must merge, 2 stays: $fracs")
  }

  test("fit + predict handle a 1M-symbol stream (2× the reference's 500k cap)") {
    import org.apache.spark.sql.functions._
    // generated DISTRIBUTED — the sequence never exists as one driver array
    // or one executor cell anywhere in fit or predict
    val d = 1000000L
    // seq_id must be NON-FOLDABLE: a literal 0 gets constant-folded out of
    // every Window.partitionBy(seq_id) downstream, tripping the
    // unpartitioned-window warning we deliberately keep loud as the
    // mechanical audit of the always-partitioned invariant. least(0, id)
    // is 0 on every row but opaque to the optimizer — like real data.
    val long = spark.range(d)
      .select(least(lit(0L), col("id")).as("seq_id"), col("id").as("t"),
        (col("id") % 7 % 2).cast("double").as("value"))
    val p = AnomalyDetection.Params(anomalySensitivity = 3.0, nClusters = 1,
      quantize = false)
    val model = AnomalyDetection.fit(spark, long, p)
    assert(model.library.size == 1)
    assert(model.llkMeans(0) > 0.0 && !model.llkMeans(0).isInfinite)
    val out = AnomalyDetection.predict(spark, model, long).collect()
    assert(out.length == 1)
    assert(!out.head.getBoolean(1), "training stream must explain itself")
    assert(!out.head.getDouble(3).isInfinite)
  }

  test("sparse epoch t densifies: fit + predict match the dense-t run, plan UDF-free") {
    // public contract: any sortable t (e.g. epoch-millis at 60 s cadence)
    // must behave exactly like dense 0-based t — fit/predict re-rank t
    // internally so the run-based aggregates keep O(|Q|·k) state instead of
    // opening one run per gap (round-4 ADVICE, medium)
    val syms = Pfsa.m2.sample(2000, seed = 900L)
    val dense = longForm(Seq(0L -> syms))
    val sparse = syms.zipWithIndex.toSeq.map { case (s, t) =>
      (0L, 1700000000000L + t.toLong * 60000L, s.toDouble)
    }.toDF("seq_id", "t", "value")
    val params = AnomalyDetection.Params(
      anomalySensitivity = 3.0, nClusters = 1, quantize = false, eps = 0.05)
    val mDense = AnomalyDetection.fit(spark, dense, params)
    val mSparse = AnomalyDetection.fit(spark, sparse, params)
    assert(mDense.llkMeans.toSeq == mSparse.llkMeans.toSeq,
      "fit must densify t (sparse t diverged)")
    val pd = AnomalyDetection.predict(spark, mDense, dense)
    val ps = AnomalyDetection.predict(spark, mDense, sparse)
    assert(pd.collect().head.getDouble(3) == ps.collect().head.getDouble(3),
      "predict must densify t (sparse t diverged)")
    // the per-cluster bound lookup is a literal-array element_at, not a UDF —
    // predict's whole plan stays codegen-friendly (round-4 verdict #5)
    val plan = pd.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"UDF crept into predict's plan:\n$plan")
  }

  test("fit on an empty frame fails with a clear message, not an NPE") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Double)].toDF("seq_id", "t", "value")
    val ex = intercept[IllegalArgumentException] {
      AnomalyDetection.fit(spark, empty,
        AnomalyDetection.Params(nClusters = 1, quantize = false))
    }
    assert(ex.getMessage.contains("no rows"), ex.getMessage)
  }

  test("fit with reduce_clusters converges and the model explains training data") {
    // over-clustered two-regime corpus: the fixpoint loop must terminate
    // with a library no larger than requested and clean training predictions
    // (whether k actually shrinks depends on how the argmin splits — the
    // reference's SCC rule only merges MUTUALLY confused clusters)
    val train = longForm(
      (0L until 8L).map(i => i -> Pfsa.m2.sample(4000, seed = 700 + i)) ++
      (8L until 16L).map(i => i -> Pfsa.m2u.sample(4000, seed = 800 + i)))
    val params = AnomalyDetection.Params(
      anomalySensitivity = 3.0, nClusters = 4, reduceClusters = true,
      quantize = false, eps = 0.05)
    val model = AnomalyDetection.fit(spark, train, params)
    assert(model.library.size <= 4 && model.library.nonEmpty)
    assert(model.llkMeans.length == model.library.size)
    val predRows = AnomalyDetection.predict(spark, model, train).collect()
    val pred = predRows.map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(pred.values.forall(!_), "training data anomalous after reduce loop")

    // the fused path (the fixpoint's llk matrix reused for the stats and the
    // predictions) must return exactly what fit then predict return
    val (fused, fusedPred) = AnomalyDetection.fitPredict(spark, train, params)
    def machines(m: AnomalyDetection.Model) = m.library.map(p =>
      (p.conn.map(_.toSeq).toSeq, p.pitilde.map(_.toSeq).toSeq, p.symFrq.toSeq))
    def bits(xs: Array[Double]) = xs.toSeq.map(java.lang.Double.doubleToRawLongBits)
    assert(machines(fused) == machines(model), "fitPredict inferred a different library")
    assert(bits(fused.llkMeans) == bits(model.llkMeans), "llkMeans differ")
    assert(bits(fused.llkStds) == bits(model.llkStds), "llkStds differ")
    def rowsOf(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
      (r.getLong(0), r.getBoolean(1), r.getInt(2), java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      .sortBy(_._1).toSeq
    assert(rowsOf(fusedPred.collect()) == rowsOf(predRows), "fused predictions differ from predict")
  }
}
