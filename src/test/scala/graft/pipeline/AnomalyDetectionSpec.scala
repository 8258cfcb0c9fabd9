package graft.pipeline

import graft.TestSpark
import graft.core.Pfsa
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StructType}
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
    val wide = Seq(
      // seq, model0, model1, model2   (cluster 0 members: seqs 0-3)
      (0L, 0.1, 0.2, 9.0), (1L, 0.1, 0.2, 9.0), (2L, 0.2, 0.1, 9.0), (3L, 0.2, 0.1, 9.0),
      // cluster 1 members: seqs 4-7, also split between 0 and 1
      (4L, 0.1, 0.2, 9.0), (5L, 0.2, 0.1, 9.0), (6L, 0.2, 0.1, 9.0), (7L, 0.1, 0.2, 9.0),
      // cluster 2 members: decisively model 2
      (8L, 9.0, 9.0, 0.1), (9L, 9.0, 9.0, 0.1))
      .map { case (s, a, b, c) => (s, Seq(a, b, c)) }
      .toDF("seq_id", "llks")
    val members = (Seq.tabulate(4)(i => (i.toLong, 0)) ++
      Seq.tabulate(4)(i => ((i + 4).toLong, 1)) ++ Seq((8L, 2), (9L, 2)))
      .toDF("seq_id", "cluster")
    val fracs = Cluster.llkTally(wide, members, 3).fractions
    assert(fracs.toSet == Set((0, 0, 0.5), (0, 1, 0.5), (1, 0, 0.5), (1, 1, 0.5), (2, 2, 1.0)),
      fracs.toString)
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
    assert(machines(fused) == machines(model), "fitPredict inferred a different library")
    assert(bits(fused.llkMeans) == bits(model.llkMeans), "llkMeans differ")
    assert(bits(fused.llkStds) == bits(model.llkStds), "llkStds differ")
    def rowsOf(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
      (r.getLong(0), r.getBoolean(1), r.getInt(2), java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      .sortBy(_._1).toSeq
    assert(rowsOf(fusedPred.collect()) == rowsOf(predRows), "fused predictions differ from predict")
  }

  // ---------------------------------------------------------------- wide llk
  // The fit reads its confusion, stats and predictions off ONE wide llk row
  // per sequence. The cases below hold it to the long-form tail it
  // replaced, to the lowest-id tie rule, and to a Spark-job budget.

  private def machines(m: AnomalyDetection.Model) = m.library.map(p =>
    (p.conn.map(_.toSeq).toSeq, p.pitilde.map(_.toSeq).toSeq, p.symFrq.toSeq))
  private def bits(xs: Array[Double]) = xs.toSeq.map(java.lang.Double.doubleToRawLongBits)
  private def predRows(df: DataFrame) = df.collect().map(r =>
    (r.getLong(0), r.getBoolean(1), r.getInt(2), java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
    .sortBy(_._1).toSeq

  /** Two M2 / M2_u regimes of `perRegime` sequences of `len` symbols each;
    * M2_u sequence i samples with seed `seed + uOffset + i`. */
  private def twoRegimes(perRegime: Int, len: Int, seed: Long, uOffset: Long = 100L) = longForm(
    (0 until perRegime).map(i => i.toLong -> Pfsa.m2.sample(len, seed = seed + i)) ++
    (0 until perRegime).map(i => (perRegime + i).toLong -> Pfsa.m2u.sample(len, seed = seed + uOffset + i)))

  /** The long-form fit tail the wide matrix replaced, rebuilt from
    * `Llk.scoreAllLong` rows with the same caches: features regrouped by
    * `collect_list`, window-argmin confusion, join/filter/group-by stats,
    * `bool_and`/`min_by`/`min` predictions (quantize = false inputs). */
  private object LongTail {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    import graft.core.{Cluster, GenESeSS, Llk, Quantize}

    /** Partitioned by seq_id, (seq_id, t)-sorted, `t` re-ranked dense
      * from 0 per sequence. */
    def densify(df: DataFrame): DataFrame =
      df.repartition(col("seq_id")).sortWithinPartitions(col("seq_id"), col("t"))
        .withColumn("t", (row_number().over(Window.partitionBy(col("seq_id")).orderBy(col("t"))) - 1)
          .cast("long"))

    def features(q: DataFrame, alphabetSize: Int): DataFrame = {
      val toVec = udf { llks: Seq[Double] =>
        org.apache.spark.ml.linalg.Vectors.dense(
          llks.map(v => if (v.isInfinite || v.isNaN) 1e6 else v).toArray)
      }
      Llk.scoreAllLong(spark, q, Cluster.basePfsas(alphabetSize), presort = false)
        .groupBy(col("seq_id"))
        .agg(expr("transform(array_sort(collect_list(struct(cluster_id, llk))), x -> x.llk)").as("lk"))
        .select(col("seq_id"), toVec(col("lk")).as("features"))
    }

    def confusion(llks: DataFrame, members: DataFrame): Seq[(Int, Int, Double)] = {
      val best = llks
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("seq_id")).orderBy(col("llk").asc_nulls_last, col("cluster_id"))))
        .filter(col("rn") === 1)
        .select(col("seq_id"), col("cluster_id").as("best_cluster"))
      members.join(best, "seq_id")
        .groupBy(col("cluster").as("src_cluster"), col("best_cluster"))
        .agg(count(lit(1)).as("n"))
        .withColumn("frac", col("n").cast("double")
          / sum(col("n")).over(Window.partitionBy(col("src_cluster"))))
        .select(col("src_cluster"), col("best_cluster"), col("frac"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq
    }

    def predictions(llks: DataFrame, bounds: Array[Double]): DataFrame =
      llks
        .withColumn("bound", element_at(array(bounds.map(lit).toIndexedSeq: _*), col("cluster_id") + 1))
        .groupBy(col("seq_id"))
        .agg(bool_and(col("llk") > col("bound")).as("is_anomaly"),
          min_by(col("cluster_id"), col("llk")).as("closest_raw"),
          min(col("llk")).as("llk"))
        .select(col("seq_id"), col("is_anomaly"),
          when(col("llk") === lit(Double.PositiveInfinity), lit(-1))
            .otherwise(col("closest_raw")).cast("int").as("closest"),
          col("llk"))

    /** (model, k of every inference in order, fused predictions); each
      * fixpoint step also checks the production tally's fractions. */
    def fitPredict(longDf: DataFrame, params: AnomalyDetection.Params)
        : (AnomalyDetection.Model, Seq[Int], Seq[(Long, Boolean, Int, Long)]) = {
      val q = densify(Quantize.passthrough(longDf)).persist(MEMORY_AND_DISK)
      val alphabetSize = math.max(2, q.agg(max(col("symbol"))).head().getByte(0).toInt + 1)
      val feat = features(q, alphabetSize).cache()
      def inferForK(k: Int): (DataFrame, Map[Int, Pfsa]) = {
        val (l, sizes) = Cluster.assignFeaturesWithStats(feat, k, params.kmeansSeed)
        val lbl = l.cache()
        (lbl, GenESeSS.inferAllLong(spark, q.join(lbl, "seq_id"), alphabetSize,
          GenESeSS.Params(eps = params.eps), presort = false,
          knownClusters = Some(sizes.zipWithIndex.collect { case (n, r) if n > 0 => r })))
      }
      def score(lib: IndexedSeq[Pfsa]) =
        Llk.scoreAllLong(spark, q, lib, presort = false).persist(MEMORY_AND_DISK)
      var (labels, lib) = inferForK(params.nClusters)
      var k = lib.size
      val ks = scala.collection.mutable.ArrayBuffer(k)
      var llks: DataFrame = null
      var iter = 0
      var converged = false
      while (params.reduceClusters && k > 1 && !converged && iter < 5) {
        llks = score((0 until k).map(lib))
        val fracs = confusion(llks, labels)
        val wide = Cluster.llkTally(Llk.scoreWide(spark, q, (0 until k).map(lib), presort = false),
          labels, k).fractions
        assert(wide.toSet == fracs.toSet, s"wide confusion $wide != long-form $fracs")
        val reduced = Cluster.reducedClusterCount(fracs, k)
        if (reduced < k) {
          llks.unpersist(); llks = null
          labels.unpersist()
          val res = inferForK(reduced)
          labels = res._1; lib = res._2; k = lib.size; ks += k
          iter += 1
        } else converged = true
      }
      val ordered = (0 until k).map(lib)
      if (llks == null) llks = score(ordered)
      val stats = llks.join(labels, "seq_id").filter(col("cluster_id") === col("cluster"))
        .groupBy(col("cluster"))
        .agg(avg(col("llk")), stddev_samp(col("llk")))
        .collect().map(r => r.getInt(0) -> (r.getDouble(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
        .toMap
      val model = AnomalyDetection.Model(params, None, alphabetSize, ordered,
        (0 until k).map(c => stats.get(c).map(_._1).getOrElse(0.0)).toArray,
        (0 until k).map(c => stats.get(c).map(_._2).getOrElse(0.0)).toArray)
      val pred = predRows(predictions(llks, model.bounds))
      Seq(llks, labels, feat, q).foreach(_.unpersist())
      (model, ks.toSeq, pred)
    }

    def predict(model: AnomalyDetection.Model, longDf: DataFrame): Seq[(Long, Boolean, Int, Long)] =
      predRows(predictions(Llk.scoreAllLong(spark,
        densify(Quantize.passthrough(longDf)), model.library, presort = false),
        model.bounds))
  }

  private def assertMatchesLongTail(train: DataFrame, params: AnomalyDetection.Params,
                                    merges: Boolean): Unit = {
    val (ref, ks, refPred) = LongTail.fitPredict(train, params)
    assert((ks.size > 1) == merges, s"inference k sequence $ks")
    val fitted = AnomalyDetection.fit(spark, train, params)
    val (fused, fusedPred) = AnomalyDetection.fitPredict(spark, train, params)
    for ((name, m) <- Seq("fit" -> fitted, "fitPredict" -> fused)) {
      assert(m.library.size == ks.last, s"$name: reduction ended at ${m.library.size}, reference $ks")
      assert(machines(m) == machines(ref), s"$name: machines differ from the long-form tail")
      assert(bits(m.llkMeans) == bits(ref.llkMeans), s"$name: llkMeans ${m.llkMeans.toSeq} vs ${ref.llkMeans.toSeq}")
      assert(bits(m.llkStds) == bits(ref.llkStds), s"$name: llkStds ${m.llkStds.toSeq} vs ${ref.llkStds.toSeq}")
    }
    assert(predRows(fusedPred) == refPred, "fitPredict rows differ from the long-form tail")
    assert(predRows(AnomalyDetection.predict(spark, fitted, train)) == LongTail.predict(ref, train),
      "predict rows differ from the long-form tail")
  }

  test("wide llk tail equals the long-form tail: a corpus the fixpoint merges") {
    // two regimes of short sequences over-cut into five clusters: the
    // fixpoint merges two of them (k 5 → 4)
    assertMatchesLongTail(twoRegimes(10, 1000, 3000L, uOffset = 500L),
      AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 5, reduceClusters = true,
        quantize = false, eps = 0.05),
      merges = true)
  }

  test("wide llk tail equals the long-form tail: a corpus that converges at once") {
    assertMatchesLongTail(twoRegimes(6, 4000, 1700L),
      AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 2, reduceClusters = true,
        quantize = false, eps = 0.05),
      merges = false)
  }

  test("equal llks resolve to the lowest cluster id in the confusion, fit, fitPredict and predict") {
    import graft.core.{Cluster, Llk}
    // sequences 6-11 repeat 0-5 symbol for symbol, and the clusterer puts
    // each copy in the other cluster: both clusters infer the same machine,
    // so every sequence scores equal llks under models 0 and 1
    val syms = (0 until 6).map(i => Pfsa.m2.sample(3000, seed = 2100L + i))
    val train = longForm(syms.indices.map(i => i.toLong -> syms(i)) ++
      syms.indices.map(i => (i + 6).toLong -> syms(i)))
    val params = AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 2,
      reduceClusters = true, quantize = false, eps = 0.05)
    val fitted = AnomalyDetection.fit(spark, train, params, Some(new SplitAtSix))
    val (fused, fusedPred) = AnomalyDetection.fitPredict(spark, train, params, Some(new SplitAtSix))
    for (m <- Seq(fitted, fused)) {
      assert(m.library.size == 2 && machines(m).distinct.size == 1,
        "precondition: the two clusters must infer one machine")
    }
    assert(predRows(fusedPred).forall(_._3 == 0), s"fitPredict closest: ${predRows(fusedPred)}")
    assert(predRows(AnomalyDetection.predict(spark, fitted, train)).forall(_._3 == 0),
      "predict closest must be the lower of two equal models")
    // the confusion the fit reads: every member's best model is 0
    val symbols = graft.core.Quantize.passthrough(train)
    val members = train.select(col("seq_id")).distinct()
      .withColumn("cluster", (col("seq_id") >= 6).cast("int"))
    val tally = Cluster.llkTally(Llk.scoreWide(spark, symbols, fitted.library), members, 2)
    assert(tally.counts.map { case (i, row) => i -> row.toSeq } == Map(0 -> Seq(6L, 0L), 1 -> Seq(6L, 0L)),
      tally.counts.map { case (i, row) => i -> row.toSeq }.toString)
    // a tie that is not at index 0: [m2u, m2, m2] must name 1, never 2
    val model = fitted.copy(library = IndexedSeq(Pfsa.m2u, Pfsa.m2, Pfsa.m2),
      llkMeans = Array(0.0, 0.0, 0.0), llkStds = Array(0.0, 0.0, 0.0))
    val test = longForm((0L until 4L).map(i => i -> Pfsa.m2.sample(2000, seed = 2200L + i)))
    val closest = predRows(AnomalyDetection.predict(spark, model, test)).map(_._3)
    assert(closest == Seq(1, 1, 1, 1), closest.toString)
  }

  test("an MLlib clusterer fits on the feature vectors the fit's blocks carry") {
    import org.apache.spark.ml.clustering.BisectingKMeans
    val train = twoRegimes(6, 3000, 2500L)
    val params = AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 2,
      quantize = false, eps = 0.05)
    val est = new BisectingKMeans().setK(2).setSeed(3L)
      .setFeaturesCol("features").setPredictionCol("raw_label")
    val (model, pred) = AnomalyDetection.fitPredict(spark, train, params, Some(est))
    assert(model.library.size == 2, model.library.size.toString)
    val closest = predRows(pred).map(r => r._1 -> r._3).toMap
    val (m2, m2u) = ((0L until 6L).map(closest).toSet, (6L until 12L).map(closest).toSet)
    assert(m2.size == 1 && m2u.size == 1 && m2 != m2u, s"closest by regime: $m2 vs $m2u")
    assert(predRows(pred) == predRows(AnomalyDetection.predict(spark, model, train)))
  }

  test("string sequence ids label through the fit and predict every sequence") {
    import org.apache.spark.sql.functions.{concat, lit}
    val train = twoRegimes(6, 3000, 1900L)
      .withColumn("seq_id", concat(lit("s"), col("seq_id").cast("string")))
    val params = AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 2,
      reduceClusters = true, quantize = false, eps = 0.05)
    val (model, pred) = AnomalyDetection.fitPredict(spark, train, params)
    def rows(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getBoolean(1),
      r.getInt(2), java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).sortBy(_._1).toSeq
    val fused = rows(pred)
    assert(fused.map(_._1) == (0 until 12).map(i => s"s$i").sorted)
    assert(fused == rows(AnomalyDetection.predict(spark, model, train)))
    assert(model.library.size == 2, model.library.size.toString)
  }

  test("llkTally's partition fold gives Spark's avg, stddev_samp and count_if bit for bit") {
    import org.apache.spark.sql.functions.{avg, count_if, element_at, stddev_samp}
    val rnd = new scala.util.Random(4242L)
    val special = Array(-0.0, 0.0, Double.PositiveInfinity, Double.NaN, 1e300, -1e-300)
    def llk(): Double =
      if (rnd.nextInt(12) == 0) special(rnd.nextInt(special.length)) else rnd.nextGaussian() * 7
    // cluster 3 has one member (stddev null → 0), cluster 4 only ties
    val rows = (0 until 3000).map(i => (i.toLong, i % 3, Seq.fill(5)(llk()))) ++
      Seq((5000L, 3, Seq(1.0, 2.0, 3.0, 4.0, 5.0))) ++
      (0 until 7).map(i => (6000L + i, 4, Seq.fill(5)(2.5)))
    val slots = 6
    for (parts <- Seq(1, 3, 8)) {
      val wide = rows.toDF("seq_id", "cluster", "llks").repartition(parts, col("seq_id"))
        .persist()
      try {
        val got = graft.core.Cluster.llkTally(wide, 5, slots)
        val best = graft.core.Llk.argmin(col("llks"))
        val own = element_at(col("llks"), col("cluster") + 1)
        val ref = wide.groupBy(col("cluster"))
          .agg(avg(own), stddev_samp(own) +: (0 until slots).map(j => count_if(best === j)): _*)
          .collect().map(r => r.getInt(0) -> r).toMap
        assert(got.stats.keySet == ref.keySet && got.counts.keySet == ref.keySet)
        ref.foreach { case (c, r) =>
          val bits = java.lang.Double.doubleToRawLongBits _
          val (m, sd) = got.stats(c)
          assert(bits(m) == bits(r.getDouble(1)), s"$parts partitions, cluster $c: mean $m vs ${r.getDouble(1)}")
          val refSd = if (r.isNullAt(2)) 0.0 else r.getDouble(2)
          assert(bits(sd) == bits(refSd), s"$parts partitions, cluster $c: std $sd vs $refSd")
          assert(got.counts(c).toSeq == (0 until 5).map(j => r.getLong(3 + j)),
            s"$parts partitions, cluster $c: argmin counts")
        }
      } finally wide.unpersist()
    }
  }

  test("one converging fitPredict stays within its Spark-job budget") {
    // with the long-form llk tail (window-argmin confusion, a separate stats
    // join + group-by, a grouped prediction aggregate) this call ran 36
    // jobs; the wide matrix reads confusion and stats in one k-row collect
    // and projects the predictions (32); one labeled frame per fixpoint
    // step read by the heap, the visit sweep and the scoring, and the
    // relabel counts taken from KMeans' training summary (28); the visit
    // sums and the tally folded per partition instead of a second
    // aggregate, and the labels zipped into the fit's frame instead of a
    // broadcast join (25); the default KMeans fitted on the driver from one
    // read of the features, which also replaces the sizing count (13); every
    // pass one fold over cached sequence blocks: exchange, max symbol,
    // blocks + features, heap, visit sweep, scoring + tally, predictions (7).
    // The bound is 0 here, so the fit takes the path a large input takes:
    // the read that would have kept a small input's rows (it finds the
    // largest symbol) instead of the max-symbol pass, then the cached blocks.
    val budget = 7
    val train = twoRegimes(6, 4000, 1700L)
    val params = AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 2,
      reduceClusters = true, quantize = false, eps = 0.05)
    val (_, jobs) = graft.TestSpark.jobsOf(spark.sparkContext)(
      AnomalyDetection.driverFitBytes.withValue(0L)(AnomalyDetection.fitPredict(spark, train, params)))
    info(s"$jobs Spark jobs")
    assert(jobs <= budget, s"fitPredict ran $jobs Spark jobs, budget $budget")
  }

  test("the fixpoint holds one cached copy of the long data after each step") {
    // the fit caches its data once, as sequence blocks, and every pass of
    // every fixpoint step reads that copy: at each job of the fit at most
    // one RDD of the fit is cached, always the same one, and none is left
    // once the fit returns, or throws. The bound is 0 here, so the fit
    // takes the cached-blocks path a large input takes.
    val params = AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 5,
      reduceClusters = true, quantize = false, eps = 0.05)
    val train = twoRegimes(10, 1000, 3000L, uOffset = 500L)
    val sc = spark.sparkContext
    def cached(before: Set[Int]) =
      sc.getRDDStorageInfo.toSeq.filter(i => !before(i.id) && i.numCachedPartitions > 0).map(_.id)
    def cachesOf(body: => Any): (Seq[Seq[Int]], Seq[Int]) = {
      val before = sc.getRDDStorageInfo.map(_.id).toSet
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]()
      graft.TestSpark.inJobGroup(sc)(() => seen.add(cached(before)))(
        AnomalyDetection.driverFitBytes.withValue(0L)(body))
      import scala.jdk.CollectionConverters._
      (seen.asScala.toSeq, sc.getPersistentRDDs.keySet.filter(id => !before(id)).toSeq)
    }
    val (steps, left) = cachesOf(AnomalyDetection.fit(spark, train, params))
    info(s"cached RDDs at each job: $steps")
    assert(steps.size >= 8, s"expected the jobs of two fixpoint steps, saw ${steps.size}")
    assert(steps.forall(_.size <= 1) && steps.flatten.distinct.size == 1,
      s"the fit's cached RDDs at its jobs: $steps")
    assert(left.isEmpty, s"the fit left persisted RDDs $left")
    // a clusterer that fails after the blocks are cached
    val failing = new SplitAtSix {
      override def fit(ds: org.apache.spark.sql.Dataset[_]): SplitAtSixModel =
        throw new IllegalStateException("planted clusterer failure")
    }
    val (_, leftAfterFailure) = cachesOf(intercept[IllegalStateException](
      AnomalyDetection.fit(spark, train, params.copy(nClusters = 2), Some(failing))))
    assert(leftAfterFailure.isEmpty, s"a failed fit left persisted RDDs $leftAfterFailure")
  }

  /** The Spark jobs `body` runs on this thread, and the RDDs persisted
    * (new since `body` began) at each of them and after it, or after it
    * threw. */
  private def jobsAndPersisted(body: => Any): (Int, Seq[Seq[Int]], Seq[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    def persisted() = sc.getPersistentRDDs.keySet.filter(id => !before(id)).toSeq.sorted
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]()
    graft.TestSpark.inJobGroup(sc)(() => seen.add(persisted()))(scala.util.Try(body))
    import scala.jdk.CollectionConverters._
    (seen.size, seen.asScala.toSeq, persisted())
  }

  test("a small converging fitPredict runs one Spark job, its predictions none") {
    // below the bound the fit reads its input once (the complex
    // quantizer's sketch pass, or a read of the symbols) and runs every
    // later pass on the driver; the predictions are a local relation
    val windows = segmentedCorpus(4300L, 8, 3000)
    try {
      val corpora = Seq(
        "complex" -> (windows, AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 3,
          reduceClusters = true, quantizeType = "complex", nSymbols = 3, eps = 0.2)),
        "quantize = false" -> (twoRegimes(6, 4000, 1700L), AnomalyDetection.Params(
          anomalySensitivity = 2.0, nClusters = 2, reduceClusters = true, quantize = false, eps = 0.05)))
      corpora.foreach { case (name, (train, params)) =>
        val (jobs, _, _) = jobsAndPersisted(AnomalyDetection.fitPredict(spark, train, params)._2.collect())
        info(s"$name: $jobs Spark jobs")
        assert(jobs == 1, s"$name: fitPredict and the read of its predictions ran $jobs Spark jobs")
      }
    } finally windows.unpersist()
  }

  test("a small fit persists no RDD at any job, nor after it returns or throws") {
    val params = AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 5,
      reduceClusters = true, quantize = false, eps = 0.05)
    val train = twoRegimes(10, 1000, 3000L, uOffset = 500L)
    val (jobs, atJobs, after) = jobsAndPersisted(AnomalyDetection.fitPredict(spark, train, params)._2.collect())
    assert(jobs >= 1 && atJobs.forall(_.isEmpty), s"persisted RDDs at the fit's jobs: $atJobs")
    assert(after.isEmpty, s"the fit left persisted RDDs $after")
    // one sequence cannot form two clusters: the default clusterer throws
    // after the read
    val one = longForm(Seq(0L -> Pfsa.m2.sample(500, seed = 10L)))
    val (_, atFailedJobs, afterFailure) = jobsAndPersisted(assert(intercept[IllegalArgumentException](
      AnomalyDetection.fit(spark, one, params.copy(nClusters = 2))).getMessage.contains("n_samples=1")))
    assert(atFailedJobs.forall(_.isEmpty) && afterFailure.isEmpty,
      s"a failed fit persisted RDDs: at its jobs $atFailedJobs, after $afterFailure")
  }

  /** Continuous streams cut like the benchmark's fit workload: each stream
    * is a random walk driven by one machine's symbols (M2, M2_u, or a
    * 3-symbol machine for every fourth stream), windows of 1000 every 500
    * positions through `Segment.windows`, persisted and counted. */
  private def segmentedCorpus(seed: Long, streams: Int, len: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    val tri = Pfsa(Array(Array(0, 1, 2), Array(0, 1, 2), Array(0, 1, 2)),
      Array(Array(0.6, 0.3, 0.1), Array(0.1, 0.6, 0.3), Array(0.3, 0.1, 0.6)),
      Array(1.0 / 3, 1.0 / 3, 1.0 / 3))
    val rnd = new scala.util.Random(seed)
    val rows = (0 until streams).flatMap { s =>
      val m = if (s % 4 == 3) tri else if (s % 2 == 0) Pfsa.m2 else Pfsa.m2u
      var x = 0.0
      m.sample(len, seed * 1000 + s).zipWithIndex.map { case (sym, t) =>
        x += (sym - 1).toDouble + rnd.nextGaussian() * 0.3
        (s.toLong, t.toLong, x)
      }
    }
    val w = graft.core.Segment.windows(rows.toDF("seq_id", "t", "value"), 1000, 500)
      .select((col("seq_id") * 1000000L + col("win_id")).as("seq_id"), col("pos").as("t"),
        col("value"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    w.count()
    w
  }

  test("predict carries the model's bounds in references, not in the generated code") {
    import org.apache.spark.sql.functions._
    val model = AnomalyDetection.Model(
      AnomalyDetection.Params(anomalySensitivity = 1.0, nClusters = 2, quantize = false),
      None, 2, IndexedSeq(Pfsa.m2, Pfsa.m2u),
      llkMeans = Array(1.2345678912345, 2.7182818284591), llkStds = Array(0.0, 0.0))
    // a range, not a local relation, so the plan runs through generated code
    val test = spark.range(4000).select((col("id") % 4).as("seq_id"),
      (col("id") / 4).cast("long").as("t"), (col("id") % 3 % 2).cast("double").as("value"))
    val pred = AnomalyDetection.predict(spark, model, test)
    assert(pred.collect().length == 4)
    val code = pred.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
    assert(code.nonEmpty, "no generated code to check")
    assert(!code.contains("1.2345678912345") && !code.contains("2.7182818284591"),
      "a bound is inlined in the generated code")
  }

  test("a repeated fitPredict finds its generated classes compiled") {
    // Spark's codegen cache keeps 100 entries (4 LRU segments of 25) and a
    // whole-stage class takes two (driver and task classloader), so a fit
    // whose working set is larger recompiles much of it on every call.
    // Where a JVM's keys land in the segments varies, hence the margin.
    // Measured alone in a fresh JVM (first/second/third call compiles):
    // before the fit shared its plans and carried model values as data,
    // 90/44/33, 90/32/29 and 90/51/48 (with the cutoffs and ranks inlined,
    // a new corpus compiled 3-11 more classes than a repeat); after,
    // 77/0/0 and 77/20/20.
    val params = AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 3,
      reduceClusters = true, quantizeType = "complex", nSymbols = 3, eps = 0.2)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def compiled(df: DataFrame): Long = {
      val before = compiles.getCount
      AnomalyDetection.fitPredict(spark, df, params)._2.collect()
      compiles.getCount - before
    }
    val a = segmentedCorpus(4100L, 16, 3000)
    val b = segmentedCorpus(4200L, 16, 3000)
    try {
      val first = compiled(a)
      val second = compiled(b)
      val third = compiled(b)
      info(s"compiles per call: first $first, second $second, third $third")
      assert(third <= 30, s"repeated call compiled $third classes (first $first, second $second)")
      assert(second <= third + 2,
        s"a new corpus compiled $second classes against $third on a repeat: model values in code?")
    } finally { a.unpersist(); b.unpersist() }
  }
}

/** A clusterer that puts sequences 0-5 in one cluster and the rest in the
  * other, whatever their features. */
private class SplitAtSix(override val uid: String)
    extends org.apache.spark.ml.Estimator[SplitAtSixModel] {
  def this() = this(org.apache.spark.ml.util.Identifiable.randomUID("splitAtSix"))
  override def fit(ds: org.apache.spark.sql.Dataset[_]): SplitAtSixModel = new SplitAtSixModel(uid)
  override def transformSchema(schema: StructType): StructType = schema.add("raw_label", IntegerType)
  override def copy(extra: org.apache.spark.ml.param.ParamMap): SplitAtSix = this
}

private class SplitAtSixModel(override val uid: String)
    extends org.apache.spark.ml.Model[SplitAtSixModel] {
  override def transform(ds: org.apache.spark.sql.Dataset[_]): DataFrame =
    ds.withColumn("raw_label", (col("seq_id") >= 6).cast("int"))
  override def transformSchema(schema: StructType): StructType = schema.add("raw_label", IntegerType)
  override def copy(extra: org.apache.spark.ml.param.ParamMap): SplitAtSixModel = this
}
