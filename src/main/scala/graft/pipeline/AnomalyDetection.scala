package graft.pipeline

import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch anomaly detection — Spark-native rebuild of the reference's
  * `AnomalyDetection` (detection.py:12-547).
  *
  * fit (detection.py:77-99): quantize → cluster → infer one PFSA per cluster
  * → per-cluster llk stats. predict (detection.py:102-163): score every
  * sequence against the broadcast library; anomalous iff llk exceeds
  * mean + sensitivity·std for EVERY cluster (detection.py:147-149).
  *
  * Like the reference's `cluster_llks`, the llk matrix stays WIDE (one row
  * per sequence, [[Llk.scoreWide]]): the confusion and stats
  * ([[Cluster.llkTally]]) and the predictions are all read off that row.
  *
  * Input is the long/tidy form `(seq_id, t, value)` (SURVEY.md §1.4) rather
  * than the reference's row-per-sequence wide frame — the representation that
  * scales: partitioned by seq_id, no wide schemas, models broadcast.
  */
object AnomalyDetection {

  final case class Params(
      anomalySensitivity: Double = 1.0,
      nClusters: Int = 1,
      reduceClusters: Boolean = false,
      quantize: Boolean = true,
      quantizeType: String = "complex", // simple | simple-second | complex
      nSymbols: Int = 2,                // bins for the complex quantizer
      eps: Double = 0.1,
      kmeansSeed: Long = 42L)

  final case class Model(
      params: Params,
      complexModel: Option[Quantize.ComplexModel],
      alphabetSize: Int,
      library: IndexedSeq[Pfsa],
      llkMeans: Array[Double],
      llkStds: Array[Double]) {
    /** Per-cluster anomaly bound: mean + sensitivity·std (detection.py:148). */
    def bounds: Array[Double] =
      llkMeans.zip(llkStds).map { case (m, s) =>
        m + params.anomalySensitivity * (if (s.isNaN) 0.0 else s)
      }
  }

  /** Quantize the long form according to params (reference __quantize,
    * detection.py:272-308), reusing a fitted partition when given. */
  private def quantizeLong(df: DataFrame, params: Params,
                           fitted: Option[Quantize.ComplexModel]): (DataFrame, Option[Quantize.ComplexModel]) =
    if (!params.quantize) (Quantize.passthrough(df), None)
    else params.quantizeType match {
      case "simple" => (Quantize.simple(df), None)
      case "simple-second" => (Quantize.simpleSecond(df), None)
      case "complex" =>
        val m = fitted.getOrElse(Quantize.fitComplex(df, nBins = params.nSymbols))
        (Quantize.applyComplex(df, m), Some(m))
      case other => throw new IllegalArgumentException(s"unknown quantize_type: $other")
    }

  /** Long quantized form → one row per sequence: (seq_id, symbols). */
  def toArrays(df: DataFrame): DataFrame =
    df.groupBy(col("seq_id"))
      .agg(expr("transform(array_sort(collect_list(struct(t, symbol))), x -> x.symbol)")
        .as("symbols"))

  /** Partition by seq_id, sort (seq_id, t) within partitions, and re-rank `t`
    * DENSE (0, 1, 2, …) per sequence. The run-based aggregates
    * ([[graft.functions.LlkLongScore]] / [[graft.functions.PfsaVisitLong]])
    * extend a run only on `t == tLast + 1`, so sparse user t — epoch
    * timestamps, strided window positions — would open one run PER ROW and
    * grow per-group buffer state linearly with sequence length, defeating
    * their O(|Q|·k) design. Dense re-ranking preserves order (the only thing
    * the fold semantics depend on) and restores the O(1)-runs shape for any
    * sortable t. The window reuses the exchange + sort directly below it, so
    * this costs no extra shuffle; downstream passes consume the result with
    * `presort = false`. */
  private[pipeline] def densify(df: DataFrame): DataFrame =
    df.repartition(col("seq_id"))
      .sortWithinPartitions(col("seq_id"), col("t"))
      .withColumn("t", (row_number().over(
        Window.partitionBy(col("seq_id")).orderBy(col("t"))) - 1).cast("long"))

  /** Fit works entirely on the LONG form — features, inference heap, π̃
    * visit sweep and the scoring passes all fold over `(seq_id, t, symbol)`
    * rows (Llk.scoreWide / GenESeSS.inferAllLong), so no stage ever
    * materializes a sequence as one array cell and training streams have no
    * length ceiling (the reference caps at 500k symbols, examples/M2.cfg).
    *
    * @param clusterer optional pluggable clustering estimator (reference
    *                   `clustering_alg`, detection.py:26) — see
    *                   [[Cluster.assignFeatures]] for the contract */
  def fit(spark: SparkSession, longDf: DataFrame, params: Params = Params(),
          clusterer: Option[org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]]] = None): Model =
    fitImpl(spark, longDf, params, clusterer, alsoPredict = false)._1

  /** [[fit]] fused with a [[predict]] over the SAME input (r17, guide §2.4
    * "two operations keyed the same way can share"): a separate
    * fit-then-predict pair re-quantized + re-shuffled the input and re-ran
    * the full scoring pass predict needs — but the fit already scores every
    * sequence against the final library for its stats, so the fused form
    * projects the predictions from that cached wide llk matrix (one row of
    * k llks per sequence, tiny), reading the fit's cached quantized frame
    * and never touching the source again. Values are identical by
    * construction: predict's scoring input densify(quantize(longDf)) IS
    * the fit's cached frame, and the projection is the same
    * [[predictions]] both paths share. The returned predictions are
    * eagerly materialized (the fit's caches are released before return). */
  def fitPredict(spark: SparkSession, longDf: DataFrame, params: Params = Params(),
                 clusterer: Option[org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]]] = None): (Model, DataFrame) = {
    val (model, pred) = fitImpl(spark, longDf, params, clusterer, alsoPredict = true)
    (model, pred.get)
  }

  private def fitImpl(spark: SparkSession, longDf: DataFrame, params: Params,
                      clusterer: Option[org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]]],
                      alsoPredict: Boolean): (Model, Option[DataFrame]) = {
    val (quantized, complexModel) = quantizeLong(longDf, params, None)
    // ONE shuffle + sort (+ dense-t re-rank, see densify) for the whole fit:
    // every downstream pass (features, inference heap, visit sweep, the
    // scoring passes) needs seq_id partitioning with t-ascending rows, so pay
    // it once into the cache and run those passes with presort=false
    val q = densify(quantized)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // caches released in the finally (not just the happy path): repeated
    // fit callers in one session must not accumulate blocks when a stage
    // throws mid-fit
    var feat: Option[DataFrame] = None
    var labels: DataFrame = null
    var wide: DataFrame = null
    try {
      val maxSym = q.agg(max(col("symbol"))).head()
      require(!maxSym.isNullAt(0), "AnomalyDetection.fit: input has no rows after quantization")
      val alphabetSize = math.max(2, maxSym.getByte(0).toInt + 1)
      val genParams = GenESeSS.Params(eps = params.eps)

      // llk features vs the base PFSAs depend only on (sequences, alphabet):
      // compute them ONCE — the reduce-clusters fixpoint below re-invokes
      // inferForK per candidate k, and without this the base-model llk sweep
      // re-ran every iteration. With k <= 1 and the default clusterer the
      // labels are a CONSTANT (Cluster.assignFeatures short-circuits), so the
      // whole 4-base-model scoring sweep is skipped — the k = 1 fits in
      // stream_fit_predict / multilevel level-2 were paying it for nothing.
      val k0 = math.max(1, params.nClusters)
      feat =
        if (k0 > 1 || clusterer.nonEmpty)
          Some(Cluster.featuresLong(spark, q, alphabetSize, presort = false).cache())
        else None

      def inferForK(k: Int): (DataFrame, Map[Int, Pfsa]) = {
        // observed cluster ids come FREE from the relabel's bounded collect
        // (rank r has members iff sizes(r) > 0) — inferAllLong otherwise
        // re-scans the labeled join just to re-derive them (r16)
        val (lbl, observed) = feat match {
          case Some(f) =>
            val (l, sizes) = Cluster.assignFeaturesWithStats(
              f, k, params.kmeansSeed, clusterer)
            (l.cache(), sizes.zipWithIndex.collect { case (n, r) if n > 0 => r })
          // constant-label path: one distinct over the already-partitioned
          // cache (no exchange), no feature sweep
          case None =>
            (q.select(col("seq_id")).distinct().withColumn("cluster", lit(0)).cache(),
              Seq(0))
        }
        // the join key is the partitioning key, so labels co-partition in and
        // the joined frame keeps q's (seq_id, t) order — no re-sort needed
        val lib = GenESeSS.inferAllLong(spark, q.join(lbl, "seq_id"),
          alphabetSize, genParams, presort = false,
          knownClusters = Some(observed))
        (lbl, lib)
      }

      var k = k0
      val r0 = inferForK(k)
      labels = r0._1
      var lib = r0._2
      // KMeans may emit fewer distinct labels than requested (duplicate
      // points); the frequency relabel makes label ids dense, so the
      // effective k is the library size
      k = lib.size

      // one cached wide llk row per sequence; a single k-row collect reads
      // the confusion and the stats off it, and fitPredict projects it
      def tally(): Cluster.LlkTally = {
        wide = Llk.scoreWide(spark, q, (0 until k).map(lib), presort = false)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Cluster.llkTally(wide, labels, k)
      }
      var t = tally()

      // __reduce_clusters fixpoint (detection.py:401-469): merge clusters whose
      // PFSAs confuse each other; driver-side SCC on the tiny k×k matrix. The
      // last tally always scored the final library, so it holds its stats.
      if (params.reduceClusters && k > 1) {
        var iter = 0
        var reduced = Cluster.reducedClusterCount(t.fractions, k)
        while (reduced < k && iter < 5) {
          wide.unpersist()
          labels.unpersist()
          val res = inferForK(reduced)
          labels = res._1; lib = res._2
          k = lib.size
          iter += 1
          t = tally()
          reduced = Cluster.reducedClusterCount(t.fractions, k)
        }
      }

      val model = Model(params, complexModel, alphabetSize, (0 until k).map(lib),
        (0 until k).map(c => t.stats.get(c).map(_._1).getOrElse(0.0)).toArray,
        (0 until k).map(c => t.stats.get(c).map(_._2).getOrElse(0.0)).toArray)
      val pred =
        if (alsoPredict) Some(predictions(wide, model).localCheckpoint(true))
        else None
      (model, pred)
    } finally {
      if (wide != null) wide.unpersist()
      if (labels != null) labels.unpersist()
      feat.foreach(_.unpersist())
      q.unpersist()
    }
  }

  /** Score new long-form data against a fitted model.
    *
    * Both fit and predict run entirely on the long form: scoring folds llk
    * DIRECTLY over the quantized `(seq_id, t, symbol)` rows
    * ([[graft.core.Llk.scoreWide]], bit-exact with the array kernel) —
    * no stage materializes a sequence as one array cell, so stream length is
    * unbounded (the reference caps at 500k symbols/stream,
    * examples/M2.cfg:15-17).
    *
    * @return (seq_id, is_anomaly, closest, llk) — closest = argmin-llk
    *         cluster (detection.py:152; lowest id on ties), llk = that
    *         minimum. Sequences no model explains (all llk = +∞, e.g.
    *         alphabet-incompatible, detection.py:139-144) are anomalous with
    *         closest = -1.
    */
  def predict(spark: SparkSession, model: Model, longDf: DataFrame): DataFrame = {
    val (quantized, _) = quantizeLong(longDf, model.params, model.complexModel)
    // same dense-t normalization as fit (one shuffle, which scoreWide then
    // reuses via presort = false)
    predictions(Llk.scoreWide(spark, densify(quantized), model.library, presort = false), model)
  }

  /** Predictions as a UDF-free projection of the wide llk rows, shared by
    * [[predict]] and the fused [[fitPredict]] so the two cannot diverge. */
  private def predictions(wide: DataFrame, model: Model): DataFrame = {
    val bounds = array(model.bounds.map(lit).toIndexedSeq: _*)
    val llk = array_min(col("llks"))
    wide.select(col("seq_id"),
      forall(zip_with(col("llks"), bounds, _ > _), identity).as("is_anomaly"),
      when(llk === lit(Double.PositiveInfinity), lit(-1))
        .otherwise(Llk.argmin(col("llks"))).as("closest"),
      llk.as("llk"))
  }

  /** print_PFSAs parity (reference detection.py:246-254): the fitted
    * library in the reference text form, one block per cluster. */
  def describePfsas(model: Model): String =
    model.library.zipWithIndex.map { case (p, i) =>
      s"PFSA $i\nMean LLK: ${model.llkMeans(i)}\nStd LLK: ${model.llkStds(i)}\n${p.toText}"
    }.mkString("\n")

  // ------------------------------------------------------------- persistence
  // JSON replaces the reference's dill pickle (detection.py:166-243):
  // library.json has one row per cluster PFSA, meta.json one row of params +
  // fitted stats — readable anywhere, no code-version coupling.
  // The row case classes live at package level (ModelRows.scala): codegen'd
  // encoders generate bytecode OUTSIDE this object, so object-private
  // classes make Janino fail compilation ("Private member cannot be
  // accessed") and fall back to interpreted with a noisy stack trace.

  def save(spark: SparkSession, model: Model, path: String): Unit = {
    import spark.implicits._
    val lib = model.library.zipWithIndex.map { case (p, i) =>
      LibRow(i, p.numStates, p.alphabetSize,
        p.conn.flatten.toSeq, p.pitilde.flatten.toSeq,
        p.symFrq.toSeq, p.annErr, p.mrgEps, p.synStr.getOrElse(Seq.empty))
    }
    lib.toDS().coalesce(1).write.mode("overwrite").json(s"$path/library.json")
    val p = model.params
    Seq(MetaRow(p.anomalySensitivity, p.nClusters, p.reduceClusters, p.quantize,
      p.quantizeType, p.nSymbols, p.eps, p.kmeansSeed,
      model.complexModel.map(_.cutoffs.toSeq).getOrElse(Seq.empty),
      model.complexModel.exists(_.detrend), model.complexModel.isDefined,
      model.alphabetSize, model.llkMeans.toSeq, model.llkStds.toSeq))
      .toDS().coalesce(1).write.mode("overwrite").json(s"$path/meta.json")
  }

  def load(spark: SparkSession, path: String): Model = {
    import org.apache.spark.sql.{Encoders, Row}
    // explicit schemas (JSON inference would widen int → bigint); generic
    // Row collect, NOT .as[caseClass] — the typed deserializer for Seq
    // fields trips a Janino codegen bug in this Spark build and spams a
    // fallback stack trace on every load
    def seqD(r: Row, f: String): Seq[Double] = r.getAs[scala.collection.Seq[Double]](f).toSeq
    def seqI(r: Row, f: String): Seq[Int] = r.getAs[scala.collection.Seq[Int]](f).toSeq
    val meta = spark.read.schema(Encoders.product[MetaRow].schema)
      .json(s"$path/meta.json").collect().head
    val lib = spark.read.schema(Encoders.product[LibRow].schema)
      .json(s"$path/library.json").collect()
      .sortBy(_.getAs[Int]("cluster"))
      .map { r =>
        val k = r.getAs[Int]("k")
        Pfsa(
          seqI(r, "connFlat").toArray.grouped(k).toArray,
          seqD(r, "pitildeFlat").toArray.grouped(k).toArray,
          seqD(r, "symFrq").toArray,
          r.getAs[Double]("annErr"), r.getAs[Double]("mrgEps"),
          Some(seqI(r, "synStr")).filter(_.nonEmpty))
      }
    Model(
      Params(meta.getAs[Double]("anomalySensitivity"), meta.getAs[Int]("nClusters"),
        meta.getAs[Boolean]("reduceClusters"), meta.getAs[Boolean]("quantize"),
        meta.getAs[String]("quantizeType"), meta.getAs[Int]("nSymbols"),
        meta.getAs[Double]("eps"), meta.getAs[Long]("kmeansSeed")),
      if (meta.getAs[Boolean]("hasComplex"))
        Some(Quantize.ComplexModel(seqD(meta, "cutoffs").toArray, meta.getAs[Boolean]("detrend")))
      else None,
      meta.getAs[Int]("alphabetSize"), lib.toIndexedSeq,
      seqD(meta, "llkMeans").toArray, seqD(meta, "llkStds").toArray)
  }
}
