package graft.pipeline

import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
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
    * sortable t. The rank is the row's [[graft.functions.PositionInRun]] of
    * its seq_id in the sorted partition — `row_number() - 1` of the window
    * over the same sort, without a window operator — so this costs no extra
    * shuffle; downstream passes consume the result with `presort = false`. */
  private[pipeline] def densify(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    df.repartition(col("seq_id"))
      .sortWithinPartitions(col("seq_id"), col("t"))
      .withColumn("t", ColumnBridge.column(
        graft.functions.PositionInRun(ColumnBridge.expression(col("seq_id")))))
  }

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

  /** Grouping of the fit's scoring passes: the visit sweep's keys, so the
    * feature pass, the library scoring and the sweep share one aggregate
    * shape. */
  private val ByLabel = Seq("cluster", "seq_id")

  private def fitImpl(spark: SparkSession, longDf: DataFrame, params: Params,
                      clusterer: Option[org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]]],
                      alsoPredict: Boolean): (Model, Option[DataFrame]) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the complex quantizer's fit pass also reads the largest symbol off
    // its aggregate; the other quantizers need one max query over q
    val (quantized, complexModel, fittedMax) =
      Quantize.byType(longDf, params.quantize, params.quantizeType, params.nSymbols)
    // ONE shuffle + sort (+ dense-t re-rank, see densify) for the whole fit:
    // every downstream pass (features, inference heap, visit sweep, the
    // scoring passes) needs seq_id partitioning with t-ascending rows, so pay
    // it once into the cache and run those passes with presort=false. The
    // cache has the labeled frames' schema (a constant `cluster` until the
    // labels exist), so the feature and the library scoring passes run the
    // same plan and share their generated classes.
    val q = densify(quantized.select(col("seq_id"), col("t"), col("symbol")))
      .withColumn("cluster", lit(0))
      .persist(MEMORY_AND_DISK)
    // caches released in the finally (not just the happy path): repeated
    // fit callers in one session must not accumulate blocks when a stage
    // throws mid-fit
    var feat: Option[DataFrame] = None
    var labeled: DataFrame = null
    var wide: DataFrame = null
    try {
      val maxSym = fittedMax.getOrElse {
        val r = q.agg(max(col("symbol"))).head()
        if (r.isNullAt(0)) None else Some(r.getByte(0).toInt)
      }
      require(maxSym.nonEmpty, "AnomalyDetection.fit: input has no rows after quantization")
      val alphabetSize = math.max(2, maxSym.get + 1)
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
          Some(Cluster.featuresLong(spark, q, alphabetSize, presort = false,
            keys = ByLabel).cache())
        else None

      // One labeled long frame `(seq_id, t, symbol, cluster)` per fixpoint
      // step, persisted: the inference heap, the visit sweep and the llk
      // scoring all read it, so the label join runs once per step and the
      // tally needs no join of its own. The default clusterer relabels the
      // previous step's frame `prev` (q for the first step), so each step
      // holds one cached copy of the long data.
      def inferForK(k: Int, prev: DataFrame): (DataFrame, Map[Int, Pfsa]) = {
        // observed cluster ids come FREE from the relabel's counts (rank r
        // has members iff sizes(r) > 0) — inferAllLong otherwise re-scans
        // the labeled frame just to re-derive them (r16)
        def ranks(sizes: Seq[Long]) = sizes.zipWithIndex.collect { case (n, r) if n > 0 => r }
        val (lbl, observed) = feat match {
          // the default clusterer labels each feature row itself
          case Some(f) if clusterer.isEmpty =>
            val (label, seen) =
              if (k > 1) {
                val (l, sizes) = Cluster.kmeansLabeler(f, k, params.kmeansSeed)
                (l, ranks(sizes))
              } else ((_: org.apache.spark.ml.linalg.Vector) => 0, Seq(0))
            (withLabels(prev, f, label).persist(MEMORY_AND_DISK), seen)
          case Some(f) =>
            val (l, sizes) = Cluster.assignFeaturesWithStats(
              f, k, params.kmeansSeed, clusterer)
            (q.drop("cluster").join(l, "seq_id").persist(MEMORY_AND_DISK), ranks(sizes))
          // constant label: q itself, no join
          case None => (q, Seq(0))
        }
        val lib = GenESeSS.inferAllLong(spark, lbl, alphabetSize, genParams,
          presort = false, knownClusters = Some(observed))
        (lbl, lib)
      }

      var k = k0
      val r0 = inferForK(k, q)
      labeled = r0._1
      var lib = r0._2
      // the heap job materialized the labeled frame, and only the pluggable
      // clusterer's later steps join q again
      if ((labeled ne q) && clusterer.isEmpty) q.unpersist()
      // KMeans may emit fewer distinct labels than requested (duplicate
      // points); the frequency relabel makes label ids dense, so the
      // effective k is the library size
      k = lib.size
      // the fixpoint only shrinks k: every tally counts argmins over the
      // first library's size, so each step runs the same aggregate
      val slots = k

      // one cached wide llk row per (sequence, label); a single k-row
      // collect reads the confusion and the stats off it, and fitPredict
      // projects it
      def tally(): Cluster.LlkTally = {
        wide = Llk.scoreWide(spark, labeled, (0 until k).map(lib), presort = false,
          keys = ByLabel).persist(MEMORY_AND_DISK)
        Cluster.llkTally(wide, k, slots)
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
          val prev = labeled
          val res = inferForK(reduced, prev)
          // released once the new frame's heap job has read it
          prev.unpersist()
          labeled = res._1; lib = res._2
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
      if (labeled != null) labeled.unpersist()
      feat.foreach(_.unpersist())
      q.unpersist()
    }
  }

  /** `q` with each row's `cluster` set to `label` of its sequence's
    * features in `feat (seq_id, features)`: the rows of q's inner join
    * with the labels on seq_id, in q's order and partitioning. The fit's
    * features are an aggregate over q that adds no exchange, so partition
    * i of `feat` holds the sequences of partition i of q, and the two zip
    * partition by partition — no label plan, broadcast or join. `q` may be
    * an earlier result of this function, which keeps q's partitions. A
    * sequence without features in its partition fails the zip. */
  private def withLabels(q: DataFrame, feat: DataFrame,
                         label: org.apache.spark.ml.linalg.Vector => Int): DataFrame = {
    import org.apache.spark.ml.linalg.{SQLDataTypes, Vector}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeRow
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.{StructType, UserDefinedType}
    val (qs, qc) = (q.schema.fieldIndex("seq_id"), q.schema.fieldIndex("cluster"))
    val (fs, ff) = (feat.schema.fieldIndex("seq_id"), feat.schema.fieldIndex("features"))
    val seqType = q.schema(qs).dataType
    val udt = SQLDataTypes.VectorType.asInstanceOf[UserDefinedType[Vector]]
    val width = udt.sqlType.asInstanceOf[StructType].length
    val zipped = ColumnBridge.internalRows(q).zipPartitions(ColumnBridge.internalRows(feat)) {
      (rows, features) =>
        val byId = scala.collection.mutable.HashMap.empty[Any, Int]
        features.foreach { r =>
          if (!r.isNullAt(fs)) byId(InternalRow.copyValue(r.get(fs, seqType))) =
            label(udt.deserialize(r.getStruct(ff, width)))
        }
        var out: UnsafeRow = null
        rows.filter(!_.isNullAt(qs)).map { r =>
          val id = r.get(qs, seqType)
          val c = byId.getOrElse(id, throw new IllegalStateException(
            s"AnomalyDetection.fit: sequence $id has no features in its partition"))
          r match {
            case u: UnsafeRow => // one reused row: the consumer copies it out
              if (out == null) out = u.copy() else out.copyFrom(u)
              out.setInt(qc, c); out
            case g =>
              val o = g.copy(); o.setInt(qc, c); o
          }
        }
    }
    ColumnBridge.sameLayout(q, zipped)
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
    val p = model.params
    val (quantized, _, _) =
      Quantize.byType(longDf, p.quantize, p.quantizeType, p.nSymbols, model.complexModel)
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
