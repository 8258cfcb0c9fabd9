package graft.pipeline

import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch anomaly detection — Spark-native rebuild of the reference's
  * `AnomalyDetection` (detection.py:12-547).
  *
  * fit (detection.py:77-99): quantize → cluster → infer one PFSA per cluster
  * → per-cluster llk stats. predict (detection.py:102-163): score every
  * sequence against the library; anomalous iff llk exceeds
  * mean + sensitivity·std for EVERY cluster (detection.py:147-149).
  *
  * Input is the long/tidy form `(seq_id, t, value)` (SURVEY.md §1.4) rather
  * than the reference's row-per-sequence wide frame — the representation that
  * scales: partitioned by seq_id, no wide schemas.
  *
  * The paper's llk (Alg. 1) and GenESeSS inference (Alg. 2) each read one
  * sequence in order, and so does the engine: after the quantizer, fit and
  * predict exchange the rows once into per-partition sequence blocks
  * ([[SeqBlocks]]) and run every pass as one fold over them — no Catalyst
  * plan, columnar cache or aggregate operator per pass. The reference fits
  * in process (detection.py:320-339), and so does a small fit here: the
  * fit reads its input in ONE Spark job (the complex quantizer's sketch
  * pass, or a read of the other quantizers' symbols, which also finds the
  * largest symbol), and up to 36 MiB of rows as the driver decodes them
  * (2^20 rows of a numeric value, seq_id and t) that job also ships the
  * rows: the driver replays the exchange and the sort, and runs every
  * later pass there through the same folds, so a converging fitPredict
  * with the default clusterer runs one job and its predictions are a
  * local relation. A larger fit caches the blocks and runs seven Spark
  * jobs (the read, the exchange, blocks + features, heap, visit sweep,
  * scoring + tally, predictions), and each further fixpoint step three.
  * Like the reference's `cluster_llks`, the llks of a sequence form one
  * wide row: the confusion and stats ([[Cluster.llkTally]]) and the
  * predictions are read off it.
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

  /** Fit reads its input once: the quantized rows go through ONE exchange
    * by seq_id and a (seq_id, t) sort into compact per-partition sequence
    * blocks ([[SeqBlocks]]) — held on the driver for a small input, cached
    * otherwise — and every later pass — the base-model features, the
    * GenESeSS heap, the π̃ visit sweep, the llk scoring with its tally — is
    * one plain fold over those blocks, feeding the
    * aggregates' own buffers a sequence at a time. No stage materializes a
    * sequence as one array cell (a long sequence spans blocks), so training
    * streams have no length ceiling (the reference caps at 500k symbols,
    * examples/M2.cfg). Only the t order matters, so any sortable t works.
    *
    * @param clusterer optional pluggable clustering estimator (reference
    *                   `clustering_alg`, detection.py:26) — see
    *                   [[Cluster.assignFeatures]] for the contract */
  def fit(spark: SparkSession, longDf: DataFrame, params: Params = Params(),
          clusterer: Option[org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]]] = None): Model =
    fitImpl(spark, longDf, params, clusterer, alsoPredict = false)._1

  /** [[fit]] fused with a [[predict]] over the SAME input: the
    * predictions are scored from the fit's blocks with the final library,
    * through the fold [[predict]] runs, and projected by the same
    * [[predictions]] — so they equal fit-then-predict's bit for bit, and
    * the source is read once. The returned predictions are eagerly
    * materialized: a local relation after a driver-side fit, else a
    * checkpoint (the fit's cache is released before return). */
  def fitPredict(spark: SparkSession, longDf: DataFrame, params: Params = Params(),
                 clusterer: Option[org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]]] = None): (Model, DataFrame) = {
    val (model, pred) = fitImpl(spark, longDf, params, clusterer, alsoPredict = true)
    (model, pred.get)
  }

  /** The bytes of input rows up to which the fit reads its input in one
    * Spark job and runs every later pass on the driver (each of the
    * input read's partitions at most this many / partitions), counted as
    * the driver decodes them: 36 bytes a row of a numeric value, seq_id
    * and t, so 2^20 such rows. */
  private val DriverFitBytes: Long = 36L << 20

  /** The bound the fits of the current thread use: [[DriverFitBytes]],
    * unless a test moves it to run one placement or the other. */
  private[pipeline] val driverFitBytes = new scala.util.DynamicVariable[Long](DriverFitBytes)

  /** The fit's blocks and what its one read of the input gave. */
  private final case class Placed(blocks: SeqBlocks.Parts, seqType: org.apache.spark.sql.types.DataType,
                                  complexModel: Option[Quantize.ComplexModel], alphabetSize: Int)

  /** Quantize `longDf` and cut its blocks, with each sequence's features
    * against the base PFSAs when `withFeatures`. The quantizer's pass
    * reads the largest symbol, and a small input's rows too: those are
    * exchanged and sorted on the driver and cut there. A larger input
    * goes through one exchange and sort into blocks, persisted. Nothing
    * of the rows read outlives this call but the blocks. */
  private def place(longDf: DataFrame, params: Params, withFeatures: Boolean): Placed = {
    val (quantized, complexModel, maxSym, read) = Quantize.byTypeRead(longDf, params.quantize,
      params.quantizeType, params.nSymbols, driverFitBytes.value)
    require(maxSym.nonEmpty, "AnomalyDetection.fit: input has no rows after quantization")
    val alphabetSize = math.max(2, maxSym.get + 1)
    val bases = if (withFeatures) Some(Cluster.basePfsas(alphabetSize)) else None
    val (blocks, seqType) = read match {
      case Some(r) =>
        val rows = SeqBlocks.replay(r, longDf.sparkSession.sessionState.conf.numShufflePartitions)
        (rows.cut(bases), rows.seqType)
      case None =>
        val (rows, seqType) = SeqBlocks.sortedRows(quantized())
        (SeqBlocks.Parts.Cached(SeqBlocks.cut(rows, seqType, bases)).persist(), seqType)
    }
    Placed(blocks, seqType, complexModel, alphabetSize)
  }

  private def fitImpl(spark: SparkSession, longDf: DataFrame, params: Params,
                      clusterer: Option[org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]]],
                      alsoPredict: Boolean): (Model, Option[DataFrame]) = {
    import org.apache.spark.ml.linalg.Vectors
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // llk features vs the base PFSAs depend only on (sequences, alphabet),
    // so the blocks carry them from the pass that builds them. With k <= 1
    // and the default clusterer the label is a constant and no feature is
    // computed.
    val k0 = math.max(1, params.nClusters)
    val withFeatures = k0 > 1 || clusterer.nonEmpty
    // the ONE copy of the data for the whole fit (cached when the blocks
    // are an RDD), released in the finally on every exit path
    var blocks: SeqBlocks.Parts = null
    var feat: DataFrame = null
    try {
      val Placed(placed, seqType, complexModel, alphabetSize) = place(longDf, params, withFeatures)
      blocks = placed
      val genParams = GenESeSS.Params(eps = params.eps)

      // the default clusterer's features reach the driver once, with the
      // job that materializes cached blocks, for every fixpoint step's KMeans
      lazy val features = Cluster.readFeatures(blocks)
      def frame: DataFrame = {
        if (feat == null) feat = Cluster.featureFrame(spark, blocks, seqType).persist(MEMORY_AND_DISK)
        feat
      }
      // each step's label of a sequence, applied inside the passes, and
      // the clusters with members (rank r has members iff sizes(r) > 0)
      def labels(k: Int): ((Any, Array[Double]) => Int, Seq[Int]) = {
        def ranks(sizes: Seq[Long]) = sizes.zipWithIndex.collect { case (n, r) if n > 0 => r }
        clusterer match {
          case None if withFeatures && k > 1 =>
            val (label, sizes) = Cluster.kmeansLabeler(features, frame, k, params.kmeansSeed)
            ((_: Any, f: Array[Double]) => label(Vectors.dense(f)), ranks(sizes))
          case None => ((_: Any, _: Array[Double]) => 0, Seq(0))
          case Some(_) =>
            val (l, sizes) = Cluster.assignFeaturesWithStats(frame, k, params.kmeansSeed, clusterer)
            val byId = org.apache.spark.sql.graft.ColumnBridge.internalRows(l.select(col("seq_id"),
                col("cluster")))
              .map(r => (org.apache.spark.sql.catalyst.InternalRow.copyValue(
                if (r.isNullAt(0)) null else r.get(0, seqType)), r.getInt(1)))
              .collect().toMap
            ((id: Any, _: Array[Double]) => byId.getOrElse(id, -1), ranks(sizes))
        }
      }

      var k = k0
      var (label, observed) = labels(k)
      var lib = GenESeSS.inferBlocks(blocks, label, alphabetSize, genParams, observed)
      // KMeans may emit fewer distinct labels than requested (duplicate
      // points); the frequency relabel makes label ids dense, so the
      // effective k is the library size
      k = lib.size
      // the fixpoint only shrinks k: every tally counts argmins over the
      // first library's size, so each step runs the same fold
      val slots = k
      def tally() = Cluster.llkTally(blocks, label, (0 until k).map(lib), k, slots)
      var t = tally()

      // __reduce_clusters fixpoint (detection.py:401-469): merge clusters whose
      // PFSAs confuse each other; driver-side SCC on the tiny k×k matrix. The
      // last tally always scored the final library, so it holds its stats.
      if (params.reduceClusters && k > 1) {
        var iter = 0
        var reduced = Cluster.reducedClusterCount(t.fractions, k)
        while (reduced < k && iter < 5) {
          val step = labels(reduced)
          label = step._1; observed = step._2
          lib = GenESeSS.inferBlocks(blocks, label, alphabetSize, genParams, observed)
          k = lib.size
          iter += 1
          t = tally()
          reduced = Cluster.reducedClusterCount(t.fractions, k)
        }
      }

      val model = Model(params, complexModel, alphabetSize, (0 until k).map(lib),
        (0 until k).map(c => t.stats.get(c).map(_._1).getOrElse(0.0)).toArray,
        (0 until k).map(c => t.stats.get(c).map(_._2).getOrElse(0.0)).toArray)
      // scored off cached blocks, the predictions are checkpointed before
      // the cache goes; off driver-held blocks they are a local relation
      val pred =
        if (alsoPredict) Some(predictions(Llk.scoreBlocks(spark, blocks, seqType, model.library),
          model)).map(p => blocks match {
            case _: SeqBlocks.Parts.Cached => p.localCheckpoint(true)
            case _: SeqBlocks.Parts.Local => p
          })
        else None
      (model, pred)
    } finally {
      if (feat != null) feat.unpersist()
      if (blocks != null) blocks.unpersist()
    }
  }

  /** Score new long-form data against a fitted model.
    *
    * predict quantizes with the model's partition and scores through the
    * fit's own fold: one exchange by seq_id and a (seq_id, t) sort into
    * sequence blocks, each sequence fed in t order through
    * [[graft.functions.LlkLongScore]]'s buffer — its llks are `Llk.llk`'s
    * bit for bit, for any partitioning. No stage materializes a sequence
    * as one array cell, so stream length is unbounded (the reference caps
    * at 500k symbols/stream, examples/M2.cfg:15-17).
    *
    * @return (seq_id, is_anomaly, closest, llk) — closest = argmin-llk
    *         cluster (detection.py:152; lowest id on ties), llk = that
    *         minimum. Sequences no model explains (all llk = +∞, e.g.
    *         alphabet-incompatible, detection.py:139-144) are anomalous with
    *         closest = -1.
    */
  def predict(spark: SparkSession, model: Model, longDf: DataFrame): DataFrame = {
    val p = model.params
    val (quantized, _) =
      Quantize.byType(longDf, p.quantize, p.quantizeType, p.nSymbols, model.complexModel)
    val (rows, seqType) = SeqBlocks.sortedRows(quantized)
    predictions(Llk.scoreBlocks(spark, SeqBlocks.Parts.Cached(SeqBlocks.cut(rows, seqType, None)),
      seqType, model.library), model)
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
