package graft.core

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.clustering.graft.KMeansLocal
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.DataType

/** Sequence clustering (reference detection.py:311-354).
  *
  * The reference materializes an N×N Lsmash divergence matrix and hands it to
  * sklearn KMeans (detection.py:320-339) — quadratic in sequence count. The
  * scale path here (SURVEY.md §1.4): represent each sequence by its llk
  * feature vector against a small FIXED set of base PFSAs — KMeans on those
  * features clusters in the metric the divergence induces (likelihood
  * smashing, tex/ms.tex:290-291) at O(N·bases) instead of O(N²).
  *
  * The batch fit reads the features off its sequence blocks
  * ([[SeqBlocks]], driver-held or cached): the blocks carry each
  * sequence's vector from the pass that builds them, the first fold over
  * them gathers the vectors for the default KMeans ([[readFeatures]]), and
  * the labels are applied inside the later passes, per sequence, by
  * [[kmeansLabeler]] (or from a pluggable clusterer's labels). The tally
  * ([[llkTally]]) folds over the same blocks. The DataFrame forms
  * ([[featuresLong]], [[assignFeatures]], [[llkTally]] over wide rows)
  * serve the other callers.
  */
object Cluster {

  /** Deterministic base-model set for likelihood-smashing features: biased
    * memoryless machines + an alternating 2-state machine, spread over the
    * probability simplex. */
  def basePfsas(alphabetSize: Int): Seq[Pfsa] = {
    val k = alphabetSize
    def oneState(weights: Array[Double]): Pfsa = {
      val tot = weights.sum
      Pfsa(Array(Array.fill(k)(0)), Array(weights.map(_ / tot)), weights.map(_ / tot))
    }
    val uniform = oneState(Array.fill(k)(1.0))
    val geomFwd = oneState(Array.tabulate(k)(s => math.pow(2.0, -s)))
    val geomRev = oneState(Array.tabulate(k)(s => math.pow(2.0, s - k + 1.0)))
    val twoState = {
      // state flips on every symbol; emissions skewed oppositely per state
      val row0 = Array.tabulate(k)(s => (s + 1).toDouble)
      val row1 = Array.tabulate(k)(s => (k - s).toDouble)
      val n0 = row0.sum; val n1 = row1.sum
      Pfsa(
        conn = Array(Array.fill(k)(1), Array.fill(k)(0)),
        pitilde = Array(row0.map(_ / n0), row1.map(_ / n1)),
        symFrq = Array.fill(k)(1.0 / k))
    }
    Seq(uniform, geomFwd, geomRev, twoState)
  }

  /** LONG-FORM features: llk vector vs base models folded directly over
    * `(seq_id, t, symbol)` rows ([[Llk.scoreWide]], bit-exact with the
    * array kernel) — the fit path never materializes a sequence as one
    * array cell. The vector is the wide row's |bases| scores, in base
    * order. */
  def featuresLong(spark: SparkSession, longDf: DataFrame, alphabetSize: Int): DataFrame = {
    Llk.scoreWide(spark, longDf, basePfsas(alphabetSize))
      .select(col("seq_id"), ColumnBridge.column(
        graft.functions.LlkFeatureVector(ColumnBridge.expression(col("llks")))).as("features"))
  }

  /** The clustering features of one sequence fed through
    * [[SeqBlocks.Sequence]] against [[basePfsas]]: the values
    * [[featuresLong]] gives its row. */
  private[core] def sequenceFeatures(seq: SeqBlocks.Sequence): Array[Double] =
    seq.llks.map(graft.functions.LlkFeatureVector.of)

  /** Frequency relabel shared by every assign variant (reference's
    * double-argsort trick, detection.py:341-347): rank labels by
    * descending member count (k = nClusters, tiny) and map them back
    * through one referenced map literal — no window over the full data,
    * and the same generated class whatever the ranks. Labels the
    * clusterer fitted but assigned NO rows (KMeans can return an empty
    * cluster) get the remaining ranks after the observed ones, in label
    * order — every raw label 0..k-1 maps to a distinct rank, so center
    * lookups keyed by rank can never collide or miss. `counts` are the
    * (label, members) of the observed labels. Returns (relabel column,
    * raw-label → rank map, member counts by rank). */
  private def frequencyRelabel(counts: Seq[(Int, Long)], nClusters: Int)
      : (org.apache.spark.sql.Column, Map[Int, Int], Seq[Long]) = {
    val observed = counts
      .sortBy { case (lbl, cnt) => (-cnt, lbl) }
      .zipWithIndex.map { case ((lbl, _), rank) => lbl -> rank }
    val unobserved = (0 until nClusters)
      .filterNot(l => observed.exists(_._1 == l)).sorted
      .zipWithIndex.map { case (lbl, i) => lbl -> (observed.length + i) }
    val rankMap = (observed ++ unobserved).toMap
    val relabelCol = coalesce(element_at(typedLit(rankMap), col("raw_label")), lit(0))
    val countsByLbl = counts.toMap
    val sizesByRank = rankMap.toSeq.sortBy(_._2)
      .map { case (lbl, _) => countsByLbl.getOrElse(lbl, 0L) }
    (relabelCol, rankMap, sizesByRank)
  }

  /** The observed labels of a per-label member count array. */
  private def observed(sizes: Array[Long]): Seq[(Int, Long)] =
    sizes.toSeq.zipWithIndex.collect { case (n, lbl) if n > 0 => (lbl, n) }

  /** Feature rows per clusterer partition. */
  private val RowsPerFitPartition = 100000L

  /** Below this many feature rows the clusterer's input is one partition
    * ([[sizedForFit]]) and the default KMeans fits on the driver. */
  private val LocalFitRows = 2 * RowsPerFitPartition

  /** Partition the clusterer's FIT input to the data size (optimization
    * guide §2.2, r16): MLlib estimators iterate RDD jobs whose task count
    * is the input frame's partition count, and AQE never touches RDD jobs
    * — so a session-partitioned (e.g. 32-way) KB-scale feature frame pays
    * ~25 scheduling rounds of near-empty tasks per fit (measured 2.05 s
    * as-is vs 1.13 s coalesced for k=2 at sf0.1). One partition per 100k
    * feature rows (rows are seq_id + a 4-8 double vector), floor 1, never
    * more than the frame already has — at corpus scale the row count rules
    * and this is a no-op, so nothing here is tuned to local[32]. `rows` is
    * the count [[readFeatures]] took. */
  private def sizedForFit(f: DataFrame, rows: Long): DataFrame = {
    val cur = f.rdd.getNumPartitions
    val target = math.min(cur.toLong, math.max(1L, rows / RowsPerFitPartition)).toInt
    if (target < cur) f.coalesce(target) else f
  }

  /** The fit input's one read, a [[ColumnBridge.foldPartitions]] pass that
    * also materializes a cached `f`: its row count and, with `keepRows`,
    * its feature vectors in the order `f.coalesce(1)` reads them — the
    * order in which MLlib iterates [[sizedForFit]]'s one partition. A
    * partition ships its vectors only while it holds at most
    * [[LocalFitRows]] / partitions rows, so the driver never holds more
    * than about [[LocalFitRows]]; there are no vectors when `f` has
    * [[LocalFitRows]] rows or more, or a null vector. */
  private def readFeatures(f: DataFrame, keepRows: Boolean): (Long, Option[Array[Vector]]) = {
    import org.apache.spark.ml.linalg.SQLDataTypes
    import org.apache.spark.sql.types.{StructType, UserDefinedType}
    val parts = f.rdd.getNumPartitions
    val cap = if (keepRows) LocalFitRows / math.max(1, parts) else -1L
    val ff = f.schema.fieldIndex("features")
    val udt = SQLDataTypes.VectorType.asInstanceOf[UserDefinedType[Vector]]
    val width = udt.sqlType.asInstanceOf[StructType].length
    val read = ColumnBridge.foldPartitions(f) { rows =>
      var n = 0L
      var kept = if (cap >= 0) scala.collection.mutable.ArrayBuffer.empty[Vector] else null
      rows.foreach { r =>
        n += 1
        if (kept != null) {
          if (n > cap || r.isNullAt(ff)) kept = null
          else kept += udt.deserialize(r.getStruct(ff, width))
        }
      }
      (n, Option(kept).map(_.toArray))
    }
    gathered(read, KMeansLocal.coalescedOrder(f))
  }

  /** The row count and driver vectors of per-partition reads (row count,
    * vectors kept), the vectors in the partition `order` a one-partition
    * coalesce reads. */
  private def gathered(read: Array[(Long, Option[Array[Vector]])], order: => Option[Seq[Int]])
      : (Long, Option[Array[Vector]]) = {
    val total = read.map(_._1).sum
    val vectors =
      if (total >= LocalFitRows || read.exists(_._2.isEmpty)) None
      else (if (read.length > 1) order else Some(read.indices))
        .filter(_.sorted == read.indices)
        .map(_.flatMap(i => read(i)._2.get).toArray)
    (total, vectors)
  }

  /** [[readFeatures]] of the features `blocks` carry, gathered in the
    * order a one-partition coalesce reads the blocks; over cached blocks
    * this is the job that materializes them. */
  private[graft] def readFeatures(blocks: SeqBlocks.Parts): (Long, Option[Array[Vector]]) = {
    val cap = LocalFitRows / math.max(1, blocks.numPartitions)
    val read = blocks.fold { it =>
      var n = 0L
      var kept = scala.collection.mutable.ArrayBuffer.empty[Vector]
      it.foreach(_.features.foreach { f =>
        n += 1
        if (kept != null) { if (n > cap) kept = null else kept += Vectors.dense(f) }
      })
      (n, Option(kept).map(_.toArray))
    }
    gathered(read, blocks.coalescedOrder)
  }

  /** The `(seq_id, features)` frame of the features `blocks` carry, for
    * the estimators that need a frame: MLlib's KMeans above
    * [[LocalFitRows]] rows and a pluggable clusterer. */
  private[graft] def featureFrame(spark: SparkSession, blocks: SeqBlocks.Parts,
                                  seqType: DataType): DataFrame = {
    import org.apache.spark.ml.linalg.SQLDataTypes
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{StructField, StructType, UserDefinedType}
    val udt = SQLDataTypes.VectorType.asInstanceOf[UserDefinedType[Vector]]
    val rows = blocks.rdd(spark.sparkContext).mapPartitions(_.flatMap { b =>
      b.ids.indices.iterator.map(i =>
        InternalRow(b.ids(i), udt.serialize(Vectors.dense(b.features(i)))): InternalRow)
    })
    ColumnBridge.fromRows(spark, rows, StructType(Seq(StructField("seq_id", seqType),
      StructField("features", SQLDataTypes.VectorType, nullable = false))))
  }

  /** Cluster labels from a `(seq_id, …, features)` frame, relabeled so 0 =
    * most frequent (reference detection.py:332-354). The feature vectors
    * depend only on the sequences and alphabet, so callers that re-cluster
    * the same data at several k — the reduce-clusters fixpoint re-invokes
    * inference per candidate k (detection.py:401-469) — persist the
    * [[featuresLong]] frame once and pay the llk sweep once, not per
    * iteration.
    *
    * `clusterer` makes the algorithm pluggable like the reference's
    * `clustering_alg` constructor knob (detection.py:26,332-339;
    * FeatureAgglomeration in examples/example3.ipynb): pass any MLlib
    * estimator configured with `setFeaturesCol("features")` and
    * `setPredictionCol("raw_label")` (e.g. `BisectingKMeans`,
    * `GaussianMixture`); default is seeded KMeans ([[fitKMeans]]). */
  def assignFeatures(feat: DataFrame, nClusters: Int, seed: Long = 42L,
                     clusterer: Option[Estimator[_ <: Model[_]]] = None): DataFrame =
    assignFeaturesWithStats(feat, nClusters, seed, clusterer)._1

  /** [[assignFeatures]] plus the member counts by relabeled rank — the
    * counts come with the fit (the default KMeans counts them on the
    * driver; a pluggable KMeans' training summary holds them), so callers
    * that need them (the cluster verdict grids' frequency-rank invariant)
    * must not pay a second job over the uncached feature lineage. Other
    * clusterers' counts take one k-row aggregate of the labels. */
  def assignFeaturesWithStats(feat: DataFrame, nClusters: Int, seed: Long = 42L,
                              clusterer: Option[Estimator[_ <: Model[_]]] = None)
      : (DataFrame, Seq[Long]) = {
    def labelCounts(labeled: DataFrame) =
      labeled.groupBy(col("raw_label")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val (labeled, counts): (DataFrame, Seq[(Int, Long)]) = clusterer match {
      case None if nClusters <= 1 =>
        val l = feat.withColumn("raw_label", lit(0))
        (l, labelCounts(l))
      case None =>
        val (f, model, sizes) = fitKMeans(feat, nClusters, seed)
        (model.transform(f), observed(sizes))
      case Some(est) =>
        val f = materialized(feat)
        val m = est.fit(sizedForFit(f, readFeatures(f, keepRows = false)._1))
        val l = m.transform(f)
        (l, m match {
          case km: KMeansModel if km.hasSummary => observed(km.summary.clusterSizes)
          case _ => labelCounts(l)
        })
    }
    val (relabelCol, _, sizes) = frequencyRelabel(counts, nClusters)
    // carry whatever payload columns rode along (symbols on the array path,
    // nothing extra on the long path) — only the ML bookkeeping is dropped
    val keep = feat.columns.filterNot(c => c == "features" || c == "raw_label")
    (labeled.select(keep.map(col).toIndexedSeq :+ relabelCol.cast("int").as("cluster"): _*),
      sizes)
  }

  /** The default clusterer: KMeans labeling `features` into `raw_label`. */
  private def seededKMeans(nClusters: Int, seed: Long): KMeans =
    new KMeans().setK(nClusters).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("raw_label")

  /** `feat` materialized for a fit: an eager checkpoint, since the feature
    * sweep behind `feat` is otherwise re-evaluated by the features read,
    * every estimator pass, transform, AND the relabel collect (uncached
    * verdict-grid callers paid it 3-4x); the frame is one row per
    * sequence, so the materialization is KB-to-MB scale at any corpus
    * size. `feat` itself when the caller already persisted it (the fit
    * path does) — a second materialization of a cached frame is pure
    * overhead (r16). */
  private def materialized(feat: DataFrame): DataFrame =
    if (feat.storageLevel == org.apache.spark.storage.StorageLevel.NONE) feat.localCheckpoint(true)
    else feat

  /** Seeded KMeans on `feat`: (features read, model, members per raw
    * label under the model). Below [[LocalFitRows]] feature rows — where
    * MLlib would run every pass as one task over one partition — the fit
    * runs on the driver ([[KMeansLocal]]: MLlib's algorithm and kernels
    * over the same rows in the same order, so the same model bits) and
    * costs one Spark job, the features read. A larger input, or one
    * `KMeansLocal` does not reproduce, goes to MLlib's `KMeans.fit` on
    * [[sizedForFit]]'s partitions. */
  private[core] def fitKMeans(feat: DataFrame, nClusters: Int, seed: Long)
      : (DataFrame, KMeansModel, Array[Long]) = {
    val f = materialized(feat)
    seededKMeans(nClusters, seed).transformSchema(f.schema)
    val (model, sizes) = fitKMeans(readFeatures(f, keepRows = true), f, nClusters, seed)
    (f, model, sizes)
  }

  /** [[fitKMeans]] of features already read: (model, members per raw
    * label). `frame` is the features frame, built only for MLlib's fit. */
  private def fitKMeans(read: (Long, Option[Array[Vector]]), frame: => DataFrame,
                        nClusters: Int, seed: Long): (KMeansModel, Array[Long]) = {
    val kmeans = seededKMeans(nClusters, seed)
    val (total, vectors) = read
    vectors.flatMap(KMeansLocal.fit(kmeans, _)) match {
      case Some(local) => (local.model, local.clusterSizes)
      case None =>
        val model = kmeans.fit(sizedForFit(frame, total))
        (model, model.summary.clusterSizes)
    }
  }

  /** The seeded-KMeans assign additionally returning the fitted cluster
    * centers keyed by RELABELED rank (complete for every rank 0..k-1 —
    * [[frequencyRelabel]] maps empty clusters too) and the member counts
    * by rank — the hooks the `cluster_kmeans` verdict grid needs to
    * check, in-query, that every row's assignment is the nearest center
    * (the Lloyd assignment invariant MLlib's `transform` guarantees
    * against the FINAL centers). Centers are k tiny arrays on the
    * driver — the same bounded-collect class as the relabel rank map. */
  def assignFeaturesWithCenters(feat: DataFrame, nClusters: Int, seed: Long = 42L)
      : (DataFrame, Map[Int, Array[Double]], Seq[Long]) = {
    val (f, model, counts) = fitKMeans(feat, nClusters, seed)
    val (relabelCol, rankMap, sizes) = frequencyRelabel(observed(counts), nClusters)
    val centers = model.clusterCenters.zipWithIndex.map { case (c, lbl) =>
      rankMap(lbl) -> c.toArray }.toMap
    (model.transform(f).select(col("seq_id"), col("features"),
      relabelCol.cast("int").as("cluster")), centers, sizes)
  }

  /** The default clusterer's label of one feature vector — seeded KMeans'
    * own `predict` mapped through the frequency relabel, the `cluster`
    * [[assignFeaturesWithStats]] projects — so a caller that reads the
    * features sequence by sequence labels them without a plan of its own.
    * `read` is the features read ([[readFeatures]]), `frame` the features
    * frame MLlib's fit needs when the driver fit does not apply. Returns
    * the label with the member counts by rank. Needs `nClusters` > 1. */
  private[graft] def kmeansLabeler(read: (Long, Option[Array[Vector]]), frame: => DataFrame,
                                   nClusters: Int, seed: Long): (Vector => Int, Seq[Long]) = {
    require(nClusters > 1, s"kmeansLabeler: nClusters $nClusters <= 1")
    // MLlib's AUTO solver takes its block solver for fewer rows than
    // dimensions, and that solver fails with an index error when the rows
    // are also fewer than k: name the cause, as sklearn's n_samples check
    // does (N <= 3 and k <= 8 mapped; N >= k or N >= d fit unchanged)
    read._2.foreach { v =>
      if (v.nonEmpty && v.length < v.head.size && v.length < nClusters)
        throw new IllegalArgumentException(s"KMeans: n_samples=${v.length} should be >= " +
          s"n_clusters=$nClusters: ${v.length} sequences cannot form $nClusters clusters")
    }
    val (model, counts) = fitKMeans(read, frame, nClusters, seed)
    val (_, rankMap, sizes) = frequencyRelabel(observed(counts), nClusters)
    ((v: Vector) => rankMap.getOrElse(model.predict(v), 0), sizes)
  }

  /** Per fitted cluster i: `counts(i)(j)` = members whose [[Llk.argmin]]
    * is j, `stats(i)` = (mean, sample std; 0 for a lone member) of the
    * members' own-model llk (reference detection.py:472-499). */
  final case class LlkTally(counts: Map[Int, Array[Long]], stats: Map[Int, (Double, Double)]) {
    /** Nonzero row-normalized confusion fractions (i, j, n_ij / Σ_j n_ij),
      * reference detection.py:430-442. */
    def fractions: Seq[(Int, Int, Double)] =
      counts.toSeq.sortBy(_._1).flatMap { case (i, row) =>
        val total = row.sum
        row.indices.filter(row(_) > 0).map(j => (i, j, row(j).toDouble / total.toDouble))
      }
  }

  /** [[LlkTally]] over [[Llk.scoreWide]] rows of a k-model library keyed by
    * `(seq_id, cluster)` membership, in one pass: every partition folds its
    * rows into one [[TallyBuffer]] per cluster and the driver merges them
    * in partition order, so k rows per partition reach the driver, never
    * the N×k matrix, and the pass runs one job with no exchange. The
    * argmin ([[Llk.argmin]]) is counted for every j < `slots` (≥ k). */
  def llkTally(wide: DataFrame, k: Int, slots: Int): LlkTally = {
    require(slots >= k, s"llkTally: slots $slots < k $k")
    tallied(ColumnBridge.foldPartitions(
        wide.select(col("cluster").cast("int"), col("llks"))) { rows =>
      val bufs = scala.collection.mutable.HashMap.empty[Int, TallyBuffer]
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1))
          bufs.getOrElseUpdate(r.getInt(0), new TallyBuffer(slots)).update(r.getInt(0), r.getArray(1))
      }
      bufs.toArray
    }, k, slots)
  }

  /** [[llkTally]] of the sequences of `blocks`, scored against the
    * k-model `library` in one fold ([[Llk.foreachScored]]), `label`
    * naming each sequence's cluster (< 0: not a member). The sequences of
    * a partition update its buffers in the order of the rows the wide
    * frame of the same partition holds, so the statistics are the same. */
  private[graft] def llkTally(blocks: SeqBlocks.Parts, label: (Any, Array[Double]) => Int,
                              library: Seq[Pfsa], k: Int, slots: Int): LlkTally = {
    require(slots >= k, s"llkTally: slots $slots < k $k")
    val lib = library.toArray
    tallied(blocks.fold { it =>
      val bufs = scala.collection.mutable.HashMap.empty[Int, TallyBuffer]
      Llk.foreachScored(it, lib, label) { (_, c, llks) =>
        bufs.getOrElseUpdate(c, new TallyBuffer(slots))
          .update(c, org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(llks))
      }
      bufs.toArray
    }, k, slots)
  }

  /** The tally of per-partition buffers, merged in partition order. */
  private def tallied(parts: Array[Array[(Int, TallyBuffer)]], k: Int, slots: Int): LlkTally = {
    val merged = scala.collection.mutable.HashMap.empty[Int, TallyBuffer]
    parts.foreach(_.foreach { case (c, b) =>
      merged.getOrElseUpdate(c, new TallyBuffer(slots)).merge(b) })
    val nanForOne = org.apache.spark.sql.internal.SQLConf.get.legacyStatisticalAggregate
    LlkTally(
      merged.map { case (c, b) => c -> b.best.take(k) }.toMap,
      merged.map { case (c, b) =>
        c -> (b.sum / b.count, b.stddevSamp(nanForOne).getOrElse(0.0)) }.toMap)
  }

  /** One cluster's tally: `avg`, `stddev_samp` and `count_if(argmin = j)`
    * of its members, with the buffers, update and merge arithmetic of
    * Spark's `Average` and `CentralMomentAgg`, so the statistics are the
    * ones those aggregates return for the same rows in the same order. A
    * member's own llk is `llks(cluster)`; an index outside the array, or a
    * null element, counts as a null value. */
  private final class TallyBuffer(slots: Int) extends Serializable {
    var sum = 0.0
    var count = 0L
    private var n, avg, m2 = 0.0
    val best = new Array[Long](slots)

    def update(cluster: Int, llks: org.apache.spark.sql.catalyst.util.ArrayData): Unit = {
      val size = llks.numElements()
      val own = cluster >= 0 && cluster < size && !llks.isNullAt(cluster)
      val x = if (own) llks.getDouble(cluster) else 0.0
      sum = sum + x
      if (own) {
        count += 1
        val newN = n + 1.0
        val delta = x - avg
        val deltaN = delta / newN
        avg = avg + deltaN
        m2 = m2 + delta * (delta - deltaN)
        n = newN
      }
      val j = Llk.argminIndex(llks)
      if (j >= 0 && j < slots) best(j) += 1
    }

    def merge(o: TallyBuffer): Unit = {
      sum = sum + o.sum
      count += o.count
      val newN = n + o.n
      val delta = o.avg - avg
      val deltaN = if (newN == 0.0) 0.0 else delta / newN
      val newAvg = avg + deltaN * o.n
      m2 = m2 + o.m2 + delta * deltaN * n * o.n
      avg = newAvg
      n = newN
      var j = 0
      while (j < slots) { best(j) += o.best(j); j += 1 }
    }

    /** None where Spark returns null: no value, or one value unless
      * `nanForOne` (legacy statistical aggregates) makes that NaN. */
    def stddevSamp(nanForOne: Boolean): Option[Double] =
      if (n == 0.0) None
      else if (n == 1.0) (if (nanForOne) Some(Double.NaN) else None)
      else Some(math.sqrt(m2 / (n - 1.0)))
  }

  /** [[llkTally]] of `(seq_id, llks)` rows joined with `(seq_id, cluster)`
    * members. */
  def llkTally(wide: DataFrame, members: DataFrame, k: Int): LlkTally =
    llkTally(wide.join(members, "seq_id"), k, k)

  /** Cluster-reduction step (reference __reduce_clusters,
    * detection.py:401-469): edge i→j iff confusion fraction ≥ threshold;
    * number of Tarjan SCCs of that graph is the reduced cluster count. */
  def reducedClusterCount(fracs: Seq[(Int, Int, Double)], nClusters: Int,
                          threshold: Double = 0.2): Int = {
    val adj = Array.fill(nClusters)(scala.collection.mutable.ArrayBuffer[Int]())
    fracs.foreach { case (i, j, f) =>
      if (f >= threshold && i < nClusters && j < nClusters) adj(i) += j
    }
    GenESeSS.tarjan(nClusters, adj.map(_.toSeq)).max + 1
  }

  /** Union-find with path compression — driver-side parity with the
    * reference's UnionFind (_utils.py:58-109), used by notebook workflows. */
  final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    private val rank = new Array[Int](n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(ra) > rank(rb)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) += 1 }
      }
    }
    def components: Int = (0 until n).map(find).distinct.length
  }
}
