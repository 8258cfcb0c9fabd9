package graft.core

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Sequence clustering (reference detection.py:311-354).
  *
  * The reference materializes an N×N Lsmash divergence matrix and hands it to
  * sklearn KMeans (detection.py:320-339) — quadratic in sequence count. The
  * scale path here (SURVEY.md §1.4): represent each sequence by its llk
  * feature vector against a small FIXED set of base PFSAs — KMeans on those
  * features clusters in the metric the divergence induces (likelihood
  * smashing, tex/ms.tex:290-291) at O(N·bases) instead of O(N²).
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
    * order; `keys` as in [[Llk.scoreWide]]. */
  def featuresLong(spark: SparkSession, longDf: DataFrame, alphabetSize: Int,
                   presort: Boolean = true, keys: Seq[String] = Seq("seq_id")): DataFrame = {
    Llk.scoreWide(spark, longDf, basePfsas(alphabetSize), presort = presort, keys = keys)
      .select(col("seq_id"), ColumnBridge.column(
        graft.functions.LlkFeatureVector(ColumnBridge.expression(col("llks")))).as("features"))
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
    * `GaussianMixture`); default is seeded KMeans. */
  /** Frequency relabel shared by every assign variant (reference's
    * double-argsort trick, detection.py:341-347): rank labels by
    * descending member count (k = nClusters, tiny) and map them back
    * through one referenced map literal — no window over the full data,
    * and the same generated class whatever the ranks. Labels the
    * clusterer fitted but assigned NO rows (KMeans can return an empty
    * cluster) get the remaining ranks after the observed ones, in label
    * order — every raw label 0..k-1 maps to a distinct rank, so center
    * lookups keyed by rank can never collide or miss. The member counts
    * come from the fitted model when it already holds them (KMeans'
    * training summary counts its predictions during `fit`), else from a
    * k-row aggregate of `labeled`. Returns (relabel column, raw-label →
    * rank map, member counts by rank). */
  private def frequencyRelabel(labeled: DataFrame, nClusters: Int, fitted: Option[Model[_]])
      : (org.apache.spark.sql.Column, Map[Int, Int], Seq[Long]) = {
    val counts = fitted match {
      case Some(m: KMeansModel) if m.hasSummary =>
        m.summary.clusterSizes.zipWithIndex.collect { case (n, lbl) if n > 0 => (lbl, n) }
      case _ =>
        labeled.groupBy(col("raw_label")).agg(count(lit(1)).as("cnt"))
          .collect().map(r => (r.getInt(0), r.getLong(1)))
    }
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

  /** Partition the clusterer's FIT input to the data size (optimization
    * guide §2.2, r16): MLlib estimators iterate RDD jobs whose task count
    * is the input frame's partition count, and AQE never touches RDD jobs
    * — so a session-partitioned (e.g. 32-way) KB-scale feature frame pays
    * ~25 scheduling rounds of near-empty tasks per fit (measured 2.05 s
    * as-is vs 1.13 s coalesced for k=2 at sf0.1). One partition per 100k
    * feature rows (rows are seq_id + a 4-8 double vector), floor 1, never
    * more than the frame already has — at corpus scale the row count rules
    * and this is a no-op, so nothing here is tuned to local[32]. The
    * count is one job over a frame every caller evaluates repeatedly
    * anyway (the fit path caches it; the verdict-grid paths re-evaluate
    * it for transform and the output select). */
  private def sizedForFit(feat: DataFrame): DataFrame = {
    val cur = feat.rdd.getNumPartitions
    val target = math.min(cur.toLong, math.max(1L, feat.count() / 100000L)).toInt
    if (target < cur) feat.coalesce(target) else feat
  }

  def assignFeatures(feat: DataFrame, nClusters: Int, seed: Long = 42L,
                     clusterer: Option[Estimator[_ <: Model[_]]] = None): DataFrame =
    assignFeaturesWithStats(feat, nClusters, seed, clusterer)._1

  /** [[assignFeatures]] plus the member counts by relabeled rank — the
    * counts already exist in the relabel's bounded collect, so callers
    * that need them (the cluster verdict grids' frequency-rank invariant)
    * must not pay a second job over the uncached feature lineage. */
  def assignFeaturesWithStats(feat: DataFrame, nClusters: Int, seed: Long = 42L,
                              clusterer: Option[Estimator[_ <: Model[_]]] = None)
      : (DataFrame, Seq[Long]) = {
    val (labeled, fitted): (DataFrame, Option[Model[_]]) =
      if (nClusters <= 1 && clusterer.isEmpty) (feat.withColumn("raw_label", lit(0)), None)
      else {
        val (f, m) = fitOn(feat)(clusterer.getOrElse(seededKMeans(nClusters, seed)).fit(_))
        (m.transform(f), Some(m))
      }
    val (relabelCol, _, sizes) = frequencyRelabel(labeled, nClusters, fitted)
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

  /** Fit an estimator on `feat`, sized by [[sizedForFit]]: (features read,
    * model).
    *
    * Eager checkpoint BEFORE the fit: the feature sweep behind `feat` is
    * otherwise re-evaluated by the sizing count, every estimator pass,
    * transform, AND the relabel collect (uncached verdict-grid callers paid
    * it 3-4x); the frame is one row per sequence, so the materialization is
    * KB-to-MB scale at any corpus size. Skipped when the caller already
    * persisted it (the fit path does) — a second materialization of a
    * cached frame is pure overhead (r16). */
  private def fitOn[M](feat: DataFrame)(fit: DataFrame => M): (DataFrame, M) = {
    val f =
      if (feat.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        feat.localCheckpoint(true)
      else feat
    (f, fit(sizedForFit(f)))
  }

  /** Seeded KMeans on `feat` ([[fitOn]]) and its frequency relabel:
    * (features read, model, relabel column, raw label → rank, member
    * counts by rank). */
  private def fitKMeans(feat: DataFrame, nClusters: Int, seed: Long)
      : (DataFrame, KMeansModel, org.apache.spark.sql.Column, Map[Int, Int], Seq[Long]) = {
    val (f, model) = fitOn(feat)(seededKMeans(nClusters, seed).fit(_))
    val (relabelCol, rankMap, sizes) = frequencyRelabel(model.transform(f), nClusters, Some(model))
    (f, model, relabelCol, rankMap, sizes)
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
    val (f, model, relabelCol, rankMap, sizes) = fitKMeans(feat, nClusters, seed)
    val centers = model.clusterCenters.zipWithIndex.map { case (c, lbl) =>
      rankMap(lbl) -> c.toArray }.toMap
    (model.transform(f).select(col("seq_id"), col("features"),
      relabelCol.cast("int").as("cluster")), centers, sizes)
  }

  /** The default clusterer's label of one feature vector — seeded KMeans'
    * own `predict` mapped through the frequency relabel, the `cluster`
    * [[assignFeaturesWithStats]] projects — so a caller that reads the
    * features row by row labels them without a plan of its own. Returns
    * it with the member counts by rank. Needs `nClusters` > 1. */
  def kmeansLabeler(feat: DataFrame, nClusters: Int, seed: Long = 42L)
      : (org.apache.spark.ml.linalg.Vector => Int, Seq[Long]) = {
    require(nClusters > 1, s"kmeansLabeler: nClusters $nClusters <= 1")
    val (_, model, _, rankMap, sizes) = fitKMeans(feat, nClusters, seed)
    ((v: org.apache.spark.ml.linalg.Vector) => rankMap.getOrElse(model.predict(v), 0), sizes)
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
    val parts = ColumnBridge.foldPartitions(
        wide.select(col("cluster").cast("int"), col("llks"))) { rows =>
      val bufs = scala.collection.mutable.HashMap.empty[Int, TallyBuffer]
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1))
          bufs.getOrElseUpdate(r.getInt(0), new TallyBuffer(slots)).update(r.getInt(0), r.getArray(1))
      }
      bufs.toArray
    }
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
