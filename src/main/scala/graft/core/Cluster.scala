package graft.core

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
    * order. */
  def featuresLong(spark: SparkSession, longDf: DataFrame, alphabetSize: Int,
                   presort: Boolean = true): DataFrame = {
    val toVec = udf { llks: Seq[Double] =>
      Vectors.dense(llks.map(v => if (v.isInfinite || v.isNaN) 1e6 else v).toArray)
    }
    Llk.scoreWide(spark, longDf, basePfsas(alphabetSize), presort = presort)
      .select(col("seq_id"), toVec(col("llks")).as("features"))
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
    * descending member count over the k-row aggregate collected to the
    * driver (k = nClusters, tiny), joined back as a broadcast when-chain —
    * no window over the full data. Labels the clusterer fitted but
    * assigned NO rows (KMeans can return an empty cluster) get the
    * remaining ranks after the observed ones, in label order — every raw
    * label 0..k-1 maps to a distinct rank, so center lookups keyed by
    * rank can never collide or miss. Returns (relabel column,
    * raw-label → rank map, member counts by rank). */
  private def frequencyRelabel(labeled: DataFrame, nClusters: Int)
      : (org.apache.spark.sql.Column, Map[Int, Int], Seq[Long]) = {
    val counts = labeled.groupBy(col("raw_label")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val observed = counts
      .sortBy { case (lbl, cnt) => (-cnt, lbl) }
      .zipWithIndex.map { case ((lbl, _), rank) => lbl -> rank }
    val unobserved = (0 until nClusters)
      .filterNot(l => observed.exists(_._1 == l)).sorted
      .zipWithIndex.map { case (lbl, i) => lbl -> (observed.length + i) }
    val rankMap = (observed ++ unobserved).toMap
    val relabelCol = rankMap.foldLeft(lit(0): org.apache.spark.sql.Column) {
      case (acc, (lbl, rank)) => when(col("raw_label") === lbl, rank).otherwise(acc)
    }
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
    val labeled =
      if (nClusters <= 1 && clusterer.isEmpty) feat.withColumn("raw_label", lit(0))
      else {
        // eager checkpoint BEFORE the fit: the feature sweep behind `feat`
        // is otherwise re-evaluated by the sizing count, every estimator
        // pass, transform, AND the relabel collect (uncached verdict-grid
        // callers paid it 3-4x); the frame is one row per sequence, so the
        // materialization is KB-to-MB scale at any corpus size. Skipped
        // when the caller already persisted it (the fit path does) — a
        // second materialization of a cached frame is pure overhead (r16)
        val f =
          if (feat.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
            feat.localCheckpoint(true)
          else feat
        val est = clusterer.getOrElse(
          new KMeans().setK(nClusters).setSeed(seed)
            .setFeaturesCol("features").setPredictionCol("raw_label"))
        est.fit(sizedForFit(f)).transform(f)
      }
    val (relabelCol, _, sizes) = frequencyRelabel(labeled, nClusters)
    // carry whatever payload columns rode along (symbols on the array path,
    // nothing extra on the long path) — only the ML bookkeeping is dropped
    val keep = feat.columns.filterNot(c => c == "features" || c == "raw_label")
    (labeled.select(keep.map(col).toIndexedSeq :+ relabelCol.cast("int").as("cluster"): _*),
      sizes)
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
    // eager checkpoint before the fit — see assignFeaturesWithStats
    val f =
      if (feat.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        feat.localCheckpoint(true)
      else feat
    val est = new KMeans().setK(nClusters).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("raw_label")
    val model = est.fit(sizedForFit(f))
    val labeled = model.transform(f)
    val (relabelCol, rankMap, sizes) = frequencyRelabel(labeled, nClusters)
    val centers = model.clusterCenters.zipWithIndex.map { case (c, lbl) =>
      rankMap(lbl) -> c.toArray }.toMap
    (labeled.select(col("seq_id"), col("features"),
      relabelCol.cast("int").as("cluster")), centers, sizes)
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

  /** [[LlkTally]] in one aggregate over [[Llk.scoreWide]] rows of a k-model
    * library joined with `(seq_id, cluster)` membership: k rows reach the
    * driver, never the N×k matrix. */
  def llkTally(wide: DataFrame, members: DataFrame, k: Int): LlkTally = {
    val best = Llk.argmin(col("llks"))
    val own = element_at(col("llks"), col("cluster") + 1)
    val rows = wide.join(members, "seq_id")
      .groupBy(col("cluster"))
      .agg(avg(own).as("m"),
        stddev_samp(own).as("s") +: (0 until k).map(j => count_if(best === j)): _*)
      .collect()
    LlkTally(
      rows.map(r => r.getInt(0) -> Array.tabulate(k)(j => r.getLong(3 + j))).toMap,
      rows.map(r => r.getInt(0) -> (r.getDouble(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2))).toMap)
  }

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
