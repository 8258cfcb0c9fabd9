package org.apache.spark.ml.clustering.graft

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.mllib.clustering.{DistanceMeasure, KMeansModel => MLlibKMeansModel}
import org.apache.spark.mllib.clustering.graft.OnePartitionKMeans
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.rdd.{CoalescedRDD, CoalescedRDDPartition, RDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.ColumnBridge

/** `ml.clustering.KMeans.fit` executed on the driver, for an input that
  * MLlib reads as ONE partition: the rows run through
  * [[OnePartitionKMeans]] (MLlib's algorithm and kernels, its draws and its
  * arithmetic order) and come back as the `KMeansModel` `fit` builds, whose
  * constructor is `private[ml]` — the reason this lives here. The centers,
  * the iteration count and every `predict` label are MLlib's bit for bit
  * (`KMeansLocalSpec` holds that against `KMeans.fit`). */
object KMeansLocal {

  /** A driver fit: the model `KMeans.fit` returns (without its training
    * summary), the summary's cluster sizes (members per label under the
    * final centers, length k) and the Lloyd iterations run. */
  final case class Fit(model: KMeansModel, clusterSizes: Array[Long], numIter: Int)

  /** `kmeans.fit` of a one-partition frame whose features column holds
    * `rows` in the order the partition iterates them — the path `fit`
    * takes for vector rows without weights: the AUTO solver's row choice
    * (`trainWithRow` → `mllib.clustering.KMeans.runWithWeight`). None where
    * `fit` takes another path, and the caller runs MLlib itself:
    *   - an init mode other than k-means||, a cosine distance, or a weight
    *     column;
    *   - the block solver: asked for, or chosen by AUTO. AUTO compares the
    *     sum of the INDICES of the summarizer's dense `numNonZeros` vector,
    *     d(d-1)/2 for d features, against N·d/2 (`preferBlockSolver`), so it
    *     picks the block solver exactly when N < d;
    *   - an empty input, a null or non-finite value, or vectors of
    *     different sizes (MLlib raises its own error for each);
    *   - k·k·d ≥ 10⁶, where MLlib computes its center statistics with a
    *     Spark job. */
  def fit(kmeans: KMeans, rows: Array[Vector]): Option[Fit] = {
    val n = rows.length
    val d = if (n == 0 || rows(0) == null) 0 else rows(0).size
    val k = kmeans.getK
    val rowSolver = kmeans.getSolver == KMeans.ROW || kmeans.getSolver == KMeans.AUTO && n >= d
    val usable = n > 0 && d > 0 && rowSolver &&
      kmeans.getInitMode == KMeans.K_MEANS_PARALLEL &&
      kmeans.getDistanceMeasure == DistanceMeasure.EUCLIDEAN &&
      !kmeans.isSet(kmeans.weightCol) &&
      rows.forall(v => v != null && v.size == d && v.toArray.forall(x => !x.isNaN && !x.isInfinite))
    if (!usable) None
    else OnePartitionKMeans.run(rows.map(OldVectors.fromML), k, kmeans.getInitSteps,
        kmeans.getSeed, kmeans.getMaxIter, kmeans.getTol, kmeans.getDistanceMeasure).map { r =>
      val parent = new MLlibKMeansModel(r.centers, kmeans.getDistanceMeasure, r.cost, r.iterations)
      // as KMeans.fit builds it: the estimator's uid, its explicitly set
      // params, its parent
      val explicit = ParamMap(kmeans.extractParamMap().toSeq.filter(p => kmeans.isSet(p.param)): _*)
      val model = new KMeansModel(kmeans.uid, parent).copy(explicit).setParent(kmeans)
      val sizes = new Array[Long](k)
      rows.foreach(v => sizes(model.predict(v)) += 1)
      Fit(model, sizes, r.iterations)
    }
  }

  /** The partitions of `df`, in the order `df.coalesce(1)` reads them: the
    * group Spark's partition coalescer forms from their current preferred
    * locations (the cached blocks of a persisted frame). Computing the
    * partitions runs no job. */
  def coalescedOrder(df: DataFrame): Option[Seq[Int]] = {
    def find(rdd: RDD[_]): Option[CoalescedRDD[_]] = rdd match {
      case c: CoalescedRDD[_] => Some(c)
      case r => r.dependencies.headOption.flatMap(dep => find(dep.rdd))
    }
    find(ColumnBridge.internalRows(df.coalesce(1))).flatMap(order)
  }

  /** [[coalescedOrder]] of the partitions of `rdd`. */
  def coalescedOrder[T](rdd: RDD[T]): Option[Seq[Int]] = order(rdd.coalesce(1))

  private def order(coalesced: RDD[_]): Option[Seq[Int]] =
    Some(coalesced.partitions.toSeq)
      .collect { case Seq(p: CoalescedRDDPartition) => p.parentsIndices.toSeq }
}
