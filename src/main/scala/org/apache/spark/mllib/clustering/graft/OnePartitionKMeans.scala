package org.apache.spark.mllib.clustering.graft

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.mllib.clustering.{DistanceMeasure, LocalKMeans, VectorWithNorm}
import org.apache.spark.mllib.linalg.{Vector, Vectors}
import org.apache.spark.util.Utils
import org.apache.spark.util.random.{BernoulliSampler, SamplingUtils, XORShiftRandom}

/** `mllib.clustering.KMeans.runWithWeight` (k-means|| init, no initial
  * model) over the rows of ONE partition, run on the driver.
  *
  * MLlib runs such an input as one Spark job per k-means|| round and per
  * Lloyd step, each a single task over the same rows. Here the rows are an
  * array and each task's work runs in place, with MLlib's own kernels
  * (`DistanceMeasure`, `LocalKMeans`, `XORShiftRandom`, `BernoulliSampler`,
  * `Utils.randomizeInPlace`), which `private[clustering]` and
  * `private[spark]` keep out of reach of code outside these packages — the
  * reason this lives here, like `org.apache.spark.sql.graft.ColumnBridge`.
  * The random draws, the arithmetic and its order are those of the
  * one-partition job, so the centers, cost and iteration count are MLlib's
  * bit for bit. */
object OnePartitionKMeans {

  /** The fitted centers, the training cost and the Lloyd iterations run. */
  final case class Result(centers: Array[Vector], cost: Double, iterations: Int)

  /** `runWithWeight` of `points` (weight 1.0 each, in partition order), or
    * None when MLlib would compute its center statistics with a Spark job
    * (k·k·d ≥ 10⁶). `points` must be non-empty, of one size, and finite. */
  def run(points: Array[Vector], k: Int, initSteps: Int, seed: Long, maxIter: Int,
          epsilon: Double, distanceMeasure: String): Option[Result] =
    if (!DistanceMeasure.shouldComputeStatisticsLocally(k, points.head.size)) None
    else {
      val dm = DistanceMeasure.decodeFromString(distanceMeasure)
      val data = points.map(v => new VectorWithNorm(v, Vectors.norm(v, 2.0), 1.0))
      val centers = initKMeansParallel(data, k, initSteps, seed, dm)
      val (cost, iterations) = lloyd(data, centers, maxIter, epsilon, dm)
      Some(Result(centers.map(_.vector), cost, iterations))
    }

  /** `initKMeansParallel` over one partition: `takeSample` of the first
    * center, `initSteps` rounds that keep each point with probability
    * 2·k·cost / Σcost under `XORShiftRandom(seed ^ (step << 16) ^ 0)`, then
    * the distinct candidates, reduced to k by `LocalKMeans.kMeansPlusPlus`
    * weighted by the points closest to each. */
  private def initKMeansParallel(data: Array[VectorWithNorm], k: Int, initSteps: Int,
                                 seed: Long, dm: DistanceMeasure): Array[VectorWithNorm] = {
    var costs = Array.fill(data.length)(Double.PositiveInfinity)
    val sampleSeed = new XORShiftRandom(seed).nextInt()
    val centers = ArrayBuffer[VectorWithNorm]()
    var newCenters = Array(takeSample(data, 1, sampleSeed.toLong).head.toDense)
    centers ++= newCenters
    var step = 0
    while (step < initSteps) {
      val cs = newCenters
      costs = Array.tabulate(data.length)(i => math.min(dm.pointCost(cs, data(i)), costs(i)))
      // DoubleRDDFunctions.sum: fold(0.0) in the task, merged into 0.0
      val sumCosts = 0.0 + costs.foldLeft(0.0)(_ + _)
      val rand = new XORShiftRandom(sampleSeed ^ (step << 16) ^ 0)
      newCenters = data.indices.iterator
        .filter(i => rand.nextDouble() < 2.0 * costs(i) * k / sumCosts)
        .map(i => data(i).toDense).toArray
      centers ++= newCenters
      step += 1
    }
    val distinct = centers.map(_.vector).distinct.map(new VectorWithNorm(_)).toArray
    if (distinct.length <= k) distinct
    else {
      val counts = new Array[Long](distinct.length)
      data.foreach(p => counts(dm.findClosest(distinct, p)._1) += 1)
      LocalKMeans.kMeansPlusPlus(0, distinct, counts.map(_.toDouble), k, 30)
    }
  }

  /** The Lloyd loop of `runAlgorithmWithWeight` over one partition,
    * updating `centers` in place: (training cost, iterations). */
  private def lloyd(data: Array[VectorWithNorm], centers: Array[VectorWithNorm], maxIter: Int,
                    epsilon: Double, dm: DistanceMeasure): (Double, Int) = {
    val d = centers.head.vector.size
    val withStats = DistanceMeasure.shouldComputeStatistics(centers.length)
    var converged = false
    var cost = 0.0
    var iteration = 0
    while (iteration < maxIter && !converged) {
      val stats = if (withStats) Some(dm.computeStatistics(centers)) else None
      val sums = Array.fill(centers.length)(Vectors.zeros(d))
      val weights = new Array[Double](centers.length)
      var costSum = 0.0 // the task's DoubleAccumulator
      data.foreach { point =>
        val (best, c) = dm.findClosest(centers, stats, point)
        costSum += c * point.weight
        dm.updateClusterSum(point, sums(best))
        weights(best) += point.weight
      }
      converged = true
      centers.indices.filter(weights(_) > 0).foreach { j =>
        val newCenter = dm.centroid(sums(j), weights(j))
        if (converged && !dm.isCenterConverged(centers(j), newCenter, epsilon)) converged = false
        centers(j) = newCenter
      }
      cost = 0.0 + costSum // merged into the driver's accumulator
      iteration += 1
    }
    (cost, iteration)
  }

  /** `RDD.takeSample(withReplacement = false, num, seed)` of a one-partition
    * RDD holding `data`: a Bernoulli sample under the partition seed
    * `PartitionwiseSampledRDD` derives, drawn again while it is short, then
    * shuffled by `Utils.randomizeInPlace`. */
  def takeSample[T: ClassTag](data: Array[T], num: Int, seed: Long): Array[T] =
    if (num == 0 || data.isEmpty) new Array[T](0)
    else {
      val rand = new java.util.Random(seed)
      if (num >= data.length) Utils.randomizeInPlace(data.clone(), rand)
      else {
        val fraction = SamplingUtils.computeFractionForSampleSize(num, data.length, false)
        def sample(): Array[T] = {
          val sampler = new BernoulliSampler[T](fraction)
          sampler.setSeed(new java.util.Random(rand.nextInt().toLong).nextLong())
          sampler.sample(data.iterator).toArray
        }
        var samples = sample()
        while (samples.length < num) samples = sample()
        Utils.randomizeInPlace(samples, rand).take(num)
      }
    }
}
