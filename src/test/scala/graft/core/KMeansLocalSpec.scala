package graft.core

import graft.TestSpark
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.clustering.graft.KMeansLocal
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.mllib.clustering.graft.OnePartitionKMeans
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The default clusterer's driver fit ([[Cluster.fitKMeans]] through
  * [[KMeansLocal]]) against MLlib's `KMeans.fit` on the same frame, read
  * as one partition the way `Cluster.sizedForFit` hands it to MLlib: the
  * centers bit for bit, every row's `predict` label, the cluster sizes of
  * the training summary and its `numIter`. Also that inputs the driver fit
  * does not reproduce (block solver, NaN, 200,000 rows or more) still run
  * MLlib. */
class KMeansLocalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def seeded(k: Int, seed: Long): KMeans =
    new KMeans().setK(k).setSeed(seed).setFeaturesCol("features").setPredictionCol("raw_label")

  private val schema = StructType(Seq(
    StructField("seq_id", LongType), StructField("features", SQLDataTypes.VectorType)))

  /** A `(seq_id, features)` frame of `rows` in `parts` partitions. */
  private def frame(rows: Seq[Array[Double]], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (v, i) => Row(i.toLong, Vectors.dense(v)) }, parts), schema)

  /** `n` positive 4-dim points (like llk features) around `centers`
    * random centers. */
  private def blobs(n: Int, centers: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val cs = Array.fill(centers)(Array.fill(4)(0.5 + 2.0 * rnd.nextDouble()))
    Seq.fill(n)(cs(rnd.nextInt(centers)).map(c => c + 0.15 * rnd.nextGaussian()))
  }

  private def bits(m: KMeansModel) =
    m.clusterCenters.map(_.toArray.toSeq.map(java.lang.Double.doubleToRawLongBits)).toSeq

  /** (result, Spark jobs `body` ran). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = "kmeans-local-" + java.util.UUID.randomUUID()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "kmeans local")
      val r = try body finally sc.clearJobGroup()
      org.apache.spark.sql.graft.ColumnBridge.waitListenerBusEmpty(sc, 30000L)
      (r, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  /** The messages of `e` and its causes. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  /** The engine's fit of `feat` against MLlib's on `feat` cut to
    * `fitParts` partitions, or the same error from both (MLlib's block
    * solver, which AUTO picks for fewer rows than features, fails on some
    * inputs); returns the engine fit's Spark jobs, `checkpoint` counting
    * the eager checkpoint of an uncached `feat`. */
  private def assertParity(feat: DataFrame, k: Int, seed: Long, what: String,
                           fitParts: Int = 1, checkpoint: Int = 0): Int = {
    import scala.util.{Failure, Success, Try}
    val (engine, jobs) = jobsOf(Try(Cluster.fitKMeans(feat, k, seed)))
    val f = engine.map(_._1).getOrElse(feat)
    (engine, Try(seeded(k, seed).fit(f.coalesce(fitParts)))) match {
      case (Failure(e), Failure(r)) =>
        val root = (t: Throwable) => messages(t).split(" \\| ").last
        assert(e.getClass == r.getClass && root(e) == root(r),
          s"$what: engine failed with ${messages(e)}, MLlib with ${messages(r)}")
      case (Success((_, model, sizes)), Success(reference)) =>
        assert(bits(model) == bits(reference), s"$what: centers differ")
        val rows = f.coalesce(1).collect().map(_.getAs[Vector]("features"))
        assert(rows.map(model.predict).toSeq == rows.map(reference.predict).toSeq,
          s"$what: labels differ")
        assert(sizes.toSeq == reference.summary.clusterSizes.toSeq,
          s"$what: sizes ${sizes.toSeq} vs ${reference.summary.clusterSizes.toSeq}")
        // MLlib reads one partition: the shim on the same rows in that
        // order reports MLlib's iteration count too, and exists exactly
        // where MLlib takes the row solver (N >= d under AUTO)
        if (fitParts == 1) KMeansLocal.fit(seeded(k, seed), rows) match {
          case Some(local) =>
            assert(rows.length >= rows.head.size, s"$what: driver fit off its domain")
            assert(local.numIter == reference.summary.numIter,
              s"$what: numIter ${local.numIter} vs ${reference.summary.numIter}")
            assert(bits(local.model) == bits(reference), s"$what: shim centers differ")
            assert(jobs == 1 + checkpoint, s"$what: the driver fit ran $jobs Spark jobs")
          case None =>
            assert(rows.length < rows.head.size, s"$what: no driver fit")
            assert(jobs > 1 + checkpoint, s"$what: MLlib's fit ran only $jobs Spark jobs")
        }
      case (e, r) => fail(s"$what: engine $e, MLlib $r")
    }
    jobs
  }

  test("driver fit equals MLlib: k × N × seeds × input partitions") {
    val seeds = Seq(42L, 7L, 20261019L)
    val partitions = Seq(1, 3, 8)
    for (k <- Seq(2, 3, 5, 8); n <- Seq(1, k - 1, k, 240, 5000).distinct;
         ((seed, parts), i) <- seeds.zip(partitions).zipWithIndex) {
      val feat = frame(blobs(n, centers = k + i, seed = seed * 31 + n), parts).cache()
      try assertParity(feat, k, seed, s"k=$k N=$n seed=$seed parts=$parts")
      finally feat.unpersist()
    }
  }

  test("driver fit equals MLlib on an uncached frame (checkpointed for the fit)") {
    assertParity(frame(blobs(240, 3, 5L), 8), 3, 42L, "uncached", checkpoint = 1)
  }

  test("duplicate points: fewer distinct candidates than k skip k-means++") {
    val two = Seq(Array(1.0, 2.0, 3.0, 4.0), Array(2.0, 1.0, 0.5, 3.0))
    val rows = (0 until 240).map(i => two(i % 2))
    for (parts <- Seq(1, 3)) {
      val feat = frame(rows, parts).cache()
      try {
        assertParity(feat, 5, 42L, s"duplicates parts=$parts")
        assert(Cluster.fitKMeans(feat, 5, 42L)._2.clusterCenters.length == 2)
      } finally feat.unpersist()
    }
  }

  test("driver fit equals MLlib on the llk features of a fit_large-shaped corpus") {
    val rnd = new scala.util.Random(12101L)
    val tri = Pfsa(Array(Array(0, 1, 2), Array(0, 1, 2), Array(0, 1, 2)),
      Array(Array(0.6, 0.3, 0.1), Array(0.1, 0.6, 0.3), Array(0.3, 0.1, 0.6)),
      Array(1.0 / 3, 1.0 / 3, 1.0 / 3))
    val streams = (0 until 48).flatMap { s =>
      val m = if (s % 4 == 3) tri else if (s % 2 == 0) Pfsa.m2 else Pfsa.m2u
      var x = 0.0
      m.sample(3000, 12101L * 1000 + s).zipWithIndex.map { case (sym, t) =>
        x += (sym - 1).toDouble + rnd.nextGaussian() * 0.3
        (s.toLong, t.toLong, x)
      }
    }
    import spark.implicits._
    val windows = Segment.windows(streams.toDF("seq_id", "t", "value"), 1000, 500)
      .select((col("seq_id") * 1000000L + col("win_id")).as("seq_id"), col("pos").as("t"),
        col("value"))
    val (symbols, _, _) = Quantize.byType(windows, quantize = true, "complex", 3)
    val feat = Cluster.featuresLong(spark, symbols, alphabetSize = 3).cache()
    try {
      assert(feat.count() == 240)
      for (k <- Seq(2, 3); seed <- Seq(42L, 9L)) assertParity(feat, k, seed, s"corpus k=$k seed=$seed")
    } finally feat.unpersist()
  }

  test("NaN features raise MLlib's error") {
    val rows = blobs(240, 3, 11L).updated(17, Array(1.0, Double.NaN, 1.0, 1.0))
    val feat = frame(rows, 3).cache()
    try {
      def message(body: => Any): String = messages(intercept[Exception](body))
      val mllib = message(seeded(3, 42L).fit(feat.coalesce(1)))
      val engine = message(Cluster.fitKMeans(feat, 3, 42L))
      assert(mllib.contains("Vector values MUST NOT be NaN or Infinity"), mllib)
      assert(engine.contains("Vector values MUST NOT be NaN or Infinity"), engine)
    } finally feat.unpersist()
  }

  test("200,000 feature rows or more take MLlib's fit; one fewer is fitted on the driver") {
    def big(n: Long) = spark.range(0, n, 1, 4).select(col("id").as("seq_id"),
      org.apache.spark.ml.functions.array_to_vector(array(
        (1 to 4).map(j => rand(j.toLong) + (col("id") % 3).cast("double")): _*)).as("features"))
      .cache()
    val under = big(199999L)
    try assertParity(under, 3, 42L, "199,999 rows")
    finally under.unpersist()
    val over = big(200000L)
    try {
      val jobs = assertParity(over, 3, 42L, "200,000 rows", fitParts = 2)
      assert(jobs > 1)
    } finally over.unpersist()
  }

  test("takeSample equals RDD.takeSample of one partition") {
    val sc = spark.sparkContext
    for (n <- Seq(1, 2, 5, 240, 5000); num <- Seq(1, 3, 50); seed <- Seq(-3L, 0L, 12345L)) {
      val data = (0 until n).toArray
      assert(OnePartitionKMeans.takeSample(data, num, seed).toSeq ==
        sc.parallelize(data.toSeq, 1).takeSample(false, num, seed).toSeq,
        s"n=$n num=$num seed=$seed")
    }
  }
}
