package graft.pipeline

import graft.TestSpark
import graft.core.{Pfsa, Segment}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, when}
import org.scalatest.funsuite.AnyFunSuite

/** A small fit reads its input in one job and runs every later pass on the
  * driver; a larger one caches its blocks and runs each pass as a job. The
  * two placements run the same folds, so they fit and predict the same
  * bits: here every corpus is fitted with the bound moved to 0 (cached
  * blocks, the path a large input takes) and to the largest long (driver-held blocks), and the model
  * dumps (raw bits of cutoffs, means and stds, and the machines) and the
  * sorted prediction rows of `fitPredict`, `fit` and `predict` must be
  * byte-identical. */
class LocalFitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def bits(x: Double) = java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(x))

  private def model(m: AnomalyDetection.Model): String = {
    val sb = new StringBuilder
    sb ++= s"alphabet ${m.alphabetSize} library ${m.library.size}\n"
    sb ++= s"cutoffs ${m.complexModel.map(_.cutoffs.map(bits).mkString(",")).getOrElse("-")}\n"
    sb ++= s"means ${m.llkMeans.map(bits).mkString(",")}\nstds ${m.llkStds.map(bits).mkString(",")}\n"
    m.library.zipWithIndex.foreach { case (p, i) =>
      sb ++= s"pfsa $i conn ${p.conn.map(_.mkString(",")).mkString(";")}\n"
      sb ++= s"pfsa $i pitilde ${p.pitilde.map(_.map(bits).mkString(",")).mkString(";")}\n"
      sb ++= s"pfsa $i symFrq ${p.symFrq.map(bits).mkString(",")} annErr ${bits(p.annErr)} " +
        s"mrgEps ${bits(p.mrgEps)} synStr ${p.synStr.map(_.mkString(",")).getOrElse("-")}\n"
    }
    sb.result()
  }

  private def rows(pred: DataFrame): String =
    pred.collect().map(r => s"${r.get(0)} ${r.getBoolean(1)} ${r.getInt(2)} ${bits(r.getDouble(3))}")
      .sorted.mkString("\n")

  /** The dump of fitPredict, fit and predict under the bound `bound`,
    * with the Spark jobs of the fitPredict and the read of its rows. */
  private def dump(s: SparkSession, df: DataFrame, params: AnomalyDetection.Params,
                   clusterer: Option[org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]]],
                   bound: Long): (String, Int) =
    AnomalyDetection.driverFitBytes.withValue(bound) {
      val ((fused, fusedRows), jobs) = TestSpark.jobsOf(s.sparkContext) {
        val (m, pred) = AnomalyDetection.fitPredict(s, df, params, clusterer)
        (m, rows(pred))
      }
      val fitted = AnomalyDetection.fit(s, df, params, clusterer)
      (s"== fitPredict\n${model(fused)}$fusedRows\n== fit\n${model(fitted)}" +
        s"== predict\n${rows(AnomalyDetection.predict(s, fitted, df))}\n", jobs)
    }

  /** Both placements give the same dump; the driver one runs fewer jobs. */
  private def samePlacements(df: DataFrame, params: AnomalyDetection.Params,
                             clusterer: Option[org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]]] = None,
                             s: SparkSession = spark): Unit = {
    val input = df.persist()
    try {
      input.count()
      val (cached, cachedJobs) = dump(s, input, params, clusterer, 0L)
      val (local, localJobs) = dump(s, input, params, clusterer, Long.MaxValue)
      assert(local == cached, "the driver placement fitted or predicted other bits")
      assert(localJobs < cachedJobs, s"driver placement ran $localJobs jobs, cached $cachedJobs")
      info(s"fitPredict jobs: cached blocks $cachedJobs, driver-held blocks $localJobs")
    } finally input.unpersist()
  }

  private def longForm(s: SparkSession, rows: Seq[(Long, Array[Byte])]): DataFrame = {
    import s.implicits._
    rows.flatMap { case (id, syms) =>
      syms.zipWithIndex.map { case (x, t) => (id, t.toLong, x.toDouble) }
    }.toDF("seq_id", "t", "value")
  }

  private def twoRegimes(perRegime: Int, len: Int, seed: Long, uOffset: Long = 100L) = longForm(spark,
    (0 until perRegime).map(i => i.toLong -> Pfsa.m2.sample(len, seed = seed + i)) ++
      (0 until perRegime).map(i => (perRegime + i).toLong -> Pfsa.m2u.sample(len, seed = seed + uOffset + i)))

  /** Random walks driven by M2, M2_u or a 3-symbol machine, cut into
    * windows of 1000 every 500 positions, as the benchmark's fit input. */
  private def segmented(seed: Long, streams: Int): DataFrame = {
    val tri = Pfsa(Array(Array(0, 1, 2), Array(0, 1, 2), Array(0, 1, 2)),
      Array(Array(0.6, 0.3, 0.1), Array(0.1, 0.6, 0.3), Array(0.3, 0.1, 0.6)),
      Array(1.0 / 3, 1.0 / 3, 1.0 / 3))
    val rnd = new scala.util.Random(seed)
    val walk = (0 until streams).flatMap { s =>
      val m = if (s % 4 == 3) tri else if (s % 2 == 0) Pfsa.m2 else Pfsa.m2u
      var x = 0.0
      m.sample(3000, seed * 1000 + s).zipWithIndex.map { case (sym, t) =>
        x += (sym - 1).toDouble + rnd.nextGaussian() * 0.3
        (s.toLong, t.toLong, x)
      }
    }
    Segment.windows(walk.toDF("seq_id", "t", "value"), 1000, 500)
      .select((col("seq_id") * 1000000L + col("win_id")).as("seq_id"), col("pos").as("t"), col("value"))
  }

  private val complex = AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 3,
    reduceClusters = true, quantizeType = "complex", nSymbols = 3, eps = 0.2)
  private val plain = AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 2,
    reduceClusters = true, quantize = false, eps = 0.05)

  test("complex quantizer, benchmark-shaped windows") {
    samePlacements(segmented(5101L, 16), complex)
  }

  test("simple and simple-second quantizers") {
    samePlacements(segmented(5201L, 12), complex.copy(quantizeType = "simple"))
    samePlacements(segmented(5202L, 12), complex.copy(quantizeType = "simple-second"))
  }

  test("quantize = false") {
    samePlacements(twoRegimes(6, 4000, 1700L), plain)
  }

  test("a corpus the fixpoint merges (k 5 -> 4)") {
    samePlacements(twoRegimes(10, 1000, 3000L, uOffset = 500L), plain.copy(nClusters = 5))
  }

  test("a pluggable clusterer") {
    samePlacements(twoRegimes(6, 3000, 1900L), plain, Some(new SplitAtSix))
  }

  test("string sequence ids") {
    val strings = segmented(5301L, 8).withColumn("seq_id", concat(lit("w"), col("seq_id").cast("string")))
    samePlacements(strings, complex)
    samePlacements(twoRegimes(6, 3000, 1900L)
      .withColumn("seq_id", concat(lit("s"), col("seq_id").cast("string"))), plain)
  }

  test("NaN and null values") {
    val gaps = segmented(5401L, 8)
      .withColumn("value", when(col("t") % 97 === 5, lit(Double.NaN))
        .when(col("t") % 89 === 7, lit(null)).otherwise(col("value")))
    samePlacements(gaps, complex)
    samePlacements(twoRegimes(6, 3000, 1900L)
      .withColumn("value", when(col("t") % 53 === 3, lit(null)).otherwise(col("value"))), plain)
  }

  test("600 short sequences, at 4 partitions with adaptive execution and at 1 without") {
    val seqs = (0 until 600).map { i =>
      i.toLong -> (if (i % 3 == 0) Pfsa.m2u else Pfsa.m2).sample(30 + i % 23, seed = 8800L + i)
    }
    val params = plain.copy(nClusters = 3)
    samePlacements(longForm(spark, seqs), params)
    val one = spark.newSession()
    one.conf.set("spark.sql.shuffle.partitions", "1")
    one.conf.set("spark.sql.adaptive.enabled", "false")
    samePlacements(longForm(one, seqs), params, s = one)
  }

  test("a partition past its share of the bound falls back after one read, same bits") {
    // one input partition holds most rows: with the bound at the bytes of
    // all rows (36 a row of x, seq_id and t) its share (a quarter) is
    // crossed partway through the read, which then runs to its end (it
    // finds the largest symbol) but keeps no more rows
    def fallsBack(df: DataFrame, params: AnomalyDetection.Params): Unit = {
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val (big, rest) = rows.splitAt(rows.length * 3 / 4)
      val parts = Seq(big.toSeq) ++ rest.grouped(rest.length / 3 + 1).map(_.toSeq)
      val uneven = spark.sparkContext.parallelize(parts, parts.length).flatMap(identity)
        .toDF("seq_id", "t", "value").persist()
      try {
        uneven.count()
        val (cached, cachedJobs) = dump(spark, uneven, params, None, 0L)
        val (fellBack, fellBackJobs) = dump(spark, uneven, params, None, rows.length * 36L)
        val (local, _) = dump(spark, uneven, params, None, Long.MaxValue)
        assert(fellBack == cached && local == cached, "a placement fitted or predicted other bits")
        assert(fellBackJobs == cachedJobs,
          s"the fallback ran $fellBackJobs jobs, the cached placement $cachedJobs: a second read?")
      } finally uneven.unpersist()
    }
    fallsBack(segmented(5501L, 8), complex)
    fallsBack(twoRegimes(6, 3000, 1900L), plain)
  }
}
