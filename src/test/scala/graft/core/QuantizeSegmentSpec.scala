package graft.core

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class QuantizeSegmentSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def longDf(vals: Seq[Double], seqId: Long = 0L) =
    vals.zipWithIndex.map { case (v, t) => (seqId, t.toLong, v) }.toDF("seq_id", "t", "value")

  test("quantize_simple: sign of first difference, first symbol 0") {
    val out = Quantize.simple(longDf(Seq(1.0, 3.0, 2.0, 2.0, 5.0)))
      .orderBy("t").select("symbol").as[Byte].collect()
    assert(out.toSeq == Seq[Byte](0, 1, 0, 0, 1))
  }

  test("quantize_simple_second: double diff then sign") {
    // d1 = 0,2,-1,0,3 ; d2 = 0,2,-3,1,3 → 0,1,0,1,1
    val out = Quantize.simpleSecond(longDf(Seq(1.0, 3.0, 2.0, 2.0, 5.0)))
      .orderBy("t").select("symbol").as[Byte].collect()
    assert(out.toSeq == Seq[Byte](0, 1, 0, 1, 1))
  }

  test("complex quantizer: ~equal-mass bins, fitted partition reused") {
    val vals = (1 to 10000).map(_.toDouble)
    val df = longDf(scala.util.Random.shuffle(vals))
    val m = Quantize.fitComplex(df, nBins = 4, relErr = 1e-3)
    assert(m.alphabetSize == 4)
    val counts = Quantize.applyComplex(df, m)
      .groupBy("symbol").count().collect()
      .map(r => r.getByte(0) -> r.getLong(1)).toMap
    assert(counts.size == 4)
    counts.values.foreach(c => assert(math.abs(c - 2500L) < 300, counts.toString))
    // fitted cutoffs applied to NEW data use the OLD partition
    val newDf = longDf(Seq(0.5, 2600.0, 5100.0, 9999.0))
    val syms = Quantize.applyComplex(newDf, m).orderBy("t").select("symbol").as[Byte].collect()
    assert(syms.toSeq == Seq[Byte](0, 1, 2, 3))
  }

  test("complex quantizer detrend: buckets by per-step difference, not level") {
    // monotone ramp whose STEPS alternate +1 / +10: level-based bucketing
    // would split low half vs high half; detrend must split small steps vs
    // big steps regardless of level
    val steps = (1 to 1000).map(i => if (i % 2 == 1) 1.0 else 10.0)
    val vals = steps.scanLeft(0.0)(_ + _)
    val df = longDf(vals)
    val m = Quantize.fitComplex(df, nBins = 2, detrend = true, relErr = 1e-3)
    assert(m.cutoffs.length == 1 && m.cutoffs.head >= 1.0 && m.cutoffs.head < 10.0,
      s"cutoff should separate the step sizes: ${m.cutoffs.toSeq}")
    val out = Quantize.applyComplex(df, m, "value").orderBy("t")
      .select("symbol").as[Byte].collect()
    assert(out(0) == 0) // leading diff coalesces to 0
    (1 until out.length).foreach { i =>
      val expect: Byte = if (steps(i - 1) > m.cutoffs.head) 1 else 0
      assert(out(i) == expect, s"pos $i step ${steps(i - 1)} got ${out(i)}")
    }
  }

  test("window_segment: stride windows, ragged tail dropped (detection.py:595-613)") {
    // 13 points, size 5, overlap 2 → stride 3 → windows at 0,3,6 (9..13 no: 6+5=11<=13 ok, 9+5=14>13 dropped)
    val df = longDf((0 until 13).map(_.toDouble))
    val rows = Segment.windows(df, size = 5, overlap = 2)
      .select("win_id", "pos", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byWin = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byWin.keySet == Set(0L, 1L, 2L))
    assert(byWin(0L) == (0 until 5).map(_.toDouble))
    assert(byWin(1L) == (3 until 8).map(_.toDouble))
    assert(byWin(2L) == (6 until 11).map(_.toDouble))
  }

  test("windowArrays produces ordered symbol arrays per window") {
    val df = Quantize.passthrough(longDf(Seq(0, 1, 0, 1, 0, 1).map(_.toDouble)))
    val arrs = Segment.windowArrays(df, size = 4, overlap = 2)
      .collect().map(r => r.getLong(1) -> r.getSeq[Byte](2).toSeq).toMap
    assert(arrs(0L) == Seq[Byte](0, 1, 0, 1))
    assert(arrs(1L) == Seq[Byte](0, 1, 0, 1))
  }

  test("complex quantizer: cutoffs are approxQuantile's bit for bit, the max symbol is exact") {
    import org.apache.spark.sql.functions.{col, max}
    val rnd = new scala.util.Random(77L)
    def corpus(n: Int, special: Seq[java.lang.Double]) =
      ((0 until n).map(i => (i % 7L, i.toLong, java.lang.Double.valueOf(rnd.nextGaussian() * 3))) ++
        special.zipWithIndex.map { case (v, i) => (1L, n.toLong + i, v) })
        .toDF("seq_id", "t", "value").repartition(5)
    val cases = Seq(
      "plain" -> corpus(20000, Nil),
      "nulls" -> corpus(5000, Seq(null, null)),
      "NaN" -> corpus(5000, Seq(Double.NaN)),
      "ties at the top" -> corpus(50, Seq.fill(200)(java.lang.Double.valueOf(9.0))),
      "all NaN" -> corpus(0, Seq(Double.NaN, Double.NaN)),
      "all null" -> corpus(0, Seq(null)))
    for ((name, df) <- cases; bins <- Seq(2, 3, 8); detrend <- Seq(false, true)) {
      val (m, maxSym) = Quantize.fitComplexWithMaxSymbol(df, nBins = bins, detrend = detrend)
      val base = if (!detrend) df.withColumn("__v", col("value")) else df.withColumn("__v",
        org.apache.spark.sql.functions.coalesce(col("value") - org.apache.spark.sql.functions.lag(
          col("value"), 1).over(org.apache.spark.sql.expressions.Window.partitionBy(col("seq_id"))
          .orderBy(col("t"))), org.apache.spark.sql.functions.lit(0.0)))
      val ref = base.stat.approxQuantile("__v", (1 until bins).map(_.toDouble / bins).toArray, 1e-4)
        .distinct.sorted
      assert(m.cutoffs.toSeq.map(java.lang.Double.doubleToRawLongBits) ==
        ref.toSeq.map(java.lang.Double.doubleToRawLongBits), s"$name/$bins/$detrend cutoffs")
      val exact = Quantize.applyComplex(df, m).agg(max(col("symbol"))).head()
      assert(maxSym == (if (exact.isNullAt(0)) None else Some(exact.getByte(0).toInt)),
        s"$name/$bins/$detrend max symbol")
    }
    assert(Quantize.fitComplexWithMaxSymbol(corpus(0, Nil))._2.isEmpty, "no rows")
  }

  test("complex quantizer: the cutoffs ride in references, not in the generated code") {
    import org.apache.spark.sql.functions.col
    // a range, not a local relation: the optimizer would evaluate a
    // projection of local rows itself and generate no code
    val df = spark.range(4).select(col("id").as("seq_id"), col("id").as("t"),
      (col("id") + 0.5).as("value"))
    val m = Quantize.ComplexModel(Array(1.2345678912345, 2.7182818284591), detrend = false)
    val out = Quantize.applyComplex(df, m)
    assert(out.orderBy("t").select("symbol").as[Byte].collect().toSeq == Seq[Byte](0, 1, 1, 2))
    out.collect() // the adaptive plan is final once it ran
    val code = out.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
    assert(code.nonEmpty && !code.contains("1.2345678912345") && !code.contains("2.7182818284591"),
      "a cutoff is inlined in the generated code")
  }

  test("both detectors reject an unknown quantize_type with the dispatch's message") {
    import graft.pipeline.{AnomalyDetection, ContinuousDetection}
    val df = longDf((1 to 20).map(_.toDouble))
    val batch = intercept[IllegalArgumentException](AnomalyDetection.fit(spark, df,
      AnomalyDetection.Params(quantizeType = "bogus")))
    val online = intercept[IllegalArgumentException](ContinuousDetection.fitStream(spark, df,
      ContinuousDetection.Params(windowSize = 10, quantizeType = "bogus")))
    Seq(batch, online).foreach(e => assert(e.getMessage == "unknown quantize_type: bogus"))
  }
}
