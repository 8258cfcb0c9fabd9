package graft.functions

import graft.TestSpark
import graft.core.{Llk, Pfsa}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

/** The long-form llk entry points (`Llk.scoreWide`, `Llk.scoreAllLong`) are
  * the giant-sequence scale path: they must match the array kernel bit for
  * bit whatever the input's partitioning, and keep `collect_list` out of
  * the plan — the whole point (SURVEY §4.2 item 1). The [[LlkLongScore]]
  * aggregate (`graft_llk_score_long`) must match it bit-exactly on the
  * presorted plan and to fp tolerance when sequences arrive split across
  * partitions out of order (matrix-run merging). */
class LlkLongScoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val lib = Seq(Pfsa.m2, Pfsa.m2u)

  private def longForm(seqs: Seq[(Long, Array[Byte])]): DataFrame =
    seqs.flatMap { case (sid, syms) =>
      syms.zipWithIndex.map { case (sym, t) => (sid, t.toLong, sym) }
    }.toDF("seq_id", "t", "symbol")

  private def kernel(seqs: Seq[(Long, Array[Byte])]): Map[(Long, Int), Double] =
    (for ((sid, syms) <- seqs; (m, ci) <- lib.zipWithIndex)
      yield (sid, ci) -> Llk.llk(syms, m)).toMap

  private def collectScores(df: DataFrame): Map[(Long, Int), Double] =
    df.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap

  /** The [[LlkLongScore]] aggregate per seq_id over `df` as it arrives, as
    * long (seq_id, cluster_id, llk) rows. */
  private def aggregated(df: DataFrame): DataFrame = {
    val agg = ColumnBridge.column(LlkLongScore(ColumnBridge.expression(col("t")),
      ColumnBridge.expression(col("symbol")), lib.toArray).toAggregateExpression())
    df.groupBy(col("seq_id")).agg(agg.as("llks"))
      .select(col("seq_id"), posexplode(col("llks")).as(Seq("cluster_id", "llk")))
  }

  test("presorted plan is bit-exact with the array kernel, no collect_list") {
    val seqs = Seq(
      0L -> Pfsa.m2.sample(500, seed = 1L),
      1L -> Pfsa.m2u.sample(500, seed = 2L),
      2L -> Array[Byte](0, 1, 1, 0),
      3L -> Array[Byte](7, 0, 1)) // 7 is out of alphabet → +∞ everywhere
    val want = kernel(seqs)
    val scored = Llk.scoreAllLong(spark, longForm(seqs), lib)
    val got = collectScores(scored)
    assert(got.keySet == want.keySet)
    for ((k, v) <- want) assert(got(k) == v, s"$k: ${got(k)} != $v (bit-exact expected)")
    assert(!scored.queryExecution.executedPlan.toString.contains("collect_list"))
    // the aggregate over the presorted plan (DISTRIBUTE BY seq_id SORT BY t)
    val presorted = aggregated(longForm(seqs).repartition(col("seq_id"))
      .sortWithinPartitions(col("seq_id"), col("t")))
    val agg = collectScores(presorted)
    assert(agg.keySet == want.keySet)
    for ((k, v) <- want) assert(agg(k) == v, s"aggregate $k: ${agg(k)} != $v (bit-exact expected)")
    val plan = presorted.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"), s"array materialization crept back in:\n$plan")
    assert(plan.contains("llk_score_long"), plan)
  }

  test("unsorted cross-partition arrival (matrix-run merge) agrees to 1e-9") {
    val seqs = Seq(
      0L -> Pfsa.m2.sample(2000, seed = 3L),
      1L -> Pfsa.m2u.sample(2000, seed = 4L))
    // scatter rows across partitions by t-block: each sequence reaches the
    // aggregate as several runs that only meet at merge/eval as matrices
    val scattered = longForm(seqs)
      .repartition(8, expr("cast(t / 100 as int)"))
      .sortWithinPartitions("seq_id", "t")
    val want = kernel(seqs)
    val got = collectScores(aggregated(scattered))
    assert(got.keySet == want.keySet)
    for ((k, v) <- want)
      assert(math.abs(got(k) - v) <= 1e-9, s"$k: ${got(k)} vs $v")
    // the entry point exchanges the rows into whole sequences: exact
    val exact = collectScores(Llk.scoreAllLong(spark, scattered, lib))
    assert(exact == want)
  }

  test("a sequence far beyond the reference 500k-symbol cap folds in O(|Q|) state") {
    // reference caps streams at 500k symbols (examples/M2.cfg:15-17); the
    // long path must keep going — one 1.2M-symbol sequence, generated
    // distributed (NOT an array cell anywhere)
    val d = 1200000L
    val longDf = spark.range(d)
      .select(lit(0L).as("seq_id"), col("id").as("t"),
        // deterministic symbol stream with both symbols present
        (col("id") % 7 % 2).cast("byte").as("symbol"))
    val got = collectScores(Llk.scoreAllLong(spark, longDf, lib))
    assert(got.size == lib.size)
    // sanity: finite, positive entropy-rate-ish values for the in-alphabet stream
    for ((_, v) <- got) assert(!v.isInfinite && v > 0.0, got.toString)
  }

  test("negative t is rejected loudly (head-run composition contract)") {
    // the aggregate's result() composes the t = 0 head run first BECAUSE
    // nothing can sort below it; a negative t would violate that silently
    // — update() must throw instead of mis-scoring
    val bad = Seq((0L, -1L, 1.toByte), (0L, 0L, 0.toByte)).toDF("seq_id", "t", "symbol")
    val ex = intercept[Throwable] {
      aggregated(bad).collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("t >= 0")), msgs.mkString(" | "))
  }

  test("scoreAllLong folds negative and sparse t in t order") {
    val syms = Pfsa.m2.sample(300, seed = 5L)
    val rows = syms.indices.map(i => (0L, Option(7L * i - 1000L), Option(syms(i)))) ++
      Seq((0L, None, Some(1.toByte)), (0L, Some(5L), None)) // skipped: a null t, a null symbol
    val df = rows.toDF("seq_id", "t", "symbol").repartition(3, expr("cast(t / 64 as int)"))
    assert(collectScores(Llk.scoreAllLong(spark, df, lib)) == kernel(Seq(0L -> syms)))
  }

  test("merge handles empty-side buffers and singleton groups") {
    val seqs = Seq(5L -> Array[Byte](1), 6L -> Array.empty[Byte])
    // empty sequence contributes no rows → no group (same as the array path
    // after groupBy); singleton must score like the kernel
    val got = collectScores(Llk.scoreAllLong(spark, longForm(seqs), lib))
    val want = kernel(Seq(5L -> Array[Byte](1)))
    assert(got == want)
  }

  test("scoreAllLong is the posexplode of scoreWide") {
    val seqs = Seq(
      0L -> Pfsa.m2.sample(800, seed = 11L),
      1L -> Pfsa.m2u.sample(800, seed = 12L),
      2L -> Array[Byte](7, 0, 1))
    for (prepartitioned <- Seq(true, false)) {
      val longDf =
        if (prepartitioned) longForm(seqs).repartition(3, col("seq_id")).sortWithinPartitions("seq_id", "t")
        else longForm(seqs)
      val wide = Llk.scoreWide(spark, longDf, lib).collect()
        .flatMap(r => r.getSeq[Double](1).zipWithIndex.map { case (v, j) => (r.getLong(0), j) -> v })
      val long = Llk.scoreAllLong(spark, longDf, lib).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2))
      assert(wide.length == seqs.size * lib.size, s"prepartitioned=$prepartitioned: ${wide.toSeq}")
      def bitsOf(xs: Array[((Long, Int), Double)]) =
        xs.map { case (k, v) => k -> java.lang.Double.doubleToRawLongBits(v) }.sortBy(_._1).toSeq
      assert(bitsOf(wide) == bitsOf(long), s"prepartitioned=$prepartitioned")
    }
  }
}
