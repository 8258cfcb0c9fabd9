package graft.core

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Giant-sequence stress: the long-form kernels exist so that a sequence far
  * beyond any array-cell ceiling (reference streams cap at 500k symbols,
  * examples/M2.cfg:15-17) still scores and infers in bounded per-group state.
  * These tests push ≥5M symbols through BOTH long kernels in the default
  * test-JVM memory, generated distributed (spark.range — no 5M-element array
  * ever crosses an executor boundary on the Spark side), and pin agreement
  * against an independently computed reference:
  *
  *   - `Llk.scoreAllLong` vs the driver-side array kernel [[Llk.llk]] on
  *     the same deterministic stream — bit-exact, also when the rows
  *     arrive scattered, where the `LlkLongScore` aggregate
  *     (`graft_llk_score_long`) agrees to 1e-9;
  *   - inferAllLong on one 6M-symbol sequence vs the SAME stream chunked
  *     into 60 sequences of 100k — identical skeletons, emissions within
  *     1e-3 (the two differ only in 59 boundary contexts out of ~6M).
  */
class GiantSequenceStressSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val lib = Seq(Pfsa.m2, Pfsa.m2u)

  /** Deterministic in-alphabet stream: s(i) = ((i·2654435761) mod 97) mod 2.
    * The multiplier keeps runs short (both symbols frequent at every lag) and
    * the closed form evaluates identically as a Column and on the driver. */
  private def symAt(i: Long): Byte = (((i * 2654435761L) % 97L) % 2L).toByte

  private def symCol = (((col("id") * lit(2654435761L)) % 97) % 2).cast("byte")

  private def driverLlk(n: Int): Map[Int, Double] = {
    val arr = new Array[Byte](n)
    var i = 0
    while (i < n) { arr(i) = symAt(i.toLong); i += 1 }
    lib.zipWithIndex.map { case (m, ci) => ci -> Llk.llk(arr, m) }.toMap
  }

  /** Single-sequence ids derived NON-FOLDABLY (`id % 1`, not `lit(0)`): a
    * literal key would be constant-folded out of the kernels' window
    * partition specs, firing `WindowExec: No Partition Defined` — a shape no
    * real table (keys read from storage) ever produces, and one the suite
    * keeps as a live audit signal. */
  private def zeroOf(c: org.apache.spark.sql.Column) = c % 1

  private def longDf(n: Long): DataFrame =
    spark.range(n).select(zeroOf(col("id")).as("seq_id"), col("id").as("t"),
      symCol.as("symbol"))

  test("llk_score_long: 5M-symbol sequence scores bit-exactly vs the array kernel") {
    val n = 5000000
    val got = Llk.scoreAllLong(spark, longDf(n.toLong), lib)
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    val want = driverLlk(n)
    assert(got.keySet == want.keySet)
    // the sequence is fed in t order through one buffer — the fold is
    // operation-for-operation the array kernel, so exact equality holds
    for ((ci, v) <- want) assert(got(ci) == v, s"model $ci: ${got(ci)} != $v")
    for ((_, v) <- got) assert(!v.isInfinite && v > 0.0, got.toString)
  }

  test("llk_score_long: the same 5M symbols scattered across 64 partitions agree to 1e-9") {
    val n = 5000000
    // t-block scatter: every partition feeds the aggregate mid-run
    // MATRICES that only compose at merge/eval — the shape a real shuffle
    // produces when a giant sequence spans many input splits
    val scattered = longDf(n.toLong)
      .repartition(64, expr("cast(t / 78125 as int)"))
      .sortWithinPartitions("seq_id", "t")
    import org.apache.spark.sql.graft.ColumnBridge
    val agg = ColumnBridge.column(graft.functions.LlkLongScore(ColumnBridge.expression(col("t")),
      ColumnBridge.expression(col("symbol")), lib.toArray).toAggregateExpression())
    val got = scattered.groupBy(col("seq_id")).agg(agg.as("llks"))
      .select(posexplode(col("llks")).as(Seq("cluster_id", "llk")))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val want = driverLlk(n)
    assert(got.keySet == want.keySet)
    for ((ci, v) <- want)
      assert(math.abs(got(ci) - v) <= 1e-9, s"model $ci: ${got(ci)} vs $v")
    // the entry point exchanges the rows into one whole sequence: exact
    val exact = Llk.scoreAllLong(spark, scattered, lib)
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    assert(exact == want)
  }

  test("inferAllLong: a 6M-symbol sequence infers the same machine as its 100k-chunk split") {
    val n = 6000000L
    val chunk = 100000L
    val p = GenESeSS.Params(eps = 0.05)
    val base = spark.range(n).select(col("id"), symCol.as("symbol"))

    // one giant sequence: the single-seq_id worst case (the whole stream
    // in one partition's blocks — NOT one 6M-element array)
    val full = base.select(zeroOf(col("id")).as("seq_id"), col("id").as("t"),
      col("symbol"), zeroOf(col("id")).cast("int").as("cluster"))
    // same stream as 60 bounded sequences — the independently-computable
    // reference shape: chunking only drops the 59 boundary-straddling
    // contexts and visit transitions, ~59·L of ~6M events
    val chunked = base.select((col("id") / chunk).cast("long").as("seq_id"),
      (col("id") % chunk).as("t"), col("symbol"),
      zeroOf(col("id")).cast("int").as("cluster"))

    val libFull = GenESeSS.inferAllLong(spark, full, alphabetSize = 2, p)
    val libChunk = GenESeSS.inferAllLong(spark, chunked, alphabetSize = 2, p)
    assert(libFull.keySet == Set(0) && libChunk.keySet == Set(0))
    val (mf, mc) = (libFull(0), libChunk(0))
    assert(mf.conn.map(_.toSeq).toSeq == mc.conn.map(_.toSeq).toSeq,
      "skeleton diverged between full and chunked inference")
    val maxDiff = mf.pitilde.toSeq.flatMap(_.toSeq).zip(mc.pitilde.toSeq.flatMap(_.toSeq))
      .map { case (a, b) => math.abs(a - b) }.max
    assert(maxDiff <= 1e-3, s"emissions diverged by $maxDiff")
    // and the machine is usable: it must score the stream it was fit on as
    // finite (in-alphabet everywhere, positive loss)
    val self = Llk.llk((0 until 10000).map(i => symAt(i.toLong)).toArray, mf)
    assert(!self.isInfinite && self > 0.0, self.toString)
  }
}
