package graft.functions

import graft.TestSpark
import graft.core.{GenESeSS, Pfsa}
import org.scalatest.funsuite.AnyFunSuite

/** The heap buffer the sequence folds feed: whichever buffers the
  * sequences land in, in whatever order, and however the buffers are
  * serialized and added up, not a single count may change. */
class PfsaHeapLongSpec extends AnyFunSuite {
  private val L = 5

  private def heap(buf: PfsaHeapLong.Buffer): Map[(List[Byte], Int), Long] =
    buf.result(1L, Int.MaxValue).map { case (ctx, nxt, cnt) => (ctx.toList, nxt) -> cnt }.toMap

  /** The definition: every position, every context length 1..L. */
  private def direct(seqs: Seq[Array[Byte]]): Map[(List[Byte], Int), Long] =
    seqs.flatMap { s =>
      for (j <- 1 until s.length; l <- 1 to math.min(L, j))
        yield (s.slice(j - l, j).toList, s(j).toInt)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  test("any split, arrival order and merge order gives the same counts") {
    for (seed <- 1 to 20) {
      val rnd = new scala.util.Random(seed)
      // sequences with arbitrary bytes, some shorter than L, split across
      // partition buffers in a random arrival order; the buffers are
      // serialized and added up in a random order
      val seqs = Seq(
        Pfsa.m2.sample(300 + rnd.nextInt(50), seed.toLong),
        Array.fill(rnd.nextInt(L + 2) + 1)((rnd.nextInt(256) - 128).toByte),
        Array.empty[Byte],
        Pfsa.m2u.sample(200, seed + 100L).map(b => if (rnd.nextInt(20) == 0) (-1).toByte else b))
      val parts = Array.fill(1 + rnd.nextInt(3))(new PfsaHeapLong.Buffer(L))
      rnd.shuffle(seqs).foreach { s =>
        val b = parts(rnd.nextInt(parts.length))
        b.beginSequence()
        s.foreach(b.feed)
      }
      val merged = rnd.shuffle(parts.toSeq)
        .map(b => PfsaHeapLong.Buffer.fromBytes(b.toBytes, L))
        .reduce { (a, b) => a.absorb(b); a }
      assert(heap(merged) == direct(seqs), s"seed $seed")
    }
  }

  test("a repeated (seq_id, t) fails loudly") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = Seq((1L, 4L, 0.toByte, 0), (1L, 5L, 1.toByte, 0), (1L, 4L, 1.toByte, 0))
      .toDF("seq_id", "t", "symbol", "cluster")
    val ex = intercept[Throwable](GenESeSS.ngramCountsLong(rows, L).collect())
    val cause = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .collectFirst { case e: IllegalArgumentException => e }
    assert(cause.exists(_.getMessage.contains("repeated (seq_id, t)")), ex.toString)
  }
}
