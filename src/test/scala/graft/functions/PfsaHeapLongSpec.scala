package graft.functions

import graft.core.Pfsa
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.types.{DataType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** The heap buffer's run algebra without Spark: arrival order, splits across
  * partial buffers and serialization must not change a single count, and a
  * sequence that arrives t-sorted (or t-reversed) must fold into one run. */
class PfsaHeapLongSpec extends AnyFunSuite {
  private val L = 5
  private val keyOf = UnsafeProjection.create(Array[DataType](LongType))
  private def key(seq: Long) = keyOf(InternalRow(seq))

  private def heap(buf: PfsaHeapLong.Buffer): Map[(List[Byte], Int), Long] = {
    val rows = buf.result(1L, Int.MaxValue)
    (0 until rows.numElements).map { i =>
      val r = rows.getStruct(i, 3)
      (r.getArray(0).toByteArray.toList, r.getInt(1)) -> r.getLong(2)
    }.toMap
  }

  /** The definition: every position, every context length 1..L. */
  private def direct(seqs: Seq[Array[Byte]]): Map[(List[Byte], Int), Long] =
    seqs.flatMap { s =>
      for (j <- 1 until s.length; l <- 1 to math.min(L, j))
        yield (s.slice(j - l, j).toList, s(j).toInt)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  test("a t-sorted or t-reversed sequence folds into one run") {
    val syms = Pfsa.m2.sample(10000, 3)
    val sorted = new PfsaHeapLong.Buffer(L)
    syms.indices.foreach(t => sorted.add(key(7L), t.toLong, syms(t)))
    val reversed = new PfsaHeapLong.Buffer(L)
    syms.indices.reverse.foreach(t => reversed.add(key(7L), t.toLong, syms(t)))
    // one run plus the ≤ 62-context table — not one entry per symbol
    assert(sorted.toBytes.length < 4096 && reversed.toBytes.length < 4096)
    val want = direct(Seq(syms))
    assert(heap(sorted) == want)
    assert(heap(reversed) == want)
  }

  test("any split, arrival order and merge order gives the same counts") {
    for (seed <- 1 to 20) {
      val rnd = new scala.util.Random(seed)
      // three sequences with arbitrary bytes, some shorter than L, t sparse
      // for sequence 2 and offset for sequence 1
      val seqs = Seq(
        Pfsa.m2.sample(300 + rnd.nextInt(50), seed.toLong),
        Array.fill(rnd.nextInt(L + 2) + 1)((rnd.nextInt(256) - 128).toByte),
        Pfsa.m2u.sample(200, seed + 100L).map(b => if (rnd.nextInt(20) == 0) (-1).toByte else b))
      def tOf(sid: Int, i: Int): Long = sid match { case 0 => i; case 1 => 50L + i; case _ => 3L * i }
      val rows = rnd.shuffle(seqs.zipWithIndex.flatMap { case (s, sid) =>
        s.indices.map(i => (sid, tOf(sid, i), s(i))) })
      val parts = Array.fill(1 + rnd.nextInt(6))(new PfsaHeapLong.Buffer(L))
      rows.foreach { case (sid, t, s) => parts(rnd.nextInt(parts.length)).add(key(sid.toLong), t, s) }
      val merged = rnd.shuffle(parts.toSeq)
        .map(b => PfsaHeapLong.Buffer.fromBytes(b.toBytes, L))
        .reduce { (a, b) => a.absorb(b); a }
      assert(heap(merged) == direct(seqs), s"seed $seed")
    }
  }

  test("a repeated (seq_id, t) fails loudly") {
    val b = new PfsaHeapLong.Buffer(L)
    b.add(key(1L), 4L, 0)
    b.add(key(1L), 5L, 1)
    intercept[IllegalArgumentException](b.add(key(1L), 4L, 1))
  }
}
