package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** GenESeSS derivative heap (reference Alg. 2, tex/ms.tex:299-338) of one
  * cluster: fed each of its sequences in t order, it counts, for every
  * position, (context y, next symbol) for each context of length 1..L
  * ending just before the position — the counts of
  * [[graft.core.GenESeSS.ngramCounts]] on the equivalent arrays. The
  * sequence folds ([[graft.core.GenESeSS]] over [[graft.core.SeqBlocks]])
  * hold one buffer per cluster and partition, and the driver adds the
  * partitions' buffers up ([[Buffer.absorb]]): counts are integers, so the
  * sum is exact for any split of the sequences.
  *
  * The count table is a context trie (children keyed by (node, symbol)),
  * bounded by the number of distinct contexts — with in-alphabet symbols and
  * L = ⌈log_|Σ|(1/ε)⌉ that is Σ_{l≤L} |Σ|^l < |Σ|²/(ε(|Σ|−1)), independent of
  * the data size. Symbols are arbitrary bytes (negative or ≥ |Σ| ones are
  * counted like any other).
  *
  * [[Buffer.result]] applies the heap prune: contexts seen fewer than
  * `minCtxCount` times are dropped, then the `maxContexts` largest are
  * kept, ordered by total count descending (over every next symbol) and
  * then by context in Spark's `array<tinyint>` order. It returns (ctx, nxt,
  * cnt) rows sorted by (ctx, nxt).
  */
object PfsaHeapLong {

  /** Open-addressing long → long map over non-negative keys (-1 = empty). */
  private final class LongLongMap {
    private var keys = Array.fill(16)(-1L)
    private var vals = new Array[Long](16)
    private var used = 0

    private def slot(ks: Array[Long], key: Long): Int = {
      val mask = ks.length - 1
      val h = key * 0x9E3779B97F4A7C15L
      var i = (h ^ (h >>> 32)).toInt & mask
      while (ks(i) != -1L && ks(i) != key) i = (i + 1) & mask
      i
    }

    def size: Int = used

    def get(key: Long): Long = {
      val i = slot(keys, key)
      if (keys(i) == -1L) -1L else vals(i)
    }

    /** Adds `delta` to the value at `key` (inserting it at 0 first). */
    def add(key: Long, delta: Long): Unit = {
      val i = slot(keys, key)
      if (keys(i) == key) vals(i) += delta
      else {
        keys(i) = key; vals(i) = delta; used += 1
        if (used * 2 > keys.length) grow()
      }
    }

    private def grow(): Unit = {
      val (oldK, oldV) = (keys, vals)
      keys = Array.fill(oldK.length * 2)(-1L)
      vals = new Array[Long](oldK.length * 2)
      var j = 0
      while (j < oldK.length) {
        if (oldK(j) != -1L) { val i = slot(keys, oldK(j)); keys(i) = oldK(j); vals(i) = oldV(j) }
        j += 1
      }
    }

    def foreach(f: (Long, Long) => Unit): Unit = {
      var j = 0
      while (j < keys.length) { if (keys(j) != -1L) f(keys(j), vals(j)); j += 1 }
    }
  }

  final class Buffer(L: Int) {
    // context trie: node 0 is the empty context; node c at depth l is the
    // context s_{j-l} … s_{j-1}, its parent drops the oldest symbol s_{j-l}
    // (= sym(c)), so contexts are walked newest symbol first
    private var parent = new Array[Int](16)
    private var sym = new Array[Byte](16)
    private var nodes = 1
    private val edges = new LongLongMap   // (node, symbol) → child node
    private val counts = new LongLongMap  // (node, next symbol) → count
    // the open sequence: its last min(n, L) symbols, oldest first
    private val tail = new Array[Byte](L)
    private var n = 0L

    private def key(node: Int, s: Byte): Long = (node.toLong << 8) | (s & 0xFF)

    private def child(node: Int, s: Byte): Int = {
      val k = key(node, s)
      val c = edges.get(k)
      if (c >= 0L) c.toInt
      else {
        if (nodes == parent.length) {
          parent = java.util.Arrays.copyOf(parent, nodes * 2)
          sym = java.util.Arrays.copyOf(sym, nodes * 2)
        }
        parent(nodes) = node; sym(nodes) = s
        edges.add(k, nodes.toLong)
        nodes += 1
        nodes - 1
      }
    }

    /** Opens a sequence for [[feed]]. */
    def beginSequence(): Unit = n = 0L

    /** The next symbol of the sequence [[beginSequence]] opened: counts
      * `s` after each context of the sequence that ends just before it. */
    def feed(s: Byte): Unit = {
      val m = math.min(n, L.toLong).toInt
      var node = 0
      var l = 1
      while (l <= m) { node = child(node, tail(m - l)); counts.add(key(node, s), 1L); l += 1 }
      if (m < L) tail(m) = s
      else { System.arraycopy(tail, 1, tail, 0, L - 1); tail(L - 1) = s }
      n += 1
    }

    /** Adds `other`'s counts to this buffer's. */
    def absorb(other: Buffer): Unit = {
      // the other trie's node ids → this trie's (parents precede children)
      val map = new Array[Int](other.nodes)
      var c = 1
      while (c < other.nodes) { map(c) = child(map(other.parent(c)), other.sym(c)); c += 1 }
      other.counts.foreach { (k, v) =>
        counts.add((map((k >>> 8).toInt).toLong << 8) | (k & 0xFF), v)
      }
    }

    private def ctxOf(node: Int): Array[Byte] = {
      val out = scala.collection.mutable.ArrayBuilder.make[Byte]
      var c = node
      while (c != 0) { out += sym(c); c = parent(c) }
      out.result()
    }

    /** The pruned heap as (ctx, nxt, cnt) rows sorted by (ctx, nxt). */
    def result(minCtxCount: Long, maxContexts: Int): Array[(Array[Byte], Int, Long)] = {
      val tot = new Array[Long](nodes)
      counts.foreach((k, v) => tot((k >>> 8).toInt) += v)
      val ctx = new Array[Array[Byte]](nodes)
      val cand = (1 until nodes).filter(c => tot(c) >= 1L && tot(c) >= minCtxCount).toArray
      cand.foreach(c => ctx(c) = ctxOf(c))
      val byCtx: Ordering[Int] = (x, y) => compareCtx(ctx(x), ctx(y))
      val kept =
        if (cand.length <= maxContexts) cand.sorted(byCtx)
        else cand.sorted(Ordering.by[Int, Long](c => -tot(c)).orElse(byCtx))
          .take(maxContexts).sorted(byCtx)
      val rank = Array.fill(nodes)(-1)
      kept.indices.foreach(i => rank(kept(i)) = i)
      // (rank, nxt + 128) packs into one sortable long per output row
      val rows = Array.newBuilder[Long]
      counts.foreach { (k, _) =>
        val rk = rank((k >>> 8).toInt)
        if (rk >= 0) rows += (rk.toLong << 8) | ((k & 0xFF).toByte + 128)
      }
      val sorted = rows.result()
      java.util.Arrays.sort(sorted)
      sorted.map { p =>
        val c = kept((p >>> 8).toInt)
        val nxt = ((p & 0xFF) - 128).toByte
        (ctx(c), nxt.toInt, counts.get(key(c, nxt)))
      }
    }

    /** The counts as bytes ([[Buffer.fromBytes]] reads them back). */
    def toBytes: Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(nodes)
      var c = 1
      while (c < nodes) { out.writeInt(parent(c)); out.writeByte(sym(c)); c += 1 }
      out.writeInt(counts.size)
      counts.foreach { (k, v) => out.writeLong(k); out.writeLong(v) }
      out.flush()
      bos.toByteArray
    }
  }

  /** Spark's `array<tinyint>` order: signed bytes, then the shorter first. */
  private def compareCtx(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      if (a(i) != b(i)) return java.lang.Byte.compare(a(i), b(i))
      i += 1
    }
    Integer.compare(a.length, b.length)
  }

  object Buffer {
    def fromBytes(bytes: Array[Byte], L: Int): Buffer = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val buf = new Buffer(L)
      val n = in.readInt()
      var c = 1
      while (c < n) { buf.child(in.readInt(), in.readByte()); c += 1 }
      var i = in.readInt()
      while (i > 0) { buf.counts.add(in.readLong(), in.readLong()); i -= 1 }
      buf
    }
  }
}
