package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** GenESeSS derivative heap (reference Alg. 2, tex/ms.tex:299-338) over
  * LONG-FORM `(seq_id, t, symbol)` rows, grouped per cluster: for every
  * position of every sequence it counts (context y, next symbol) for each
  * context of length 1..L ending just before the position — the counts of
  * [[graft.core.GenESeSS.ngramCounts]] on the equivalent arrays, in one
  * aggregate instead of lag windows + explode + groupBy.
  *
  * Same run algebra as [[PfsaVisitLong]]: a contiguous t-run of one sequence
  * counts every context lying wholly inside it into the group's count table
  * as rows arrive, and keeps only its first and last L symbols (head, tail).
  * Runs of one sequence that become t-adjacent at update/merge are joined,
  * counting the contexts that span the boundary from the left run's tail and
  * the right run's head; at eval all runs of a sequence are joined in t
  * order, so a sparse-t sequence (whose gaps may live in another partition)
  * counts positionally, exactly like a `lag` window ordered by t. Counts are
  * integers, so the result is identical for any split, arrival order or
  * partial merge. Dense consecutive t per sequence is the efficient
  * encoding: a sorted partition folds each sequence into one run.
  *
  * The count table is a context trie (children keyed by (node, symbol)),
  * bounded by the number of distinct contexts — with in-alphabet symbols and
  * L = ⌈log_|Σ|(1/ε)⌉ that is Σ_{l≤L} |Σ|^l < |Σ|²/(ε(|Σ|−1)), independent of
  * the data size. Symbols are arbitrary bytes (negative or ≥ |Σ| ones are
  * counted like any other). Per sequence a buffer also holds its open runs.
  *
  * `eval` applies the heap prune: contexts seen fewer than `minCtxCount`
  * times are dropped, then the `maxContexts` largest are kept, ordered by
  * total count descending (over every next symbol) and then by context in
  * Spark's `array<tinyint>` order. Output: `array<struct<ctx, nxt, cnt>>`,
  * sorted by (ctx, nxt). `seq_id` may be of any type (it is keyed by its
  * unsafe-row bytes); rows with a null `t` or `symbol` are skipped, and a
  * repeated `(seq_id, t)` fails the aggregate.
  */
case class PfsaHeapLong(
    seqExpr: Expression,
    tExpr: Expression,
    symbolExpr: Expression,
    maxCtxLen: Int,
    minCtxCount: Long,
    maxContexts: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PfsaHeapLong.Buffer] {

  import PfsaHeapLong._

  override def children: Seq[Expression] = Seq(seqExpr, tExpr, symbolExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = OutType
  override def prettyName: String = "pfsa_heap_long"

  override def checkInputDataTypes(): TypeCheckResult =
    (seqExpr.dataType, tExpr.dataType, symbolExpr.dataType) match {
      case (_: MapType, _, _) => TypeCheckResult.TypeCheckFailure(
        "pfsa_heap_long cannot key sequences by a map-typed seq_id")
      case (_, LongType, ByteType) if maxCtxLen >= 1 => TypeCheckResult.TypeCheckSuccess
      case (_, t, s) => TypeCheckResult.TypeCheckFailure(
        s"pfsa_heap_long expects (seq_id, bigint t, tinyint symbol) and maxCtxLen >= 1, " +
          s"got (${t.simpleString}, ${s.simpleString}), maxCtxLen = $maxCtxLen")
    }

  // seq_id → one-field unsafe row: byte equality is value equality for any
  // groupable type (structs included), and the bytes serialize as they are
  @transient private lazy val seqKey = UnsafeProjection.create(Seq(seqExpr))

  override def createAggregationBuffer(): Buffer = new Buffer(maxCtxLen)

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val tAny = tExpr.eval(input)
    val sAny = symbolExpr.eval(input)
    if (tAny == null || sAny == null) return buf
    buf.add(seqKey(input), tAny.asInstanceOf[Long], sAny.asInstanceOf[Byte])
    buf
  }

  override def merge(buf: Buffer, other: Buffer): Buffer = { buf.absorb(other); buf }

  override def eval(buf: Buffer): Any = buf.result(minCtxCount, maxContexts)

  override def serialize(buf: Buffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): Buffer = Buffer.fromBytes(bytes, maxCtxLen)

  override def withNewMutableAggBufferOffset(newOffset: Int): PfsaHeapLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): PfsaHeapLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): PfsaHeapLong =
    copy(seqExpr = newChildren(0), tExpr = newChildren(1), symbolExpr = newChildren(2))
}

object PfsaHeapLong {

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("ctx", ArrayType(ByteType, containsNull = false), nullable = false),
    StructField("nxt", IntegerType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)

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

  /** One contiguous t-run `[tFirst, tLast]` of `n` symbols: its first and
    * last min(n, L) symbols, oldest first. */
  private final class Run(val tFirst: Long, var tLast: Long, L: Int) {
    var n: Long = 0L
    val head = new Array[Byte](L)
    var tail = new Array[Byte](L)
  }

  private type Runs = java.util.TreeMap[java.lang.Long, Run] // by tFirst

  final class Buffer(L: Int) {
    // context trie: node 0 is the empty context; node c at depth l is the
    // context s_{j-l} … s_{j-1}, its parent drops the oldest symbol s_{j-l}
    // (= sym(c)), so contexts are walked newest symbol first
    private var parent = new Array[Int](16)
    private var sym = new Array[Byte](16)
    private var nodes = 1
    private val edges = new LongLongMap   // (node, symbol) → child node
    private val counts = new LongLongMap  // (node, next symbol) → count
    private val seqs = new java.util.HashMap[UnsafeRow, Runs]
    // the run the previous row extended: sorted input hits it on every row
    private var lastKey: UnsafeRow = null
    private var lastRuns: Runs = null
    private var lastRun: Run = null

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

    /** Extends `r` by `s`, counting the contexts of `s` inside `r`. */
    private def append(r: Run, s: Byte): Unit = {
      val m = math.min(r.n, L.toLong).toInt
      var node = 0
      var l = 1
      while (l <= m) { node = child(node, r.tail(m - l)); counts.add(key(node, s), 1L); l += 1 }
      if (m < L) { r.head(m) = s; r.tail(m) = s }
      else { System.arraycopy(r.tail, 1, r.tail, 0, L - 1); r.tail(L - 1) = s }
      r.n += 1
    }

    /** Joins `b` onto the end of `a` (the next symbols of its sequence),
      * counting every context that starts in `a` and predicts a symbol of
      * `b`: for b's i-th symbol, lengths i+1 .. min(L, i + a.n). */
    private def join(a: Run, b: Run): Unit = {
      val at = math.min(a.n, L.toLong).toInt
      val bh = math.min(b.n, L.toLong).toInt
      var i = 0
      while (i < bh) {
        val lmax = math.min(L.toLong, i + a.n).toInt
        var node = 0
        var j = 1
        while (j <= i) { node = child(node, b.head(i - j)); j += 1 }
        var l = i + 1
        while (l <= lmax) {
          node = child(node, a.tail(at - (l - i)))
          counts.add(key(node, b.head(i)), 1L)
          l += 1
        }
        i += 1
      }
      if (a.n < L) System.arraycopy(b.head, 0, a.head, at, math.min(L - at, bh))
      if (b.n >= L) a.tail = b.tail
      else {
        val keep = math.min(L, at + bh)
        val fromA = keep - bh
        val t = new Array[Byte](L)
        System.arraycopy(a.tail, at - fromA, t, 0, fromA)
        System.arraycopy(b.tail, 0, t, fromA, bh)
        a.tail = t
      }
      a.n += b.n
      a.tLast = b.tLast
    }

    private def duplicate(r: Run): Nothing = throw new IllegalArgumentException(
      s"pfsa_heap_long requires unique (seq_id, t); t = ${r.tFirst}..${r.tLast} overlaps another row")

    /** Puts `r` into `runs` and joins it with a t-adjacent neighbour on
      * either side; returns the run that now holds it. */
    private def insert(runs: Runs, r: Run): Run = {
      val before = runs.floorEntry(r.tFirst)
      val after = runs.ceilingEntry(r.tFirst)
      if ((before != null && before.getValue.tLast >= r.tFirst) ||
          (after != null && after.getKey <= r.tLast)) duplicate(r)
      val at =
        if (before != null && before.getValue.tLast + 1 == r.tFirst) {
          join(before.getValue, r); before.getValue
        } else { runs.put(r.tFirst, r); r }
      if (after != null && at.tLast + 1 == after.getKey) {
        join(at, after.getValue); runs.remove(after.getKey)
      }
      at
    }

    def add(seq: UnsafeRow, t: Long, s: Byte): Unit = {
      val same = lastKey != null && lastKey.equals(seq)
      if (same && t == lastRun.tLast + 1) {
        append(lastRun, s)
        lastRun.tLast = t
        if (lastRuns.size > 1) {
          val next = lastRuns.get(t + 1)
          if (next != null) { join(lastRun, next); lastRuns.remove(t + 1) }
        }
        return
      }
      if (!same) {
        lastKey = seq.copy()
        lastRuns = seqs.get(lastKey)
        if (lastRuns == null) { lastRuns = new Runs; seqs.put(lastKey, lastRuns) }
      }
      val r = new Run(t, t, L)
      append(r, s)
      lastRun = insert(lastRuns, r)
    }

    def absorb(other: Buffer): Unit = {
      // the other trie's node ids → this trie's (parents precede children)
      val map = new Array[Int](other.nodes)
      var c = 1
      while (c < other.nodes) { map(c) = child(map(other.parent(c)), other.sym(c)); c += 1 }
      other.counts.foreach { (k, v) =>
        counts.add((map((k >>> 8).toInt).toLong << 8) | (k & 0xFF), v)
      }
      val it = other.seqs.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        val mine = seqs.get(e.getKey)
        if (mine == null) seqs.put(e.getKey, e.getValue)
        else {
          val rs = e.getValue.values.iterator
          while (rs.hasNext) insert(mine, rs.next())
        }
      }
      lastKey = null; lastRuns = null; lastRun = null
    }

    private def ctxOf(node: Int): Array[Byte] = {
      val out = scala.collection.mutable.ArrayBuilder.make[Byte]
      var c = node
      while (c != 0) { out += sym(c); c = parent(c) }
      out.result()
    }

    /** Joins every sequence's runs in t order, then prunes and emits the
      * heap as (ctx, nxt, cnt) rows sorted by (ctx, nxt). */
    def result(minCtxCount: Long, maxContexts: Int): ArrayData = {
      val it = seqs.values.iterator
      while (it.hasNext) {
        val rs = it.next().values.iterator
        val first = rs.next()
        while (rs.hasNext) join(first, rs.next())
      }
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
      val ctxData = kept.map(c => new GenericArrayData(ctx(c)): ArrayData)
      new GenericArrayData(sorted.map[Any] { p =>
        val c = kept((p >>> 8).toInt)
        val nxt = ((p & 0xFF) - 128).toByte
        InternalRow(ctxData((p >>> 8).toInt), nxt.toInt, counts.get(key(c, nxt)))
      })
    }

    def toBytes: Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(nodes)
      var c = 1
      while (c < nodes) { out.writeInt(parent(c)); out.writeByte(sym(c)); c += 1 }
      out.writeInt(counts.size)
      counts.foreach { (k, v) => out.writeLong(k); out.writeLong(v) }
      out.writeInt(seqs.size)
      val it = seqs.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        val kb = e.getKey.getBytes
        out.writeInt(kb.length); out.write(kb)
        out.writeInt(e.getValue.size)
        val rs = e.getValue.values.iterator
        while (rs.hasNext) {
          val r = rs.next()
          val m = math.min(r.n, L.toLong).toInt
          out.writeLong(r.tFirst); out.writeLong(r.tLast); out.writeLong(r.n)
          out.write(r.head, 0, m); out.write(r.tail, 0, m)
        }
      }
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
      var s = in.readInt()
      while (s > 0) {
        val kb = new Array[Byte](in.readInt())
        in.readFully(kb)
        val k = new UnsafeRow(1)
        k.pointTo(kb, kb.length)
        val runs = new Runs
        var r = in.readInt()
        while (r > 0) {
          val run = new Run(in.readLong(), in.readLong(), L)
          run.n = in.readLong()
          val m = math.min(run.n, L.toLong).toInt
          in.readFully(run.head, 0, m); in.readFully(run.tail, 0, m)
          runs.put(run.tFirst, run)
          r -= 1
        }
        buf.seqs.put(k, runs)
        s -= 1
      }
      buf
    }
  }
}
