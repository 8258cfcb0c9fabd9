package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DataType

/** A run of a partition's sequences in compact form: segment i holds the
  * symbols `symbols(start(i) until ends(i))` of sequence `ids(i)` (its
  * `seq_id` as Spark's internal value), in t order. Consecutive blocks of a
  * partition may split a sequence: the first segment of a block then
  * continues the last segment of the block before it. `features`, when
  * present, holds each segment's clustering features
  * ([[Cluster.sequenceFeatures]]); such blocks never split a sequence. */
final class SeqBlock(val ids: Array[Any], val ends: Array[Int], val symbols: Array[Byte],
                     val features: Array[Array[Double]]) extends Serializable {
  def start(i: Int): Int = if (i == 0) 0 else ends(i - 1)
}

/** The fit's one copy of its data: the quantized long rows, exchanged once
  * by seq_id and sorted by (seq_id, t), cut into [[SeqBlock]]s. Every pass
  * of the fit and of predict is a plain fold over the blocks that feeds
  * the aggregates' own buffers one sequence at a time, in partition order
  * and then in seq_id order within a partition: Alg. 1 and Alg. 2 of the
  * paper (tex/ms.tex:261-338) read one sequence in order, and so do the
  * folds, whatever the partition holds. */
object SeqBlocks {

  /** Symbols per block: a block closes at the first sequence boundary (or,
    * without features, the first symbol) past this many. */
  private[core] val BlockSymbols: Int = 1 << 16

  /** The callbacks of [[foreachSequence]]: `begin` opens a sequence (with
    * its features when the blocks carry them), `symbols` hands over its
    * symbols in t order, a segment at a time, and `end` closes it. */
  trait Visitor {
    def begin(id: Any, features: Array[Double]): Unit
    def symbols(s: Array[Byte], from: Int, until: Int): Unit
    def end(): Unit
  }

  /** Visit a partition's sequences in order. */
  def foreachSequence(blocks: Iterator[SeqBlock], v: Visitor): Unit = {
    var open = false
    var last: Any = null
    blocks.foreach { b =>
      var i = 0
      while (i < b.ids.length) {
        val id = b.ids(i)
        if (!(open && i == 0 && java.util.Objects.equals(id, last))) {
          if (open) v.end()
          v.begin(id, if (b.features == null) null else b.features(i))
          open = true
          last = id
        }
        v.symbols(b.symbols, b.start(i), b.ends(i))
        i += 1
      }
    }
    if (open) v.end()
  }

  /** The rows of `quantized` (`seq_id`, `t`, `symbol`) exchanged by seq_id
    * into the session's shuffle partitions and sorted by (seq_id, t)
    * within them, as `(seq_id, symbol)` internal rows, with the type of
    * seq_id. The partition count is explicit, so adaptive execution keeps
    * it (it would otherwise coalesce a small input to one partition and
    * one task per pass). Under adaptive execution this runs the exchange. */
  def sortedRows(quantized: DataFrame): (RDD[InternalRow], DataType) = {
    import org.apache.spark.sql.graft.ColumnBridge
    val sorted = quantized.select(col("seq_id"), col("t"), col("symbol"))
      .repartition(quantized.sparkSession.sessionState.conf.numShufflePartitions, col("seq_id"))
      .sortWithinPartitions(col("seq_id"), col("t"))
      .select(col("seq_id"), col("symbol"))
    (ColumnBridge.internalRows(sorted), sorted.schema.head.dataType)
  }

  /** [[sortedRows]] cut into blocks. With `bases`, each sequence also
    * carries its clustering features against them and stays whole in one
    * block. Rows with a null symbol are skipped. */
  def cut(rows: RDD[InternalRow], seqType: DataType, bases: Option[Seq[Pfsa]]): RDD[SeqBlock] = {
    val lib = bases.map(_.toArray).orNull
    rows.mapPartitions { it =>
      val in = it.buffered
      new Iterator[SeqBlock] {
        def hasNext: Boolean = in.hasNext
        def next(): SeqBlock = {
          val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
          val ends = scala.collection.mutable.ArrayBuilder.make[Int]
          val feats = if (lib == null) null else scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
          var syms = new Array[Byte](1024)
          var n = 0
          var seq: Sequence = null
          def close(): Unit = {
            ends += n
            if (feats != null) feats += Cluster.sequenceFeatures(seq)
          }
          var full = false
          while (!full && in.hasNext) {
            val r = in.head
            val id = if (r.isNullAt(0)) null else r.get(0, seqType)
            if (ids.isEmpty || !java.util.Objects.equals(id, ids.last)) {
              if (ids.nonEmpty) { close(); full = n >= BlockSymbols }
              if (!full) {
                ids += InternalRow.copyValue(id)
                if (lib != null) seq = new Sequence(lib)
              }
            }
            if (!full) {
              in.next()
              if (!r.isNullAt(1)) {
                if (n == syms.length) syms = java.util.Arrays.copyOf(syms, n * 2)
                val s = r.getByte(1)
                syms(n) = s
                n += 1
                if (seq != null) seq.add(s)
                if (lib == null && n >= BlockSymbols) full = true
              }
              if (!in.hasNext || (lib == null && full)) close()
            }
          }
          new SeqBlock(ids.toArray, ends.result(), java.util.Arrays.copyOf(syms, n),
            if (feats == null) null else feats.toArray)
        }
      }
    }
  }

  /** The largest symbol of the blocks, None when they hold none. */
  def maxSymbol(blocks: RDD[SeqBlock]): Option[Int] =
    blocks.map { b =>
      var m = Int.MinValue
      b.symbols.foreach(s => if (s > m) m = s)
      m
    }.collect().filter(_ > Int.MinValue).maxOption

  /** One sequence's llks under `lib`, fed a symbol at a time through
    * [[graft.functions.LlkLongScore]]'s buffer: from t = 0 in order, the
    * buffer folds Llk.llk's arithmetic operation for operation, so the
    * result is `Llk.llk` of the symbols bit for bit. */
  private[core] final class Sequence(lib: Array[Pfsa]) {
    private val buf = new graft.functions.LlkLongScore.Buffer
    private var t = 0L
    def add(s: Byte): Unit = { buf.add(t, s, lib); t += 1 }
    def addAll(s: Array[Byte], from: Int, until: Int): Unit = {
      var i = from
      while (i < until) { add(s(i)); i += 1 }
    }
    def llks: Array[Double] = buf.result(lib)
  }
}
