package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.ml.clustering.graft.KMeansLocal
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Expression,
  GenericInternalRow, InterpretedOrdering, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.storage.StorageLevel
import scala.reflect.ClassTag

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
  * folds, whatever the partition holds.
  *
  * The blocks live in one of two placements ([[Parts]]): a cached RDD,
  * where every pass is one Spark job, or the driver, where a small fit's
  * input lands after one read ([[replay]] redoes the exchange and the
  * sort there) and every pass runs the same per-partition fold with no
  * job. */
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

  /** The blocks' partitions, wherever they are. [[fold]] runs a function
    * of one partition's blocks once per partition and returns the results
    * in partition order: the same per-partition fold, in either placement. */
  sealed trait Parts {
    def fold[T: ClassTag](f: Iterator[SeqBlock] => T): Array[T]
    def numPartitions: Int
    /** The partitions in the order `coalesce(1)` of the blocks reads them. */
    def coalescedOrder: Option[Seq[Int]]
    /** The blocks as an RDD with these partitions. */
    def rdd(sc: SparkContext): RDD[SeqBlock]
    def persist(): this.type
    def unpersist(): Unit
  }

  object Parts {
    /** The blocks of an RDD: each fold is one job. */
    final case class Cached(blocks: RDD[SeqBlock]) extends Parts {
      def fold[T: ClassTag](f: Iterator[SeqBlock] => T): Array[T] =
        blocks.mapPartitions(it => Iterator.single(f(it))).collect()
      def numPartitions: Int = blocks.getNumPartitions
      def coalescedOrder: Option[Seq[Int]] = KMeansLocal.coalescedOrder(blocks)
      def rdd(sc: SparkContext): RDD[SeqBlock] = blocks
      def persist(): this.type = { blocks.persist(StorageLevel.MEMORY_AND_DISK); this }
      def unpersist(): Unit = blocks.unpersist()
    }

    /** Driver-held partitions: a fold runs the partitions concurrently on
      * the JVM's shared global pool, which no call adds threads to. */
    final case class Local(parts: Array[Array[SeqBlock]]) extends Parts {
      def fold[T: ClassTag](f: Iterator[SeqBlock] => T): Array[T] =
        concurrently(parts.length)(i => f(parts(i).iterator))
      def numPartitions: Int = parts.length
      /** The order a coalesce reads cached blocks in whenever their first
        * partition has a location, as on one executor: partition order. */
      def coalescedOrder: Option[Seq[Int]] = Some(parts.indices)
      def rdd(sc: SparkContext): RDD[SeqBlock] =
        sc.parallelize(parts.toSeq, parts.length).flatMap(_.iterator)
      def persist(): this.type = this
      def unpersist(): Unit = ()
    }
  }

  /** `f` of 0 until `n`, run concurrently on the JVM's global pool with
    * the caller's SQL conf; the first failure (in index order) is thrown. */
  private def concurrently[T: ClassTag](n: Int)(f: Int => T): Array[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val pool: ExecutionContext = ExecutionContext.global
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val runs = Array.tabulate(n) { i =>
      Future(try Right(org.apache.spark.sql.internal.SQLConf.withExistingConf(conf)(f(i)))
        catch { case e: Throwable => Left(e) })
    }
    runs.map(Await.result(_, scala.concurrent.duration.Duration.Inf).fold(throw _, identity))
  }

  /** The rows of `quantized` (`seq_id`, `t`, `symbol`) exchanged by seq_id
    * into the session's shuffle partitions and sorted by (seq_id, t)
    * within them, as `(seq_id, symbol)` internal rows, with the type of
    * seq_id. The partition count is explicit, so adaptive execution keeps
    * it (it would otherwise coalesce a small input to one partition and
    * one task per pass). Under adaptive execution this runs the exchange. */
  def sortedRows(quantized: DataFrame): (RDD[InternalRow], DataType) = {
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
    rows.mapPartitions(cutPartition(_, seqType, lib))
  }

  /** One partition of [[cut]]: its `(seq_id, symbol)` rows, sorted by
    * (seq_id, t), as blocks; `lib` holds the bases, or is null. */
  private def cutPartition(it: Iterator[InternalRow], seqType: DataType,
                           lib: Array[Pfsa]): Iterator[SeqBlock] = {
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

  /** Rows `(x, seq_id, t)` read to the driver in one pass, per input
    * partition as bytes ([[Keep]]), with `symbol` giving a row's symbol
    * (null: none) from its `x`. */
  private[graft] final case class Read(parts: Array[Array[Byte]], schema: StructType,
                                       symbol: Expression)

  /** A partition's rows kept as bytes ([[ColumnBridge.RowWriter]]) while
    * they take at most `cap` bytes as the driver decodes them (each row
    * its UnsafeRow and a 4-byte length): [[result]] is None once they
    * take more, and no row is kept after that. */
  private[graft] final class Keep(schema: StructType, cap: Long) {
    private var kept = new ColumnBridge.RowWriter(schema)

    def add(r: InternalRow): Unit =
      if (kept != null) {
        kept.write(r)
        if (kept.written > cap) kept = null
      }

    def result: Option[Array[Byte]] = Option(kept).map(_.toByteArray)
  }

  /** Every partition's [[Keep.result]], None unless each kept its rows. */
  private[graft] def allKept(parts: Array[Option[Array[Byte]]]): Option[Array[Array[Byte]]] =
    if (parts.forall(_.nonEmpty)) Some(parts.map(_.get)) else None

  /** [[sortedRows]] of a [[Read]], replayed on the driver: every row goes
    * to the partition Spark's `HashPartitioning(seq_id, partitions)` gives
    * it (the exchange `sortedRows` plans), and every partition is sorted
    * by (seq_id, t) in Spark's ordering of their types. The sort is
    * stable, so rows with equal keys keep the read's order. */
  private[graft] def replay(read: Read, partitions: Int): LocalRows = {
    val seqAt = BoundReference(1, read.schema(1).dataType, nullable = true)
    val tAt = BoundReference(2, read.schema(2).dataType, nullable = true)
    val target = HashPartitioning(Seq(seqAt), partitions).partitionIdExpression
    val decoded = concurrently(read.parts.length) { i =>
      val rows = ColumnBridge.readRows(read.parts(i), read.schema.length)
      (rows, rows.map(target.eval(_).asInstanceOf[Int]))
    }
    val into = Array.fill(partitions)(scala.collection.mutable.ArrayBuilder.make[UnsafeRow])
    decoded.foreach { case (rows, to) =>
      var j = 0
      while (j < rows.length) { into(to(j)) += rows(j); j += 1 }
    }
    new LocalRows(concurrently(partitions) { p =>
      val rows = into(p).result()
      java.util.Arrays.sort(rows, new InterpretedOrdering(Seq(SortOrder(seqAt, Ascending),
        SortOrder(tAt, Ascending))))
      rows
    }, seqAt.dataType, read.symbol)
  }

  /** [[sortedRows]]' partitions held on the driver ([[replay]]): rows
    * `(x, seq_id, t)` of the given seq_id type, with `symbol` giving a
    * row's symbol from its `x`. */
  private[graft] final class LocalRows(parts: Array[Array[UnsafeRow]], val seqType: DataType,
                                       symbol: Expression) {
    /** [[cut]] of these rows: the same blocks, on the driver. */
    def cut(bases: Option[Seq[Pfsa]]): Parts = {
      val lib = bases.map(_.toArray).orNull
      Parts.Local(concurrently(parts.length) { p =>
        val row = new GenericInternalRow(2)
        cutPartition(parts(p).iterator.map { r =>
          row.update(0, if (r.isNullAt(1)) null else r.get(1, seqType))
          row.update(1, symbol.eval(r))
          row
        }, seqType, lib).toArray
      })
    }
  }

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
