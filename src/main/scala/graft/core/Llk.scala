package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sequence log-likelihood scoring (reference Alg. 1, tex/ms.tex:261-287;
  * invoked at detection.py:141,424,486).
  *
  * Two forms score a sequence against EVERY library model in one pass
  * (O(d·|Q|·k) per sequence, no cross join; the library is tiny and rides
  * along in the closure):
  *   - the long form ([[scoreWide]], [[scoreAllLong]]) is the fold fit and
  *     predict run: `(seq_id, t, symbol)` rows exchanged once into
  *     sequence blocks ([[SeqBlocks]]), each sequence fed in t order
  *     through one buffer — no sequence is ever one array cell;
  *   - the array form ([[scoreAll]]) scores `array<tinyint>` cells in a
  *     codegen'd expression: the independent comparator the long form is
  *     checked against (`llk_score_long`).
  */
object Llk {

  private val LOG2 = math.log(2.0)

  /** Negative mean log2-likelihood of `pfsa` generating `symbols`.
    *
    * Per tex/ms.tex:261-287: start from the stationary distribution p; per
    * symbol σ: φ = pᵀπ̃ restricted to σ, L -= log2 Σφ, then push p through δ
    * weighted by π̃ and renormalize. Symbols outside the model's alphabet make
    * the sequence inexplicable → +∞ (callers pre-filter via
    * filter_alphabet_compat, reference detection.py:139-140).
    */
  def llk(symbols: Array[Byte], pfsa: Pfsa): Double = {
    val n = pfsa.numStates
    val k = pfsa.alphabetSize
    var p = pfsa.stationary.clone()
    var next = new Array[Double](n)
    var loss = 0.0
    var t = 0
    val d = symbols.length
    if (d == 0) return 0.0
    while (t < d) {
      val s = symbols(t).toInt
      if (s < 0 || s >= k) return Double.PositiveInfinity
      var mass = 0.0
      java.util.Arrays.fill(next, 0.0)
      var q = 0
      while (q < n) {
        val w = p(q) * pfsa.pitilde(q)(s)
        if (w != 0.0) {
          mass += w
          next(pfsa.conn(q)(s)) += w
        }
        q += 1
      }
      if (mass <= 0.0) return Double.PositiveInfinity
      loss -= math.log(mass) / LOG2
      // renormalize and swap buffers
      var i = 0
      while (i < n) { next(i) /= mass; i += 1 }
      val tmp = p; p = next; next = tmp
      t += 1
    }
    loss / d
  }

  /** Score every sequence against every model in `library`.
    *
    * Runs through the native [[graft.functions.LlkScoreAll]] Catalyst
    * expression — whole-stage-codegen'd, no UDF boxing (SURVEY §4.2 item 1's
    * upgrade path, done).
    *
    * @param seqs DataFrame with `seq_id` and `symbols: array<tinyint>`
    * @return (seq_id, cluster_id, llk) — long-form cluster_llks matrix
    *         (reference detection.py:131)
    */
  def scoreAll(spark: SparkSession, seqs: DataFrame, library: Seq[Pfsa]): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val scores = ColumnBridge.column(
      graft.functions.LlkScoreAll(ColumnBridge.expression(col("symbols")), library.toArray))
    // posexplode_OUTER: the plain generate makes InferFiltersFromGenerate
    // clone the scoring expression into size()/isnotnull filters — the llk
    // kernel would run 3× per row. Outer generate infers nothing; the
    // null-guard below is a cheap post-generate filter (only fires for an
    // empty library, which never happens)
    seqs
      .withColumn("llks", scores)
      .select(col("seq_id"), posexplode_outer(col("llks")).as(Seq("cluster_id", "llk")))
      .filter(col("cluster_id").isNotNull)
  }

  /** Score every sequence against every model WITHOUT materializing arrays:
    * the giant-sequence scale path (SURVEY §2.4 / §4.2 item 1). The
    * long-form `(seq_id, t, symbol)` rows are exchanged once by seq_id and
    * sorted by (seq_id, t) into sequence blocks ([[SeqBlocks]]), and each
    * sequence is fed in t order through [[graft.functions.LlkLongScore]]'s
    * buffer ([[scoreBlocks]]), the fold fit and predict run: per sequence
    * the state is O(k·|Q|), so a billion-symbol stream never becomes a
    * 1 GB `collect_list` cell (the array path's ceiling; reference streams
    * cap at 500k symbols, examples/M2.cfg:15-17), and `llks(j)` is
    * [[llk]] of the sequence's symbols under `library(j)` bit for bit,
    * whatever the partitioning.
    *
    * The result is the WIDE cluster_llks matrix (reference detection.py:131):
    * one row `(seq_id, llks)` per sequence, `llks(j)` = llk under `library(j)`.
    *
    * @param longDf long-form with `seq_id`, `t` (any sortable type; only
    *               the order matters, so sparse or negative t fold
    *               positionally; a null t skips the row, a repeated
    *               `(seq_id, t)` fails the call) and `symbol` (tinyint; a
    *               null symbol skips the row)
    */
  def scoreWide(spark: SparkSession, longDf: DataFrame, library: Seq[Pfsa]): DataFrame = {
    val (blocks, seqType) = SeqBlocks.longForm(longDf, None)
    scoreBlocks(spark, blocks, seqType, library)
  }

  /** Feeds each sequence of a partition's `blocks` whose `label` is not
    * negative through [[graft.functions.LlkLongScore]]'s buffer for
    * `library`, in t order from t = 0 — the buffer then folds [[llk]]'s
    * arithmetic operation for operation, so `llks(j)` is
    * `llk(symbols, library(j))` bit for bit, whatever the plan shape — and
    * hands `f` its (seq_id, label, llks), in the blocks' order. */
  private[graft] def foreachScored(blocks: Iterator[SeqBlock], library: Array[Pfsa],
                                   label: (Any, Array[Double]) => Int)
                                  (f: (Any, Int, Array[Double]) => Unit): Unit =
    SeqBlocks.foreachSequence(blocks, new SeqBlocks.Visitor {
      private var id: Any = null
      private var c = -1
      private var seq: SeqBlocks.Sequence = null
      def begin(i: Any, features: Array[Double]): Unit = {
        id = i
        c = label(i, features)
        seq = if (c < 0) null else new SeqBlocks.Sequence(library)
      }
      def symbols(s: Array[Byte], from: Int, until: Int): Unit =
        if (seq != null) seq.addAll(s, from, until)
      def end(): Unit = if (seq != null) f(id, c, seq.llks)
    })

  /** The wide llk rows `(seq_id, llks)` of the sequences of `blocks`, from
    * one fold over them ([[foreachScored]]): over an RDD of blocks a frame
    * scored when it is read, over driver-held blocks a local relation of
    * rows scored now. */
  private[graft] def scoreBlocks(spark: SparkSession, blocks: SeqBlocks.Parts,
                                 seqType: org.apache.spark.sql.types.DataType,
                                 library: Seq[Pfsa]): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types._
    val lib = library.toArray
    val schema = StructType(Seq(
      StructField("seq_id", seqType),
      StructField("llks", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val scored = (it: Iterator[SeqBlock]) => {
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      foreachScored(it, lib, (_, _) => 0)((id, _, llks) => out += InternalRow(id, ArrayData.toArrayData(llks)))
      out
    }
    blocks match {
      case SeqBlocks.Parts.Cached(rdd) => ColumnBridge.fromRows(spark, rdd.mapPartitions(scored(_).iterator), schema)
      case local => ColumnBridge.fromLocalRows(spark, local.fold(scored(_).toArray).flatten.toSeq, schema)
    }
  }

  /** [[scoreWide]] as long (seq_id, cluster_id, llk) rows. */
  def scoreAllLong(spark: SparkSession, longDf: DataFrame, library: Seq[Pfsa]): DataFrame =
    scoreWide(spark, longDf, library)
      .select(col("seq_id"), posexplode(col("llks")).as(Seq("cluster_id", "llk")))

  /** 0-based index of the lowest model reaching the row's minimum llk — the
    * one tie rule for the predicted `closest` and the confusion argmin. */
  def argmin(llks: Column): Column =
    (array_position(llks, array_min(llks)) - 1).cast("int")

  /** [[argmin]] of one llk array outside SQL: the first non-null element
    * no element is below in Spark's double order (NaN above every number,
    * -0.0 equal to 0.0), or -1 when every element is null. */
  private[core] def argminIndex(llks: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    var best = -1
    var i = 0
    while (i < llks.numElements()) {
      if (!llks.isNullAt(i) &&
          (best < 0 || compareDoubles(llks.getDouble(i), llks.getDouble(best)) < 0)) best = i
      i += 1
    }
    best
  }
}
