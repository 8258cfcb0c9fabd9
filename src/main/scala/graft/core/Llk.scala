package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sequence log-likelihood scoring (reference Alg. 1, tex/ms.tex:261-287;
  * invoked at detection.py:141,424,486).
  *
  * Scale design: sequences stay distributed as `array<tinyint>` cells; the
  * model library is tiny and rides along as a closure/broadcast. One UDF call
  * scores a sequence against EVERY library model (O(d·|Q|·k) per sequence,
  * single pass, no cross join, no shuffle beyond the upstream collect_list).
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
    * the giant-sequence scale path (SURVEY §2.4 / §4.2 item 1). Folds llk
    * directly over long-form `(seq_id, t, symbol)` rows through the
    * [[graft.functions.LlkLongScore]] TypedImperativeAggregate, so per-group
    * state is O(k·|Q|) — a billion-symbol stream never becomes a 1 GB
    * `collect_list` cell (the array path's ceiling; reference streams cap at
    * 500k symbols, examples/M2.cfg:15-17).
    *
    * The result is the WIDE cluster_llks matrix (reference detection.py:131):
    * one row `(seq_id, llks)` per sequence, `llks(j)` = llk under `library(j)`.
    *
    * @param presort true (default) hash-partitions by seq_id and sorts by t
    *                within partitions first: each sequence folds in one
    *                in-order pass, BIT-EXACT with the array path. false
    *                skips the row shuffle entirely — per-partition chunks
    *                collapse map-side to k |Q|×|Q| matrices and only those
    *                summaries shuffle (the 100-TB shape for sources already
    *                written in event order); results then agree with the
    *                array path to fp tolerance (~1e-12), not bit-exactly.
    * @param longDf long-form with `seq_id`, `t` (non-negative; dense 0-based
    *               per sequence is the efficient encoding — sparse t opens
    *               one run per gap; per-partition arrival must be t-ascending
    *               when presort=false; t < 0 is rejected) and
    *               `symbol` (tinyint)
    */
  def scoreWide(spark: SparkSession, longDf: DataFrame, library: Seq[Pfsa],
                presort: Boolean = true): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val agg = ColumnBridge.column(
      graft.functions.LlkLongScore(
        ColumnBridge.expression(col("t").cast("long")),
        ColumnBridge.expression(col("symbol").cast("byte")),
        library.toArray).toAggregateExpression())
    val src =
      if (presort) longDf.repartition(col("seq_id")).sortWithinPartitions(col("seq_id"), col("t"))
      else longDf
    // the groupBy reuses the repartition's hashpartitioning (no second
    // exchange — EnsureRequirements sees the child distribution satisfied)
    src.groupBy(col("seq_id")).agg(agg.as("llks"))
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

  /** The wide llk rows `(seq_id, llks)` of [[scoreWide]], from one fold
    * over sequence blocks ([[foreachScored]]). */
  private[graft] def scoreBlocks(spark: SparkSession, blocks: org.apache.spark.rdd.RDD[SeqBlock],
                                 seqType: org.apache.spark.sql.types.DataType,
                                 library: Seq[Pfsa]): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val lib = library.toArray
    val rows = blocks.mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      foreachScored(it, lib, (_, _) => 0)((id, _, llks) => out += InternalRow(id, ArrayData.toArrayData(llks)))
      out.iterator
    }
    org.apache.spark.sql.graft.ColumnBridge.fromRows(spark, rows, StructType(Seq(
      StructField("seq_id", seqType),
      StructField("llks", ArrayType(DoubleType, containsNull = false), nullable = false))))
  }

  /** [[scoreWide]] as long (seq_id, cluster_id, llk) rows. */
  def scoreAllLong(spark: SparkSession, longDf: DataFrame, library: Seq[Pfsa],
                   presort: Boolean = true): DataFrame =
    scoreWide(spark, longDf, library, presort)
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
