package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Continuous → finite-alphabet quantization (reference detection.py:272-308;
  * entropy-max spec tex/ms.tex:293-294).
  *
  * All variants operate on the long form `(seq_id, t, value)` and append a
  * `symbol: tinyint` column — per-sequence windows only (no global sort), so
  * every path scales by partitioning on seq_id.
  */
object Quantize {

  private def seqW(seqCol: String, tCol: String) =
    Window.partitionBy(col(seqCol)).orderBy(col(tCol))

  /** quantize_simple (reference detection.py:289-292): first difference along
    * time then sign-threshold; first Δ := 0 → symbol 0. */
  def simple(df: DataFrame, seqCol: String = "seq_id", tCol: String = "t",
             valCol: String = "value"): DataFrame = {
    val d = coalesce(col(valCol) - lag(col(valCol), 1).over(seqW(seqCol, tCol)), lit(0.0))
    df.withColumn("symbol", when(d > 0, lit(1)).otherwise(lit(0)).cast("tinyint"))
  }

  /** quantize_simple_second (reference detection.py:293-296): second
    * difference (each diff's leading NaN filled with 0) then sign. */
  def simpleSecond(df: DataFrame, seqCol: String = "seq_id", tCol: String = "t",
                   valCol: String = "value"): DataFrame = {
    val w = seqW(seqCol, tCol)
    val d1 = coalesce(col(valCol) - lag(col(valCol), 1).over(w), lit(0.0))
    val withD1 = df.withColumn("__d1", d1)
    val d2 = coalesce(col("__d1") - lag(col("__d1"), 1).over(w), lit(0.0))
    withD1.withColumn("symbol", when(d2 > 0, lit(1)).otherwise(lit(0)).cast("tinyint"))
      .drop("__d1")
  }

  /** quantize_passthrough (reference detection.py:279-280): cast only. */
  def passthrough(df: DataFrame, valCol: String = "value"): DataFrame =
    df.withColumn("symbol", col(valCol).cast("tinyint"))

  /** Fitted entropy-maximizing partition (reference Quantizer,
    * detection.py:297-306): cutoffs chosen so bins carry ~equal mass, i.e.
    * the (1/k, 2/k, …) quantiles. Persisted so `predict` reuses the FITTED
    * partition (reference detection.py:224-226).
    *
    * @param cutoffs strictly increasing inner bin edges (k-1 of them)
    */
  final case class ComplexModel(cutoffs: Array[Double], detrend: Boolean)
      extends Serializable {
    def alphabetSize: Int = cutoffs.length + 1
  }

  /** Fit equal-mass cutoffs with `approxQuantile` — one distributed pass with
    * a bounded-size sketch per partition; no global sort (the exact-ntile
    * variant in RelationalQueries exists only as the DuckDB-matchable oracle).
    */
  def fitComplex(df: DataFrame, valCol: String = "value", nBins: Int = 8,
                 detrend: Boolean = false, relErr: Double = 1e-4,
                 seqCol: String = "seq_id", tCol: String = "t"): ComplexModel =
    fitComplexWithMaxSymbol(df, valCol, nBins, detrend, relErr, seqCol, tCol)._1

  /** [[fitComplex]] plus the largest symbol [[applyComplex]] assigns on
    * `df` (None when `df` has no rows), read off the same pass. The pass
    * is `approxQuantile`'s aggregate run by hand: every partition feeds
    * its non-NaN values, in row order, to one sketch of Spark's
    * `approx_percentile` (same accuracy), and the driver merges the
    * serialized sketches in partition order, as the aggregate's final
    * stage does — so the cutoffs are bit-identical, with no exchange and
    * no generated class beyond the read of the values. The sketch is also
    * asked for its 1.0 quantile, its exact maximum, and every partition
    * notes whether it saw a NaN (Spark orders NaN above every number). */
  def fitComplexWithMaxSymbol(df: DataFrame, valCol: String = "value", nBins: Int = 8,
                              detrend: Boolean = false, relErr: Double = 1e-4,
                              seqCol: String = "seq_id", tCol: String = "t")
      : (ComplexModel, Option[Int]) = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.DoubleType
    val raw = df.select(col(valCol))
    // a double column is read as it is: a cast or alias would add a
    // projection, and with it a generated class, to the pass
    val values =
      if (detrend) df.select(
        coalesce(col(valCol) - lag(col(valCol), 1).over(seqW(seqCol, tCol)), lit(0.0)).cast("double"))
      else if (raw.schema.head.dataType == DoubleType) raw
      else raw.select(col(valCol).cast("double"))
    val probes = (1 until nBins).map(_.toDouble / nBins).toArray :+ 1.0
    val accuracy = math.min(Int.MaxValue, math.ceil(1.0 / relErr).toLong).toInt
    val sketch = new ApproximatePercentile(BoundReference(0, DoubleType, nullable = true),
      Literal(probes), Literal(accuracy))
    val partials = ColumnBridge.foldPartitions(values) { rows =>
      if (!rows.hasNext) None
      else {
        val buf = sketch.createAggregationBuffer()
        var nan = false
        rows.foreach { r =>
          if (!r.isNullAt(0)) {
            val x = r.getDouble(0)
            if (x.isNaN) nan = true else buf.add(x)
          }
        }
        Some((sketch.serialize(buf), nan))
      }
    }.flatten
    if (partials.isEmpty) (ComplexModel(Array.empty, detrend), None)
    else {
      val merged = partials.foldLeft(sketch.createAggregationBuffer()) { case (b, (bytes, _)) =>
        sketch.merge(b, sketch.deserialize(bytes)) }
      val sketched = sketch.eval(merged) match {
        case a: ArrayData => a.toDoubleArray()
        case _ => Array.empty[Double] // no non-NaN value
      }
      val model = ComplexModel(sketched.dropRight(1).distinct.sorted, detrend)
      val maxSymbol =
        if (partials.exists(_._2)) model.cutoffs.length
        else sketched.lastOption.fold(0)(graft.functions.BinIndex.count(_, model.cutoffs))
      (model, Some(maxSymbol))
    }
  }

  /** The `quantize_type` dispatch (reference __quantize,
    * detection.py:272-308) of the batch and the online detector:
    * passthrough when `quantize` is off, else simple | simple-second |
    * complex. The complex partition is `fitted` when given, else fitted
    * here on `df` with `nBins` bins.
    *
    * @return (symbol frame, complex partition, the largest symbol when
    *         this call fitted the partition and its pass read it) */
  def byType(df: DataFrame, quantize: Boolean, quantizeType: String, nBins: Int,
             fitted: Option[ComplexModel] = None)
      : (DataFrame, Option[ComplexModel], Option[Option[Int]]) =
    if (!quantize) (passthrough(df), None, None)
    else quantizeType match {
      case "simple" => (simple(df), None, None)
      case "simple-second" => (simpleSecond(df), None, None)
      case "complex" =>
        val (m, maxSymbol) = fitted match {
          case Some(m) => (m, None)
          case None =>
            val (m, mx) = fitComplexWithMaxSymbol(df, nBins = nBins)
            (m, Some(mx))
        }
        (applyComplex(df, m), Some(m), maxSymbol)
      case other => throw new IllegalArgumentException(s"unknown quantize_type: $other")
    }

  /** Apply a fitted partition: symbol = #cutoffs < value
    * ([[graft.functions.BinIndex]]: whole-stage codegen, the cutoffs ride
    * as one referenced array, so every model shares one generated class). */
  def applyComplex(df: DataFrame, model: ComplexModel, valCol: String = "value",
                   seqCol: String = "seq_id", tCol: String = "t"): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val v: Column = if (model.detrend)
      coalesce(col(valCol) - lag(col(valCol), 1).over(seqW(seqCol, tCol)), lit(0.0))
    else col(valCol)
    val sym = ColumnBridge.column(graft.functions.BinIndex(
      ColumnBridge.expression(v.cast("double")), model.cutoffs))
    df.withColumn("symbol", sym.cast("tinyint"))
  }
}
