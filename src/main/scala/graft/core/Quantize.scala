package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
    val (model, maxSymbol, _) = sketched(df, valCol, nBins, detrend, relErr, seqCol, tCol, None)
    (model, maxSymbol)
  }

  /** [[fitComplexWithMaxSymbol]]'s pass, which with `keepBytes` also
    * reads each partition's `(value, seq_id, t)` rows to the driver
    * ([[SeqBlocks.Keep]], each partition up to `keepBytes` / partitions
    * bytes): the rows when every partition fit. The sketch sees the same
    * values in the same order either way. */
  private def sketched(df: DataFrame, valCol: String, nBins: Int, detrend: Boolean,
                       relErr: Double, seqCol: String, tCol: String, keepBytes: Option[Long])
      : (ComplexModel, Option[Int], Option[(Array[Array[Byte]], StructType)]) = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.DoubleType
    // a double column is read as it is: a cast or alias would add a
    // projection, and with it a generated class, to the pass
    val value =
      if (detrend) coalesce(col(valCol) - lag(col(valCol), 1).over(seqW(seqCol, tCol)), lit(0.0)).cast("double")
      else if (df.schema.find(_.name == valCol).map(_.dataType)
          .getOrElse(df.select(col(valCol)).schema.head.dataType) == DoubleType) col(valCol)
      else col(valCol).cast("double")
    val values = df.select((if (keepBytes.nonEmpty) Seq(value, col(seqCol), col(tCol)) else Seq(value)): _*)
    val schema = values.schema
    val probes = (1 until nBins).map(_.toDouble / nBins).toArray :+ 1.0
    val accuracy = math.min(Int.MaxValue, math.ceil(1.0 / relErr).toLong).toInt
    val sketch = new ApproximatePercentile(BoundReference(0, DoubleType, nullable = true),
      Literal(probes), Literal(accuracy))
    val read = ColumnBridge.foldPartitionsOf(values) { parts =>
      val cap = keepBytes.map(_ / math.max(1, parts))
      rows => {
        val kept = cap.map(new SeqBlocks.Keep(schema, _))
        if (!rows.hasNext) (None, kept.flatMap(_.result))
        else {
          val buf = sketch.createAggregationBuffer()
          var nan = false
          rows.foreach { r =>
            kept.foreach(_.add(r))
            if (!r.isNullAt(0)) {
              val x = r.getDouble(0)
              if (x.isNaN) nan = true else buf.add(x)
            }
          }
          (Some((sketch.serialize(buf), nan)), kept.flatMap(_.result))
        }
      }
    }
    val partials = read.flatMap(_._1)
    val rows = SeqBlocks.allKept(read.map(_._2)).filter(_ => keepBytes.nonEmpty).map((_, schema))
    if (partials.isEmpty) (ComplexModel(Array.empty, detrend), None, rows)
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
      (model, Some(maxSymbol), rows)
    }
  }

  /** The `quantize_type` dispatch (reference __quantize,
    * detection.py:272-308) of the batch and the online detector:
    * passthrough when `quantize` is off, else simple | simple-second |
    * complex. The complex partition is `fitted` when given, else fitted
    * here on `df` with `nBins` bins.
    *
    * @return (symbol frame, complex partition) */
  def byType(df: DataFrame, quantize: Boolean, quantizeType: String, nBins: Int,
             fitted: Option[ComplexModel] = None): (DataFrame, Option[ComplexModel]) =
    if (!quantize) (passthrough(df), None)
    else quantizeType match {
      case "simple" => (simple(df), None)
      case "simple-second" => (simpleSecond(df), None)
      case "complex" =>
        val m = fitted.getOrElse(fitComplex(df, nBins = nBins))
        (applyComplex(df, m), Some(m))
      case other => throw new IllegalArgumentException(s"unknown quantize_type: $other")
    }

  /** [[byType]] for a fit, in one pass over the input that also reads
    * the largest symbol and, when the input fits in `keepBytes` (each of
    * the pass's partitions in `keepBytes` / partitions, counted as
    * [[SeqBlocks.Keep]] counts), its rows to the driver: the complex
    * quantizer's sketch pass, or for the other quantizers a read of the
    * symbol frame. The read's rows are `(x, seq_id, t)`, and its symbol
    * of a row is the symbol frame's: for the complex quantizer x is the
    * value and the symbol [[graft.functions.BinIndex]] of it cast as the
    * frame casts it, else x is the symbol.
    *
    * @return (symbol frame, built when first called; complex partition;
    *         the largest symbol, None when there is none; the rows read) */
  private[graft] def byTypeRead(df: DataFrame, quantize: Boolean, quantizeType: String,
                                nBins: Int, keepBytes: Long)
      : (() => DataFrame, Option[ComplexModel], Option[Int], Option[SeqBlocks.Read]) = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
    import org.apache.spark.sql.types.{ByteType, DoubleType}
    if (quantize && quantizeType == "complex") {
      val (m, mx, rows) = sketched(df, "value", nBins, detrend = false, 1e-4, "seq_id", "t", Some(keepBytes))
      lazy val q = applyComplex(df, m)
      (() => q, Some(m), mx, rows.map { case (parts, schema) =>
        SeqBlocks.Read(parts, schema, Cast(graft.functions.BinIndex(
          BoundReference(0, DoubleType, nullable = true), m.cutoffs), ByteType))
      })
    } else {
      val (q, _) = byType(df, quantize, quantizeType, nBins) // throws on an unknown type
      val symbols = q.select(col("symbol"), col("seq_id"), col("t"))
      val schema = symbols.schema
      val read = org.apache.spark.sql.graft.ColumnBridge.foldPartitionsOf(symbols) { parts =>
        val cap = keepBytes / math.max(1, parts)
        rows => {
          val kept = new SeqBlocks.Keep(schema, cap)
          var max = Int.MinValue
          rows.foreach { r =>
            kept.add(r)
            if (!r.isNullAt(0) && r.getByte(0) > max) max = r.getByte(0)
          }
          (max, kept.result)
        }
      }
      (() => q, None, read.map(_._1).filter(_ > Int.MinValue).maxOption,
        SeqBlocks.allKept(read.map(_._2)).map(SeqBlocks.Read(_, schema, BoundReference(0, ByteType, nullable = true))))
    }
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
