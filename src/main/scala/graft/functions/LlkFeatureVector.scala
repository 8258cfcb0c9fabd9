package graft.functions

import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** An `array<double>` of llks as an ML dense vector column, each
  * non-finite llk replaced by 1e6 — the clustering feature of one sequence.
  * The value is built in the vector type's storage form (what
  * `VectorUDT.serialize` writes for a dense vector), so no Scala UDF sits
  * in the plan: a UDF adds generated converters for its argument and its
  * result. */
case class LlkFeatureVector(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = SQLDataTypes.VectorType
  override def prettyName: String = "llk_feature_vector"

  override protected def nullSafeEval(input: Any): Any = {
    val llks = input.asInstanceOf[ArrayData]
    val values = Array.tabulate(llks.numElements())(i => LlkFeatureVector.of(llks.getDouble(i)))
    val row = new GenericInternalRow(4)
    row.setByte(0, 1)
    row.setNullAt(1)
    row.setNullAt(2)
    row.update(3, UnsafeArrayData.fromPrimitiveArray(values))
    row
  }

  override protected def withNewChildInternal(newChild: Expression): LlkFeatureVector =
    copy(child = newChild)
}

object LlkFeatureVector {
  /** The feature value of one llk. */
  def of(llk: Double): Double = if (llk.isInfinite || llk.isNaN) 1e6 else llk
}
