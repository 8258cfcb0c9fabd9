package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types._

/** Number of `cutoffs` a double lies strictly above — the complex
  * quantizer's symbol — with the cutoffs carried as ONE referenced
  * `double[]`, not inlined. The composed form it replaces,
  * `Σ_c when(v > c, 1).otherwise(0)`, baked every cutoff into the
  * generated Java as a literal, so each newly fitted quantizer compiled
  * new classes for the same plan shape; here the generated code is the
  * same for every model.
  *
  * Parity with the composed form: `v > c` is Spark's double comparison
  * (NaN above every number, -0.0 equal to 0.0), and a NULL `v` counts 0
  * (each `when` falls through to `otherwise(0)`), so the result is never
  * NULL. */
case class BinIndex(child: Expression, cutoffs: Array[Double]) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "bin_index"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0 else BinIndex.count(v.asInstanceOf[Double], cutoffs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val cuts = ctx.addReferenceObj("cutoffs", cutoffs, "double[]")
    ev.copy(code = c.code + code"""
      |int ${ev.value} = ${c.isNull} ? 0 : graft.functions.BinIndex.count(${c.value}, $cuts);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BinIndex =
    copy(child = newChild)
}

object BinIndex {
  def count(v: Double, cutoffs: Array[Double]): Int = {
    var n = 0
    var i = 0
    while (i < cutoffs.length) {
      if (SQLOrderingUtil.compareDoubles(v, cutoffs(i)) > 0) n += 1
      i += 1
    }
    n
  }
}
