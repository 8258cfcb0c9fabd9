package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** 0-based position of the row within its run of equal `key` values, in
  * the partition's row order: on rows sorted by (key, t) it is
  * `row_number() OVER (PARTITION BY key ORDER BY t) - 1` without a window
  * operator. The window plans a sort check, a window frame and a projection
  * of its own; this is one stateful expression evaluated inside the sort's
  * whole-stage code. NULL keys form one run, as in the window.
  *
  * The caller owns the precondition: each key's rows must be contiguous in
  * the partition and in the wanted order (a hash partitioning by the key
  * and a local sort starting with it give both). */
case class PositionInRun(child: Expression) extends UnaryExpression
    with Nondeterministic with CodegenFallback {

  @transient private var started: Boolean = _
  @transient private var last: Any = _
  @transient private var n: Long = _

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def stateful: Boolean = true
  override def prettyName: String = "position_in_run"

  override protected def initializeInternal(partitionIndex: Int): Unit = {
    started = false
    last = null
    n = 0L
  }

  override protected def evalInternal(input: InternalRow): Any = {
    val key = child.eval(input)
    if (started && key == last) n += 1L
    else {
      started = true
      last = InternalRow.copyValue(key)
      n = 0L
    }
    n
  }

  override protected def withNewChildInternal(newChild: Expression): PositionInRun =
    copy(child = newChild)
}
