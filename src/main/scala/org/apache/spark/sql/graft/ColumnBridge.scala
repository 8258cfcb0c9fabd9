package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's sql-package-private Column↔Expression converters
  * (Spark 4 routes Columns through ColumnNode; `ExpressionUtils` is
  * `private[sql]`). Living under `org.apache.spark.sql` is the sanctioned
  * extension-point pattern for libraries that ship native Catalyst
  * expressions without a SparkSessionExtensions registration. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a raw LogicalPlan (`Dataset.ofRows` is
    * `private[sql]`) — the seam a library needs to offer FIRST-CLASS
    * custom logical operators (graft.plans.AsOfJoin) and to lower them
    * back to Catalyst compositions inside an optimizer rule. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df.collect()` without a generated deserializer: the rows convert
    * through `CatalystTypeConverters` (what `SparkPlan.executeCollectPublic`
    * does) inside the same SQL execution `collect` opens. Each result
    * schema `collect` deserializes compiles one class into the session's
    * bounded codegen cache; for the k-row driver reads of an iterative fit
    * that class is pure working set. */
  def collectRows(df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.executeCollectPublic()
    }
  }

  /** Fold each partition of `df`'s rows into one value and return the
    * values in partition order, inside one SQL execution. A k-row read of
    * a grouped aggregate done this way needs no exchange, no final
    * aggregate and no deserializer, so it runs one job and compiles no
    * class beyond the plan of `df` itself. `fold` must copy what it keeps
    * of a row: the plan reuses its row buffers. */
  def foldPartitions[U: scala.reflect.ClassTag](df: org.apache.spark.sql.DataFrame)(
      fold: Iterator[org.apache.spark.sql.catalyst.InternalRow] => U): Array[U] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.execute().mapPartitions(rows => Iterator.single(fold(rows))).collect()
    }
  }

  /** The rows of `df`'s executed plan, as the plan's own operators see
    * them (no deserializer). */
  def internalRows(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.executedPlan.execute()

  /** A DataFrame of `schema` over internal `rows`, with no layout of
    * its own. */
  def fromRows(spark: org.apache.spark.sql.SparkSession,
               rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
               schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ofRows(spark, org.apache.spark.sql.execution.LogicalRDD(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows)(session))
  }

  /** Block until the async listener bus has DELIVERED every queued event
    * (`LiveListenerBus.waitUntilEmpty`, `private[spark]`) — the exact
    * drain barrier listener-tallying harness code needs; snapshot-polling
    * the tallies instead can declare victory during a bus stall and read
    * stale counts. */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
