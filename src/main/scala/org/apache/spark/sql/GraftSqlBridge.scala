package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversions, so graft's
  * custom Catalyst expressions can be exposed as user-facing Columns
  * (Spark 4.x wraps ColumnNode, not Expression, in Column), and into
  * Dataset construction over graft's own logical plan nodes.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over a hand-built logical plan (graft's own plan nodes,
    * e.g. `graft.exec.SubjectRunDistinct`), analyzed in `spark`.
    */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The running task's memory manager (`private[spark]` on TaskContext),
    * for graft operators that account their buffers to the task.
    */
  def taskMemoryManager(): org.apache.spark.memory.TaskMemoryManager =
    org.apache.spark.TaskContext.get().taskMemoryManager()

  /** The type a column RENDERS from, peeling any to-string casts at the
    * COLUMN-NODE level: Spark 4 wraps `col.cast("string")` in an
    * `internal.Cast` node whose ColumnNodeExpression reports NullType, so
    * expression-level inspection sees nothing. Resolved leaf columns
    * report their real type; unresolved ones yield None (callers keep
    * their general path).
    */
  def renderDataType(c: Column): Option[types.DataType] = {
    def typeOf(n: internal.ColumnNode): Option[types.DataType] = n match {
      case internal.Cast(child, dt, _, _) if dt == types.StringType =>
        typeOf(child)
      case other =>
        scala.util.Try(
          classic.ExpressionUtils.expression(Column(other)).dataType)
          .toOption.filterNot(_ == types.NullType)
    }
    typeOf(c.node)
  }
}
