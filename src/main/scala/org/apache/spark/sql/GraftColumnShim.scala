package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column ↔ Expression converters that
  * Spark 4's backend-agnostic Column API hides (columnNodeSupport.scala).
  * Standard extension-library shim: lives in the sql package purely to see
  * the classic converters; no Spark internals are modified.
  */
object GraftColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Run an unresolved logical plan through a session (Dataset.ofRows is
    * `private[sql]`). Used by the job path (`Executor.buildFrame`), which binds
    * each source table into the parsed plan instead of registering views. */
  def ofRows(session: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** Report a write task's output in its task metrics, as both of Spark's
    * write paths do (the setters are `private[spark]`). Used by the
    * `results_<id>` writer (`graft.ResultWrite`). */
  def setOutputMetrics(ctx: org.apache.spark.TaskContext, records: Long, bytes: Long): Unit = {
    val m = ctx.taskMetrics().outputMetrics
    m.setRecordsWritten(records)
    m.setBytesWritten(bytes)
  }
}
