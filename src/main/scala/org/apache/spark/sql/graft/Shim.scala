package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between the public `Column` API and Catalyst `Expression`s.
  *
  * Spark 4 made `Column` backend-agnostic (ColumnNode); the classic
  * converters live behind `private[sql]`. This shim re-exports them for
  * the graft engine's custom expressions (e.g. `ParseLocaleNumber`).
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]` in Spark 4's classic backend) — needed to hand a
    * custom LogicalPlan node (e.g. `graft.plans.TopKPerGroup`) to the
    * session for analysis and planning. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Whether `dt` is an `AtomicType` (`protected[sql]` in Spark 4). */
  def isAtomic(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt.isInstanceOf[org.apache.spark.sql.types.AtomicType]

  /** Block until every event posted so far has reached the listeners
    * (`listenerBus` is `private[spark]`), so a listener's job count
    * covers the actions that already returned. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
