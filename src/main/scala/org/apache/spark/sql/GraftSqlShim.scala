package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** graft's one doorway to non-public Spark API, in the
  * `org.apache.spark.sql` package so it can reach `private[sql]` and
  * `private[spark]` members. It opens two: turning a hand-built
  * [[LogicalPlan]] into a DataFrame (`Dataset.ofRows`, the entry point every
  * Spark-native library uses for custom logical operators), and draining
  * the listener bus. Nothing else in graft touches non-public Spark API.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Spark 4 `Column` wraps a ColumnNode, not an Expression; this is the
    * classic converter back to a resolved Catalyst expression.
    */
  def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** ... and the converse: wrap a hand-built Catalyst expression as a
    * Column that resolves on any session (no FunctionRegistry needed) —
    * for context-free Column builders like TextOps.qualityCol.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Listener events arrive asynchronously: blocks until every event posted
    * so far has reached every listener, so counters fed by a listener (the
    * status tracker's included) have seen every job already run.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
