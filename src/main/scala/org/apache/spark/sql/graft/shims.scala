package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between public `Column` and catalyst `Expression` — these
  * conversions are `private[sql]` in Spark 4, so third-party expression
  * libraries expose them via a shim inside the sql package namespace
  * (the same pattern used by spark-extension libraries in the ecosystem). */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `Dataset.ofRows` is `private[sql]` in Spark 4 — exposed for the TVF
    * builders that receive a TABLE(...) argument's LogicalPlan and need to
    * re-enter the public DataFrame API with it. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Blocks until the listener bus has delivered every posted event; its
    * drain call is `private[spark]`. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
