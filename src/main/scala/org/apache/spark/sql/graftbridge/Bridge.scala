package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst-Expression bridge.
  *
  * Spark 4 moved the classic Column-from-Expression constructors behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`); a
  * same-package-tree object is the standard way for an extension library to
  * lift its custom Catalyst expressions into the public Column API.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan node as a DataFrame (classic Dataset.ofRows
    * is private[sql]) — the entry point for whole-operator plans like
    * [[graft.plans.AsOfJoinPlan]]. */
  def dataset(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Block until every event posted so far has reached the SparkListeners
    * (the bus is `private[spark]`), so a listener's maps are complete. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
