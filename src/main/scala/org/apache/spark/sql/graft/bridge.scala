package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}

/** Column ⇄ Catalyst Expression bridge.
  *
  * Spark 4 made `Column` a connect-compatible facade; the classic
  * conversions live behind `private[sql]` (`org.apache.spark.sql.classic.
  * ExpressionUtils`). This object sits inside the `org.apache.spark.sql`
  * package solely to re-export those two conversions to graft's custom
  * expressions — the standard extension-library technique — plus the
  * `private[sql]` frame-from-plan constructor a rewritten logical plan
  * needs, and the `private[spark]` listener-bus drain the bench harness
  * reads job counts behind.
  */
object bridge {
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** A frame over `plan` (an analyzed plan) in `df`'s session. */
  def ofRows(df: DataFrame, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(df.sparkSession.asInstanceOf[SparkSession], plan)

  /** Block (up to Spark's 10 s) until every listener queue has
    * delivered the events posted so far, so `statusTracker` reads see
    * every job already submitted. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
