package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst Expression bridge.
  *
  * Spark 4 made `Column` a connect-compatible facade; the classic
  * conversions live behind `private[sql]` (`org.apache.spark.sql.classic.
  * ExpressionUtils`). This object sits inside the `org.apache.spark.sql`
  * package solely to re-export those two conversions to graft's custom
  * expressions — the standard extension-library technique — and the
  * `private[spark]` listener-bus drain the bench harness reads job
  * counts behind.
  */
object bridge {
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** Block (up to Spark's 10 s) until every listener queue has
    * delivered the events posted so far, so `statusTracker` reads see
    * every job already submitted. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
