package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's package-private Column↔Expression converters and
  * listener bus.
  *
  * Spark 4 hides `Column(expr)` behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); third-party Catalyst
  * expressions conventionally bridge through a shim object living in the
  * `org.apache.spark.sql` namespace. This is the only place the engine
  * reaches into Spark internals.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wait until every listener event posted so far has been delivered
    * (delivery is asynchronous), at most `timeoutMs`; false if the bus
    * was still busy at the deadline. Read listener counters after this,
    * not after a fixed sleep. */
  def drainListeners(sc: SparkContext, timeoutMs: Long = 10000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
