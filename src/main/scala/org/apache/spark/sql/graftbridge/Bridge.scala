package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Spark internals: wrap a Catalyst
  * `Expression` as a public `Column` and back. Spark 4 removed the public
  * `new Column(expr)` constructor; `classic.ExpressionUtils` is the
  * supported internal path (spark/sql/core .../classic/columnNodeSupport.scala).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until the listener bus has delivered every posted event, so a
    * listener's counts cover all jobs of the actions that have returned. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
