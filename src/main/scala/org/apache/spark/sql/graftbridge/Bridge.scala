package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Column ⇄ Expression bridge. Spark 4 hides the classic converters as
 * `private[sql]`; this shim lives under `org.apache.spark.sql` to
 * re-export them to the graft packages (the standard pattern for
 * libraries providing custom Catalyst expressions), plus the one
 * `private[spark]` listener-bus drain the plan audit and the profiler
 * need.
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** Blocks until every posted listener event (e.g. query-execution
    * callbacks) has been delivered. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
