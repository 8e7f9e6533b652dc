package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for Spark 4's split Column API.
  *
  * Spark 4 moved `Column` to a backend-agnostic `ColumnNode` wrapper; the
  * classic (JVM) conversions live behind `private[sql]`. This one-file
  * subpackage of `org.apache.spark.sql` re-exports the two conversions the
  * engine's custom Catalyst expressions need (the same trick established
  * Spark-native libraries use to register typed expressions), plus the
  * `private[spark]` listener-bus drain the job-counting probes wait on.
  * No Spark internals are modified.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until the listener bus has delivered every queued event
    * (or 60 s pass), so a listener's counts cover every finished job. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
