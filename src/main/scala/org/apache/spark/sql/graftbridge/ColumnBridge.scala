package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Column ⇄ catalyst-Expression conversion `private[sql]`
  * (`classic.ExpressionUtils`). This bridge re-exports it for graft's
  * custom expressions — the conventional pattern for Catalyst-extending
  * libraries (a one-file subpackage of org.apache.spark.sql). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Clone a session INCLUDING its runtime state — SQL conf set after
    * startup, temp views, registered functions (`cloneSession` is
    * private[sql]). `newSession()` would start from the base SparkConf,
    * silently dropping any runtime-set conf (session timezone, ANSI
    * flags) and diverging from the caller's semantics. */
  def cloneSession(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Block until the listener bus has delivered every queued event
    * (`waitUntilEmpty` is private[spark]) — lets a test count jobs via
    * a SparkListener deterministically instead of sleep-polling. */
  def drainListenerBus(s: org.apache.spark.sql.SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()

  /** Rebind a DataFrame's logical plan onto another session of the same
    * SparkContext (`Dataset.ofRows` is private[sql]) — lets a caller run
    * a plan under different SQL conf (e.g. fewer shuffle partitions for
    * streaming state stores) without mutating the original session. */
  def rebind(df: org.apache.spark.sql.DataFrame,
             to: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      to.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan)
}
