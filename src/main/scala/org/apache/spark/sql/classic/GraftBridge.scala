package org.apache.spark.sql.classic

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into Spark's `private[sql]` Column internals for
  * wrapping custom Catalyst expressions as Columns — the conventional
  * pattern for Spark-native extension libraries (Spark 4 moved the
  * public `Column(expr)` constructor behind ColumnNode) — and into the
  * `private[spark]` listener bus. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached the listeners. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
