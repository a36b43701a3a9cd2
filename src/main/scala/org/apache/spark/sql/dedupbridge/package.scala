package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column ⇄ Expression converters.
  * Spark 4 removed the public `new Column(Expression)` constructor
  * (columns are backed by ColumnNodes now); attaching a custom Catalyst
  * expression from a third-party library goes through
  * `classic.ExpressionUtils`, which is `private[sql]` — this package
  * object, living inside `org.apache.spark.sql`, is the standard
  * third-party pattern for reaching it (same approach as frameless et
  * al.). Only converters live here; all engine code stays in `dedup`.
  */
package object dedupbridge {
  /** Wrap a Catalyst expression as a user-facing Column. */
  def exprColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The Catalyst expression backing a Column. */
  def columnExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `schema` with every field nullable, recursively — what Spark's file
    * sinks write and so what schema inference reads back
    * (`StructType.asNullable` is `private[spark]`). */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable

  /** Block until the listener bus has delivered all queued events —
    * needed before reading SparkListener-accumulated task metrics
    * (`listenerBus` is `private[spark]`). */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
