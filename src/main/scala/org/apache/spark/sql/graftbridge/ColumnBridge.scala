package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column ⇄ Expression converters of the
  * Spark 4 classic API, so graft's kernels (`GraftFunctions.kernel`) can
  * build Columns without per-session function-registry registration.
  * Lives under `org.apache.spark.sql` solely for the qualified-private
  * access — no Spark internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
