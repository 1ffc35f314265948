package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Catalyst expression conversions for library code outside
  * this package. `classic.ExpressionUtils` is `private[sql]`, so the two
  * calls are re-exported here (the `DatasetFactory` pattern). They let
  * the native kernels be built as Columns directly: no function-registry
  * lookup, and no dependency on the calling thread's active session. */
object ExpressionColumns {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
