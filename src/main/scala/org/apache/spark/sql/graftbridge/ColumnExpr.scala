package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst `Expression` conversion, so the engine's native
  * expressions are built as Columns directly instead of through a
  * session's function registry. Spark keeps these conversions
  * `private[sql]`, which is why this one object lives in its package. */
object ColumnExpr {
  def column(e: Expression): Column     = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
