package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression for specs that build expressions the
  * DataFrame API cannot spell (`ExpressionUtils` is private[sql]). */
object ExprColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
