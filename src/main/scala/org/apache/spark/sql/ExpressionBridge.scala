package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Converts between a `Column` and its Catalyst `Expression`, which Spark
  * keeps `private[sql]`, so an operator can wrap a column in a codegen'd
  * expression of its own (see `graft.functions.TextOps.cleanTokens`). */
object ExpressionBridge {
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
