package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column↔Expression bridge for building native Catalyst expressions
  * (the codegen hierarchy keys in graft.spark.GridColumns). Placed under
  * org.apache.spark.sql to use the private[sql] conversion (the pattern
  * in SNIPPETS.md [2]/[3]).
  */
object ExprBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
