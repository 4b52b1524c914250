package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction

/** Binds a Catalyst expression into a Column and back, so DataFrame code can
  * use the engine's native expressions without naming them in a session's
  * function registry. The converters are package-private, hence this file's
  * package.
  */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The column's expression converted now rather than at analysis, for a
    * builder that must read an argument's literal value. */
  def eagerExpression(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)

  /** An aggregate function as the AggregateExpression the analyzer would
    * wrap it in when it resolves the same call by name. */
  def aggregate(f: AggregateFunction): Column = column(f.toAggregateExpression())
}
