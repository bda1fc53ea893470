package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Catalyst expression conversion, which Spark keeps private to
  * `org.apache.spark.sql`. It lets one expression builder serve both the
  * DataFrame API and the optimizer rules (`GraftFunctions.cellOfExpr`).
  */
object ColumnExprs {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
