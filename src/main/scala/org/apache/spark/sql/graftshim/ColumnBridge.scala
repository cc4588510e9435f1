package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnresolvedNamedLambdaVariable}
import org.apache.spark.sql.classic.{ColumnNodeExpression, ColumnNodeToExpressionConverter, ExpressionUtils}

/** Spark 4 moved the Column↔Expression bridge behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`). This shim lives in
  * the `org.apache.spark.sql` namespace to re-export the two conversions
  * our custom Catalyst expressions need. */
object ColumnBridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toCol(e: Expression): Column = ExpressionUtils.column(e)

  /** The column's whole unresolved Catalyst tree as text, custom
    * expressions included: `Column.toString` prints a custom expression's
    * inner columns as `columnnodeexpression()` and so hides, say, the
    * bounds of an `items` element predicate. Lambda variables are renamed
    * in order of appearance, so two compiles of one spec render the same
    * text although each draws fresh variable names. */
  def render(c: Column): String = {
    def convert(e: Expression): Expression =
      e.transformUp { case ColumnNodeExpression(n) => convert(ColumnNodeToExpressionConverter(n)) }
    val names = scala.collection.mutable.Map[String, String]()
    convert(ColumnNodeToExpressionConverter(c.node)).transformUp {
      case v: UnresolvedNamedLambdaVariable =>
        UnresolvedNamedLambdaVariable(Seq(names.getOrElseUpdate(v.name, s"v${names.size}")))
    }.toString
  }
}
