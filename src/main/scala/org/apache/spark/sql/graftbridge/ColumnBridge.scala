package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Spark's Column ⇄ Expression converters are `private[sql]` in 4.x;
  * this bridge (inside the sql package namespace) re-exports the ones
  * needed by graft's native Catalyst expressions. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` as a plain Catalyst expression, nested Column nodes (a
    * `.cast` inside a kernel call) converted now — for expressions
    * handed straight to the analyzer, as a SQL function builder does,
    * where no Dataset converts them. */
  def convert(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
