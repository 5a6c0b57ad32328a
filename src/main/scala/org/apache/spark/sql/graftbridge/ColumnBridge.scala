package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
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

  /** Spark's `collect_top_k` aggregate (`CollectTopK`, internal to
    * `sql`): the `k` least values of `c` by its interpreted ordering,
    * as an ascending array. The third argument, `reverse = true`, is
    * what makes it the least (and the output ascending). */
  def collectTopK(c: Column, k: Int): Column =
    column(new CollectTopK(expression(c), k, true).toAggregateExpression())
}
