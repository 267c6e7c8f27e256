package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one crossing between `Column` and Catalyst `Expression` that
  * `graft.plans.GraftFunctions` needs to put its native expressions into
  * DataFrame code. It lives in this package because
  * `classic.ExpressionUtils.column/expression` are `private[sql]`. */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
