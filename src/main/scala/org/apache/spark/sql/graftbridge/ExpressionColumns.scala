package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst expression conversion for the `graft.plans`
  * kernels. Spark keeps `ExpressionUtils` `private[sql]`, so this
  * object lives under `org.apache.spark.sql` to re-export the two
  * calls. A kernel built through it is a plain Column over its
  * expression: no function registry lookup and no session extension,
  * so it resolves the same way in every session.
  */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
