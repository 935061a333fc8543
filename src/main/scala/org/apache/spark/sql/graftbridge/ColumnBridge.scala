package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge for custom Catalyst expressions that
  * cannot go through the function registry (a registry builder receives
  * only Expression children; an expression carrying a non-expression
  * payload — e.g. a Broadcast handle, see
  * `graft.functions.BloomMightContainBc` — must be built directly).
  *
  * `classic.ExpressionUtils` is `private[sql]`, so the accessors live in a
  * subpackage of `org.apache.spark.sql` — the established pattern for
  * libraries extending Catalyst (the same access path Spark's own
  * connectors use). This, [[PlanBridge]] and [[ExecutionBridge]] are the
  * only members of that namespace in this repo; everything else is under
  * `graft`.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
