package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's programmatically-constructed Catalyst expressions
  * and the public Column API: how every graft Column handle reaches
  * Catalyst.
  *
  * Spark 4's Column wraps a ColumnNode, and the Expression<->Column
  * converters (`ExpressionUtils.column`/`.expression`) are `private[sql]`.
  * The handles of graft.plans.GraftExtensions build their native
  * expressions directly through this one-hop bridge, so they resolve in
  * whatever session analyzes the frame, with no function-registry write and
  * no active session. graft.plans.RelationsGenExpr needs it in any case: it
  * carries non-Expression state (a Broadcast model + accumulators) that no
  * SQL function argument can. This package-placement idiom is the standard
  * Spark extension-library escape hatch; nothing else in graft lives
  * outside the graft namespace.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
