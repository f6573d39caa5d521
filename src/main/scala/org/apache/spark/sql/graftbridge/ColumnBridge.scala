package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/**
 * Column ⇄ Expression bridge. `ExpressionUtils` is `private[sql]`, so
 * this one-file shim lives under `org.apache.spark.sql` to re-export
 * the two conversions graft needs to build Columns around its own
 * expressions: the broadcast-backed centroid columns
 * (`graft.operators.Ann.nearestCentroidBc` and friends carry a
 * Broadcast handle — the SQL-function registry only admits literal
 * arguments) and `graft.sql.GraftFunctions.call`, which builds from the
 * builder table without a session registry.
 */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  /** Converted now, as the analyzer would convert a function argument:
    * a literal argument is a foldable `Literal`, not a deferred node. */
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
