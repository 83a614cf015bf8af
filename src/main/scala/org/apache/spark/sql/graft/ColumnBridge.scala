package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for the engine's custom Catalyst
  * expressions: a Column entry point builds its expression directly,
  * so it resolves on any session without a function registry entry,
  * and an expression that carries a driver-built object (e.g.
  * [[graft.functions.CentroidIndex]]) could not go through the registry
  * anyway, whose builders only receive child expressions.
  * `ExpressionUtils` is `private[sql]` in Spark 4, so the bridge lives
  * in the sql package namespace — the standard extension-library access
  * pattern. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `builder` applied to `args`' expressions, as a Column. */
  def call(builder: Seq[Expression] => Expression, args: Column*): Column =
    column(builder(args.map(expression)))
}
