package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge for graft's native expressions.
  *
  * Spark 4 wraps Columns around ColumnNodes and gates the direct
  * Expression constructors behind `private[sql]`
  * (classic.ExpressionUtils). Every native Column is built through this
  * bridge at its call site, e.g.
  * `column(Tokens(expression(text)))`: the expression instance is bound
  * when the DataFrame is built and nothing is looked up by name in the
  * session's function registry. SQL users reach the four natives
  * `graft.GraftExtensions` injects (`graft_dot`, `graft_minhash16`,
  * `graft_shingles3`, `graft_isect`); the rest are Column-only. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
