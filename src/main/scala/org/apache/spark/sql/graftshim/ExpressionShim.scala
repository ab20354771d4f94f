package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The `private[sql]` door between the public `Column` API and
  * Catalyst expressions. The graft operators build their native
  * expressions ([[graft.functions]]) as Column nodes directly, so every
  * session plans them whether or not it registered the SQL names
  * through `graft.GraftExtensions`. Kept to the two conversions. */
object ExpressionShim {

  /** Wrap a Catalyst expression as a Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column (unresolved for column
    * references; the analyzer resolves it with the enclosing plan). */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
