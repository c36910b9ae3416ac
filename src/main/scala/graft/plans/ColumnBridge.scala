package org.apache.spark.sql.graftbridge
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column/Expression conversion: the
  * one way graft's native Catalyst expressions enter a plan. An
  * operator builds its expression tree directly, so it analyzes on any
  * session and never writes to the session's function registry.
  */
object ColumnBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
