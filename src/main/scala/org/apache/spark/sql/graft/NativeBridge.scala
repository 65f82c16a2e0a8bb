package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Classic-API bridge for native Catalyst expressions and plans.
  *
  * Spark 4 wraps Column around ColumnNode; the Expression⇄Column
  * conversions live in `org.apache.spark.sql.classic.ExpressionUtils`
  * and `classic.Dataset.ofRows` builds a DataFrame over a logical plan,
  * all `private[sql]` — this object lives inside the sql package
  * namespace solely to re-export them for graft's native expressions
  * and leaves (the standard integration point for third-party catalyst
  * extensions).
  */
object NativeBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
