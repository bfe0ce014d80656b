package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression and LogicalPlan → DataFrame bridge. Spark 4 moved
  * Column and Dataset construction behind `private[sql]`
  * (`org.apache.spark.sql.classic`); this shim, living in the spark.sql
  * package tree, is the conventional way extension libraries expose
  * custom Catalyst expressions as Columns and custom plan nodes as
  * DataFrames.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
