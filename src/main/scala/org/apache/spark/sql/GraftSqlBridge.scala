package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into `private[sql]` constructors: turning a hand-built
  * [[LogicalPlan]] into a DataFrame. This is the standard extension-library
  * pattern for custom operators (the public `SparkSessionExtensions` API
  * injects rules/strategies but offers no plan→DataFrame constructor).
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Expression -> Column: how the Column builders of the native functions
    * (the `NativeFunctions` rows and the vector expressions, some of which
    * carry a codebook or centroids as plan constants) reach the DataFrame
    * API without a name lookup, so no session needs them registered.
    */
  def column(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Column -> underlying Catalyst expression (inverse of [[column]]). */
  def expression(c: Column): catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}
