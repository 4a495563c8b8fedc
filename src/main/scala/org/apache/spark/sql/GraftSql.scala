package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column↔Expression conversions so graft
  * can wire custom Catalyst expressions (e.g. the CollectTopK
  * TypedImperativeAggregate) into the public Column API. Lives in the
  * org.apache.spark.sql package solely for access; contains no logic. */
object GraftSql {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Session-level function registration (the same FunctionRegistry an
    * injectFunction extension writes to), for sessions built without
    * the extensions hook. */
  def registerFunction(
      spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)

  /** Wrap a custom LogicalPlan as a DataFrame (the private[sql]
    * Dataset.ofRows), for operators graft plans itself (as-of join). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame's analyzed logical plan (resolved attributes), for
    * building custom plan nodes over existing frames. */
  def analyzed(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}
