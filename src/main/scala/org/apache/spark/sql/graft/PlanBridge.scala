package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{UserDefinedAggregator, UserDefinedFunction}

/** Bridges a custom LogicalPlan node into the public Dataset API.
  * `Dataset.ofRows` is private[sql], so this one-file shim lives under the
  * org.apache.spark.sql package — the standard technique used by Spark
  * extension libraries to attach custom plan nodes without forking Spark.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A Catalyst expression as a `Column`, and back: how the exact-decimal
    * kernels build their helpers' columns without a registered SQL name. */
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** SQL builder of a typed-Aggregator UDF (`functions.udaf(...)`), the
    * one `spark.udf.register` installs; `UserDefinedAggregator` is
    * private[sql], and a session extension needs the bare builder. */
  def aggregatorBuilder(udf: UserDefinedFunction)
      : Seq[Expression] => Expression = {
    val u = udf.asInstanceOf[UserDefinedAggregator[_, _, _]]
    exprs => ScalaAggregator(u, exprs)
  }
}
