package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Same-package door to `Dataset.ofRows`, `Dataset.apply` and
  * `ExpressionUtils.column`, which are `private[sql]` at the Scala level in
  * Spark 4 — the standard pattern open-source Spark extensions use to wrap
  * a custom LogicalPlan in a DataFrame or a typed Dataset, or a custom
  * Expression in a Column (the bytecode is public; only the Scala access
  * modifier gates it). This is the single place the engine reaches into
  * the sql package namespace; everything else is public API. */
object GraftPlanDoor {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A typed Dataset over `plan`, analyzed once with its encoder bound. */
  def dataset[T: Encoder](spark: SparkSession, plan: LogicalPlan): Dataset[T] =
    classic.Dataset[T](spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
