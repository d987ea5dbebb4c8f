package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Same-package door to `Dataset.ofRows`, which is `private[sql]` at the
  * Scala level in Spark 4 — the standard pattern open-source Spark
  * extensions use to wrap a custom LogicalPlan in a DataFrame (the
  * bytecode is public; only the Scala access modifier gates it). This is
  * the single place the engine reaches into the sql package namespace;
  * everything else is public API. */
object GraftPlanDoor {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
