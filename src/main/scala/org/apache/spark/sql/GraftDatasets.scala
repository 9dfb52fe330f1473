package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A DataFrame over a logical plan that graft builds itself, such as the
  * versioned store's point-lookup leaf. `Dataset.ofRows` is private to
  * Spark's SQL package, and this is the one place graft reaches it. */
object GraftDatasets {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
