package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A DataFrame over a logical plan the engine built itself (for example a
  * LocalRelation of Catalyst-internal rows): `Dataset.ofRows` is
  * package-private to `org.apache.spark.sql`.
  */
object GraftDatasets {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
