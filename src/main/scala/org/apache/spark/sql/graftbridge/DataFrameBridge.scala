package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** `Dataset.ofRows` is private[sql]; this shim lets graft build a DataFrame
  * from a logical plan that holds its own Catalyst node (the engine
  * operator), so the planner sees the whole plan. */
object DataFrameBridge {
  def ofPlan(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)
}
