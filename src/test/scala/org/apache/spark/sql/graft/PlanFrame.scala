package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A DataFrame over a logical plan the engine built without a session
  * (the HPV fact table's `LocalRelation`), so specs can query it.
  * `Dataset.ofRows` is `private[sql]`, hence the package (the
  * [[DatasetBridge]] pattern).
  */
object PlanFrame {
  def apply(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
