package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The two Spark internals the benchmark needs. The live listener bus is
  * `private[spark]` (drained so a measurement reads task metrics only after
  * every event has arrived); `Dataset.ofRows` is `private[sql]` (it runs a
  * subtree of a plan the program built). */
object Internals {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
