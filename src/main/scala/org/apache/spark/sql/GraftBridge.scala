package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[spark]` and `private[sql]` Spark calls behind
  * [[graft.SparkInternals]], made from Spark's own package so the compiler
  * checks each one against the Spark it builds with. */
object GraftBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  def listeners(spark: SparkSession): Seq[AnyRef] =
    spark.listenerManager.listListeners().toSeq

  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
