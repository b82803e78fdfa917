package org.apache.spark.graft

import org.apache.spark.sql.SparkSession

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counters read afterwards include all jobs run so far. The
  * bus is private to Spark, hence this accessor in Spark's package. */
object ListenerBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
