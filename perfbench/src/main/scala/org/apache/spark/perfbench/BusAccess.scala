package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Waits until the listener bus has delivered every posted event, so
  * counters read after an op include all of that op's events. The bus
  * is private to Spark, hence this accessor in Spark's package. */
object BusAccess {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
