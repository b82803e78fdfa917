package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal `private[sql]` bridge: Spark 4 made `Column` wrap a
  * `ColumnNode` rather than a Catalyst `Expression`, and the classic
  * converter (`ExpressionUtils`) is `private[sql]`. graft's function
  * registry covers every expression that can travel as literals, but
  * an expression carrying a RUNTIME object (the broadcast-backed Bloom
  * probe's `Broadcast` handle) cannot pass through a registry call —
  * it needs direct Expression↔Column conversion. This object is the
  * single sanctioned crossing point; keep it tiny. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** The listener bus is `private[spark]`; [[graft.QueryMeter]] drains it
  * so that counters read afterwards include every event posted so far. */
object ListenerBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
