package graft.stages

import graft.spec.ComponentSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two scale shapes of the stat stages ([[StatStages]]).
  *
  *  - Per-group statistics come from ONE hash aggregation (one row per
  *    group) and reach the rows through [[attach]] — never through a
  *    window over every row, which would sort the whole table into one
  *    partition. A keyed stats side is never forced to broadcast
  *    (groups can be many); the planner broadcasts it when small.
  *  - A running sum over an ordered value (ranks, ECDFs, token budgets)
  *    is TWO-LEVEL: [[rangeBucket]] cuts each group's value range into
  *    ≤256 buckets, and [[runningBelow]] takes an exclusive prefix over
  *    the bucket totals plus a window partitioned by (group, bucket) —
  *    no group's values ever sort through one partition. */
object GroupStats {

  /** The key columns named by `option`: a JSON list or a comma-separated
    * string, trimmed, empty pieces dropped. Absent = no keys. */
  def keyList(spec: ComponentSpec, option: String): Seq[String] =
    spec.strList(option).flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** `rows` with the per-group `stats` columns appended, input column
    * order kept. No keys: `stats` is one row, broadcast onto every row.
    * Keys: one join on the keys, NULL-SAFE — a NULL key is a real group
    * and its rows keep its stats instead of dropping out of an
    * equi-join that never matches NULL. `stats` carries the key columns
    * under their own names (as `groupBy(keys)` leaves them) and holds a
    * row for every key of `rows` (it is aggregated from them), so the
    * join is inner and the planner may build either side. */
  def attach(rows: DataFrame, stats: DataFrame, keys: Seq[String]): DataFrame =
    if (keys.isEmpty) rows.crossJoin(broadcast(stats))
    else {
      val renamed = stats.toDF(stats.columns.map(c =>
        if (keys.contains(c)) s"__k_$c" else c): _*)
      rows.join(renamed, keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _))
        .drop(keys.map(k => s"__k_$k"): _*)
    }

  /** `max − min + 1` of two long columns with a LOUD overflow guard: a
    * value span at or beyond 2^63 (a Long.MinValue sentinel mixed with
    * positive ids is enough) overflows the subtraction — ANSI mode
    * would throw an opaque ArithmeticException mid-job, non-ANSI would
    * silently corrupt every bucket id. `try_subtract`/`try_add` surface
    * the overflow as null, turned into a named error here. */
  private def spanOf(mx: Column, mn: Column, stage: String): Column = {
    val span = try_add(try_subtract(mx, mn), lit(1L))
    // raise ONLY on a real overflow: NULL min/max (an all-NULL field —
    // legal input, every value lands in the null bucket) must keep its
    // pre-guard NULL span, not a misleading 2^63 error
    when(mx.isNotNull && mn.isNotNull && span.isNull, raise_error(lit(
      s"$stage: value span of the field exceeds 2^63 — min and max are " +
      "too far apart (sentinel values like Long.MinValue mixed with " +
      "real data?); shift or scale the field upstream"))).otherwise(span)
  }

  /** `rows` with `__bkt`: the range bucket of the integral column
    * `value` within its group of `keys`. Each group's min and max come
    * from one aggregation (with any extra per-group `totals`, which stay
    * attached); the span splits into ≤256 equal chunks of
    * `(span − 1) div 256 + 1` values, so bucket order is value order.
    * Integer `div` throughout (a double division would round for spans
    * near 2^63); a NULL value lands in bucket −1, below every other. */
  def rangeBucket(rows: DataFrame, value: String, keys: Seq[String], stage: String,
      totals: Column*): DataFrame = {
    val v = col(value).cast("long")
    val range = rows.groupBy(keys.map(col): _*)
      .agg(min(v).as("__mn"), (max(v).as("__mx") +: totals): _*)
    attach(rows, range, keys)
      .withColumn("__span", spanOf(col("__mx"), col("__mn"), stage))
      .withColumn("__bkt", when(v.isNull, lit(-1L)).otherwise(expr(
        s"(cast(`$value` as bigint) - __mn) div ((__span - 1) div 256 + 1)")))
      .drop("__mn", "__mx", "__span")
  }

  /** `rows` (bucketed by `__bkt` within `keys`, see [[rangeBucket]])
    * with, per `count -> out` pair, `out` = the sum of `count` over the
    * group's rows strictly before this one in (`__bkt`, `order`) order.
    * Level 1: bucket totals and their exclusive prefix over ≤256 rows
    * per group, attached by (group, bucket) — broadcast when keyless.
    * Level 2: the running sum inside the bucket, a window PARTITIONED by
    * (group, bucket). `order` must sort consistently with the buckets.
    * An inclusive sum is `out + count`. */
  def runningBelow(rows: DataFrame, keys: Seq[String], order: Seq[Column],
      sums: (String, String)*): DataFrame = {
    val groupBkt = (keys :+ "__bkt").map(col)
    val before = Window.partitionBy(keys.map(col): _*).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = rows.groupBy(groupBkt: _*)
      .agg(sum(sums.head._1).as(sums.head._1), sums.tail.map(s => sum(s._1).as(s._1)): _*)
    val prefix = totals.select(groupBkt ++ sums.map { case (c, out) =>
      coalesce(sum(col(c)).over(before), lit(0L)).as(out) }: _*)
    val inBucket = Window.partitionBy(groupBkt: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    sums.foldLeft(attach(rows, if (keys.isEmpty) broadcast(prefix) else prefix,
        keys :+ "__bkt")) { case (d, (c, out)) =>
      d.withColumn(out, col(out) + coalesce(sum(col(c)).over(inBucket), lit(0L)))
    }
  }
}
