package graft.stages

import graft.engine.EtlContext
import graft.spec.ComponentSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-level aggregation operators — the OLAP summary surface the
  * reference's `command` SQL cannot reach record-at-a-time (its SQL
  * passthrough hands scripts to the database, OCommandTransformer.java
  * :58-78; there is no grouping-sets engine in its pipeline). Both
  * compile to single Catalyst aggregations: `rollup`/`cube` to one
  * grouping-sets hash-aggregate (Spark expands the sets map-side — one
  * shuffle, not one job per level), `pivot` to one aggregation with a
  * conditional aggregate per declared value (never Spark's plan-time
  * value-discovery job).
  */
object CubeStages {

  /** (output name, aggregate expression) pairs for an `aggs` list. */
  private def aggPairs(spec: ComponentSpec, what: String): Seq[(String, Column)] =
    (spec.strList("aggs") match {
      case Nil => Seq("count")
      case l => l
    }).map(_.split(":") match {
      case Array("count") => "n" -> count(lit(1))
      case Array("sum", f) => s"sum_$f" -> sum(col(f))
      case Array("min", f) => s"min_$f" -> min(col(f))
      case Array("max", f) => s"max_$f" -> max(col(f))
      case Array("avg", f) => s"avg_$f" -> avg(col(f))
      case other => sys.error(s"$what: unknown agg ${other.mkString(":")}")
    })

  /** `rollup`: hierarchical subtotals over the key list — one result
    * row per grouping set (per (k1,k2), per k1, grand total); `mode:
    * cube` emits every key subset instead. Rolled-up key positions emit
    * the `totalLabel` sentinel (default `(all)`) rather than SQL's
    * NULL — the output is self-describing with no null-ordering
    * pitfalls across engines — and `gid` (the grouping bitmask, first
    * key = high bit) disambiguates a genuine `(all)` data value.
    * Options: `keys` (required), `aggs` (count / sum:c / min:c / max:c
    * / avg:c, default count), `mode` (rollup|cube), `totalLabel`.
    *
    * Scale shape: ONE hash aggregation — Spark's Expand feeds every
    * grouping set through the same map-side partial aggregation, so the
    * shuffle carries one row per (set, key-combo, task); never a union
    * of per-level jobs. */
  def rollup(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val keys = spec.strList("keys")
      require(keys.nonEmpty, "rollup: `keys` (list of group columns) required")
      keys.foreach(k => require(df.columns.contains(k), s"rollup: no column '$k'"))
      val label = spec.strOr("totalLabel", "(all)")
      val aggs = aggPairs(spec, "rollup")
      val grouped = spec.strOr("mode", "rollup") match {
        case "rollup" => df.rollup(keys.map(col): _*)
        case "cube" => df.cube(keys.map(col): _*)
        case other => sys.error(s"rollup: mode must be rollup|cube, got '$other'")
      }
      // grouping() is only defined inside the aggregate — emit per-key
      // flags + the bitmask there, consume them in the projection
      val gFlags = keys.map(k => grouping(col(k)).cast("long").as(s"__g_$k"))
      val gid = keys.zipWithIndex.map { case (k, i) =>
        grouping(col(k)).cast("long") * (1L << (keys.length - 1 - i))
      }.reduce(_ + _).as("gid")
      val allAggs = aggs.map { case (n, e) => e.as(n) } ++ gFlags :+ gid
      grouped.agg(allAggs.head, allAggs.tail: _*)
        .select(keys.map(k =>
          when(col(s"__g_$k") === 1L, lit(label))
            .otherwise(col(k).cast("string")).as(k)) ++
          Seq(col("gid")) ++ aggs.map(p => col(p._1)): _*)
    }

  /** `pivot`: wide per-group summary — one output column per DECLARED
    * pivot value (a value list is part of the schema contract in any
    * scale pipeline; Spark's value auto-discovery is a plan-time
    * distinct job over the data and is deliberately not exposed).
    * Options: `groupBy` (required), `pivotColumn` (required), `values`
    * (required), `agg` (ONE of count / sum:c / min:c / max:c / avg:c,
    * default count). Output: groupBy keys + one column per value
    * (count fills 0 for absent combinations; other aggs null).
    *
    * Scale shape: ONE map-side-combined hash aggregation on the
    * groupBy keys; each declared value is a conditional aggregate — no
    * second shuffle, no per-value scan. */
  def pivot(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val keys = spec.strList("groupBy")
      require(keys.nonEmpty, "pivot: `groupBy` (list of key columns) required")
      val pc = spec.str("pivotColumn").getOrElse(
        sys.error("pivot: `pivotColumn` required"))
      val values = spec.strList("values")
      require(values.nonEmpty, "pivot: `values` (declared pivot values) required")
      (keys :+ pc).foreach(k => require(df.columns.contains(k), s"pivot: no column '$k'"))
      val mk: String => Column = spec.strOr("agg", "count").split(":") match {
        case Array("count") => v => count(when(col(pc) === v, lit(1))).as(v)
        case Array("sum", f) => v => sum(when(col(pc) === v, col(f))).as(v)
        case Array("min", f) => v => min(when(col(pc) === v, col(f))).as(v)
        case Array("max", f) => v => max(when(col(pc) === v, col(f))).as(v)
        case Array("avg", f) => v => avg(when(col(pc) === v, col(f))).as(v)
        case other => sys.error(s"pivot: unknown agg ${other.mkString(":")}")
      }
      val perValue = values.map(mk)
      df.groupBy(keys.map(col): _*).agg(perValue.head, perValue.tail: _*)
    }

  /** `unpivot`: wide → long (the inverse of [[pivot]]; pandas `melt`).
    * Each declared value column becomes one output row tagged with its
    * name: ids…, `variableField` (the column name), `valueField` (its
    * value, cast to a common type — Spark's unpivot requires it; the
    * least-common-type rule is applied up front so mixed int/double
    * value columns fail LOUD with the offending column named, not at
    * runtime). NULL values drop by default (`keepNulls: true` keeps
    * them — pandas melt keeps, SQL UNPIVOT drops; both spellings are a
    * flag away). Pure per-row expansion (Spark's Expand node) — no
    * shuffle, fuses into the scan.
    * Options: `ids` (list, required), `values` (list, required),
    * `variableField` (default variable), `valueField` (default
    * value), `keepNulls` (default false). */
  def unpivot(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val ids = spec.strList("ids")
      val values = spec.strList("values")
      require(ids.nonEmpty, "unpivot: `ids` required")
      require(values.nonEmpty, "unpivot: `values` required")
      (ids ++ values).foreach(c =>
        require(df.columns.contains(c), s"unpivot: no column '$c'"))
      val varF = spec.strOr("variableField", "variable")
      val valF = spec.strOr("valueField", "value")
      val types = values.map(c => df.schema(c).dataType).distinct
      require(types.size == 1,
        s"unpivot: value columns must share one type, got " +
        values.map(c => s"$c:${df.schema(c).dataType.simpleString}").mkString(", ") +
        " — cast them upstream (a silent widest-type coercion would " +
        "surprise the oracle)")
      val out = df.unpivot(ids.map(col).toArray, values.map(col).toArray,
        varF, valF)
      if (spec.bool("keepNulls", dflt = false)) out
      else out.where(col(valF).isNotNull)
    }
}
