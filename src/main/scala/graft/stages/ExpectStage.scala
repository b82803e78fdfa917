package graft.stages

import graft.engine.EtlContext
import graft.spec.ComponentSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `expect`: declarative data-quality assertions (the dbt-test /
  * Deequ-style expectation pass) — the production guardrail the
  * reference approximates with per-field CSV error counters
  * (OCSVTransformer.java:136-140) but cannot express as named,
  * thresholded rules. A query stage: replaces the stream with one
  * metrics row per rule.
  *
  * Options:
  *  - `rules` (required): list of maps, each
  *    `{name, check, column?, expr?, minRatio?}` with `check` ∈
  *      - `not_null`   — `column` is not null,
  *      - `unique`     — `column` has no duplicated values (violations
  *                       = rows beyond the first of each value; nulls
  *                       count as a value),
  *      - `accepted`   — `column` ∈ `values` (list),
  *      - `expr`       — rows satisfying the boolean dialect `expr`,
  *      - `relationship` — referential integrity: every non-null value
  *                       of `column` exists in the ref relation named
  *                       by `refPath` (parquet) or `refTable`
  *                       (registered table; `${var}`s resolve), column
  *                       `refColumn`; null FKs pass (pair with
  *                       not_null).
  *    `minRatio` (default 1.0): minimum passing fraction; an empty
  *    input passes every rule (ratio defined as 1).
  *  - `onFail` (default `report`): `report` emits the metrics table;
  *    `halt` additionally fails the job at action time when any rule
  *    misses its threshold (the fail-the-batch CI posture).
  *
  * Output: (rule, rows, violations, ratio, passed) — `ratio` is one
  * IEEE division of two longs (engine-exact), ordered by rule name.
  *
  * Scale shape: every non-unique rule is a conditional SUM inside ONE
  * aggregation over a single scan (no per-rule jobs); each `unique`
  * rule adds one map-side-combined count-per-value aggregation
  * (shuffles the distinct values once — the same cost as the
  * `distinctcount` exact path); each `relationship` rule (dbt-style
  * referential integrity: `column`'s non-null values must exist in
  * `refPath`/`refTable`.`refColumn`) adds one left-anti join against
  * the DISTINCT ref keys — dimension-sized, AQE broadcasts small
  * ones. The metrics frame is rule-count rows. */
object ExpectStage {

  /** `distinct: auto` threshold: past this many profiled columns the
    * exact count-distinct Expand (one row copy per column) costs more
    * than HLL's bounded error is worth. */
  val ProfileExactMax = 8

  /** `profile`: per-column data profiling — the discovery pass before
    * writing `expect` rules: for every listed column, non-null/null
    * counts, distinct cardinality, and min/max, emitted LONG-format as
    * `(column, metric, value)` string rows (schema-stable no matter
    * which columns are profiled). Options: `columns` (default: every
    * column), `distinct` ∈ auto (default) | exact | approx
    * (`approx_count_distinct`, the 100-TB path — constant-size HLL
    * sketches through the exchange instead of distinct-value streams).
    * `auto` = exact up to [[ProfileExactMax]] profiled columns, approx
    * past it: each exact count-distinct adds one map-side row copy
    * (Catalyst's Expand rewrite), so a wide-schema exact profile
    * multiplies the scan through the aggregation — at 100 TB that is
    * an HLL job, not an Expand job. Explicit exact/approx always wins.
    *
    * Caveat: `value` is the column value CAST to string — profile
    * integral/string columns for engine-portable min/max (fractional
    * formatting differs across engines; counts are always portable).
    *
    * Scale shape: ONE aggregation over one scan for every metric;
    * multiple exact count-distincts expand map-side (Catalyst's Expand
    * rewrite — still a single shuffle), approx mode keeps the exchange
    * constant-size per column. The result is |columns|·5 rows. */
  def profile(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val cols0 = spec.strList("columns") match {
        case Nil => df.columns.toSeq
        case l => l
      }
      cols0.foreach(c => require(df.columns.contains(c), s"profile: no column '$c'"))
      val approx = spec.strOr("distinct", "auto") match {
        case "exact" => false
        case "approx" => true
        case "auto" => cols0.length > ProfileExactMax
        case other => sys.error(s"profile: distinct must be auto|exact|approx, got '$other'")
      }
      val aggs = cols0.flatMap { c =>
        Seq(
          count(col(c)).as(s"__nn_$c"),
          (count(lit(1)) - count(col(c))).as(s"__nu_$c"),
          (if (approx) approx_count_distinct(col(c)) else count_distinct(col(c)))
            .as(s"__d_$c"),
          min(col(c)).cast("string").as(s"__mn_$c"),
          max(col(c)).cast("string").as(s"__mx_$c"))
      }
      val one = df.agg(aggs.head, aggs.tail: _*)
      one.select(explode(array(cols0.flatMap { c =>
          Seq(
            struct(lit(c).as("column"), lit("non_nulls").as("metric"),
              col(s"__nn_$c").cast("string").as("value")),
            struct(lit(c).as("column"), lit("nulls").as("metric"),
              col(s"__nu_$c").cast("string").as("value")),
            struct(lit(c).as("column"), lit("distinct").as("metric"),
              col(s"__d_$c").cast("string").as("value")),
            struct(lit(c).as("column"), lit("min").as("metric"),
              col(s"__mn_$c").as("value")),
            struct(lit(c).as("column"), lit("max").as("metric"),
              col(s"__mx_$c").as("value")))
        }: _*)).as("r"))
        .select("r.*")
        .orderBy("column", "metric")
    }

  def expect(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val rules = spec.list("rules").map {
        case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
        case other => sys.error(s"expect: each rule must be a map, got $other")
      }
      require(rules.nonEmpty, "expect: `rules` (list of rule maps) required")
      def str(m: Map[String, Any], k: String): Option[String] =
        m.get(k).map(_.toString)
      def need(m: Map[String, Any], k: String): String =
        str(m, k).getOrElse(sys.error(s"expect: rule ${m.getOrElse("name", "?")} needs `$k`"))

      val spark = ctx.spark
      // conditional-sum rules ride ONE aggregation; unique rules are
      // separate keyed aggs; all verdict frames union at the end
      case class RuleRow(name: String, violCol: Column)
      val condRules = scala.collection.mutable.ArrayBuffer.empty[RuleRow]
      val uniqueFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val minRatios = scala.collection.mutable.HashMap.empty[String, Double]

      rules.foreach { r =>
        val name = need(r, "name")
        minRatios(name) = str(r, "minRatio").map(_.toDouble).getOrElse(1.0)
        need(r, "check") match {
          case "not_null" =>
            val c = col(need(r, "column"))
            condRules += RuleRow(name, sum(when(c.isNull, 1L).otherwise(0L)))
          case "accepted" =>
            val c = col(need(r, "column"))
            val vals = r.get("values") match {
              case Some(l: Seq[_]) => l.map(_.toString)
              case _ => sys.error(s"expect: rule $name needs `values` (list)")
            }
            condRules += RuleRow(name,
              sum(when(!c.cast("string").isin(vals: _*) || c.isNull, 1L).otherwise(0L)))
          case "expr" =>
            val e = graft.expr.OrientExpr.compile(need(r, "expr"), ctx.varMap)
            condRules += RuleRow(name,
              sum(when(coalesce(e.cast("boolean"), lit(false)), 0L).otherwise(1L)))
          case "unique" =>
            val c = col(need(r, "column"))
            // violations = rows beyond the first of each value: one
            // count-per-value agg, then Σ (cnt - 1) — never a window
            uniqueFrames += df.groupBy(c.as("__v")).agg(count(lit(1)).as("__c"))
              .agg(coalesce(sum(col("__c") - 1L), lit(0L)).as("violations"),
                coalesce(sum(col("__c")), lit(0L)).as("rows"))
              .select(lit(name).as("rule"), col("rows"), col("violations"))
          case "relationship" =>
            // dbt-style referential integrity: every non-null value of
            // `column` must exist in refPath/refTable.refColumn.
            // ONE scan + ONE left join against the DISTINCT ref keys
            // (a dimension-sized relation — AQE broadcasts small ones):
            // rows and violations come out of the same aggregation.
            // Null FKs are not violations (pair with not_null).
            val c = col(need(r, "column"))
            val refCol = need(r, "refColumn")
            val ref = (str(r, "refPath"), str(r, "refTable")) match {
              case (Some(_), Some(_)) => sys.error(
                s"expect: rule $name — give `refPath` OR `refTable`, not both")
              case (Some(p), None) => spark.read.parquet(
                graft.expr.OrientExpr.resolveString(p, ctx.varMap))
              case (None, Some(t)) => spark.table(
                graft.expr.OrientExpr.resolveString(t, ctx.varMap))
              case _ => sys.error(s"expect: rule $name needs `refPath` or `refTable`")
            }
            require(ref.columns.contains(refCol),
              s"expect: rule $name — ref has no column '$refCol'")
            val refKeys = ref.select(col(refCol).as("__rk")).distinct()
            uniqueFrames += df
              .join(refKeys, c === col("__rk"), "left")
              .agg(count(lit(1)).as("rows"),
                coalesce(sum(when(c.isNotNull && col("__rk").isNull, 1L)
                  .otherwise(0L)), lit(0L)).as("violations"))
              .select(lit(name).as("rule"), col("rows"), col("violations"))
          case other => sys.error(
            s"expect: unknown check '$other' (not_null|unique|accepted|expr|relationship)")
        }
      }

      val condFrame: Option[DataFrame] =
        if (condRules.isEmpty) None
        else {
          val aggs = count(lit(1)).as("rows") +:
            condRules.toSeq.map(r => r.violCol.as(s"__viol_${r.name}"))
          val one = df.agg(aggs.head, aggs.tail: _*)
          Some(one.select(explode(array(condRules.toSeq.map(r => struct(
              lit(r.name).as("rule"), col("rows"),
              coalesce(col(s"__viol_${r.name}"), lit(0L)).as("violations"))): _*))
            .as("r")).select("r.*"))
        }

      val metrics0 = (condFrame.toSeq ++ uniqueFrames.toSeq)
        .reduce(_ unionByName _)
      val ratio = when(col("rows") === 0L, lit(1.0))
        .otherwise((col("rows") - col("violations")).cast("double") /
          col("rows").cast("double"))
      val minRatioCol = rules.tail.foldLeft(
          when(col("rule") === need(rules.head, "name"),
            lit(minRatios(need(rules.head, "name"))))) { (acc, r) =>
          val n = need(r, "name")
          acc.when(col("rule") === n, lit(minRatios(n)))
        }.otherwise(lit(1.0))
      val metrics = metrics0
        .withColumn("ratio", ratio)
        .withColumn("passed", col("ratio") >= minRatioCol)
        .orderBy("rule")
      spec.strOr("onFail", "report") match {
        case "report" => metrics
        case "halt" =>
          // fail at ACTION time (the frame is lazy): any missed rule
          // poisons its row with raise_error, so the first collect/write
          // aborts the job with the rule named
          metrics.withColumn("passed",
            when(col("passed"), col("passed")).otherwise(raise_error(concat(
              lit("expect: rule '"), col("rule"), lit("' failed: "),
              col("violations").cast("string"), lit(" violation(s), ratio "),
              col("ratio").cast("string")))))
        case other => sys.error(s"expect: onFail must be report|halt, got '$other'")
      }
    }
}
