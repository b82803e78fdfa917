package graft.stages

import graft.engine.EtlContext
import graft.spec.ComponentSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `tablediff`: snapshot diff by key — classify every key as
  * added / removed / changed (optionally unchanged) between a BASELINE
  * table on disk and the pipeline's current rows. The CDC-validation /
  * migration-audit primitive: "what exactly did this load change?".
  * Reference anchor: the merge transformer's lookup-and-compare step
  * (OMergeTransformer.java:44-77) classifies one record at a time;
  * this is the set-oriented whole-table form.
  *
  * Options:
  *  - `baseline` (required): parquet path of the BEFORE snapshot.
  *  - `key` (required, comma-separated): join key column(s) — assumed
  *    non-null (a key column with nulls fails loudly).
  *  - `columns` (optional): columns to compare (default: every common
  *    non-key column of the two schemas).
  *  - `includeUnchanged` (default false): emit unchanged keys too.
  *
  * Output: key column(s) + `change` (added|removed|changed[|unchanged])
  * + `changed_cols` (comma-joined sorted column names that differ; empty
  * for added/removed/unchanged).
  *
  * Scale shape: ONE full outer shuffle join on the key — both sides
  * project to key + compared columns before the exchange, per-column
  * null-safe equality (`<=>`) decides `changed`, no row serialization
  * or whole-row hashing. At 100 TB both sides partition on the same
  * key, so AQE handles skew; the output is keys + two small strings. */
object DiffStage {

  def tablediff(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val path = spec.str("baseline").getOrElse(
        sys.error("tablediff: `baseline` (parquet path of the BEFORE snapshot) required"))
      val keys = spec.str("key")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      require(keys.nonEmpty, "tablediff: `key` (comma-separated) required")
      val before = ctx.spark.read.parquet(path)
      keys.foreach { k =>
        require(df.columns.contains(k), s"tablediff: current rows lack key '$k'")
        require(before.columns.contains(k), s"tablediff: baseline lacks key '$k'")
      }
      val compare = spec.str("columns")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse((df.columns.toSeq intersect before.columns.toSeq)
          .filterNot(keys.contains).sorted)
      compare.foreach { c =>
        require(df.columns.contains(c) && before.columns.contains(c),
          s"tablediff: compared column '$c' must exist on both sides")
      }
      val aSide = df.select(
        keys.map(col) ++ Seq(lit(true).as("__in_a")) ++
          compare.map(c => col(c).as(s"__a_$c")): _*)
      val bSide = before.select(
        keys.map(col) ++ Seq(lit(true).as("__in_b")) ++
          compare.map(c => col(c).as(s"__b_$c")): _*)
      val joined = aSide.join(bSide, keys, "full_outer")
      // keys must be key-like: a null key row (either side — the
      // using-columns join coalesces them) can't classify
      val nullKey = keys.map(k => col(k).isNull).reduce(_ || _)
      val differs: Seq[(String, Column)] = compare.map(c =>
        c -> !(col(s"__a_$c") <=> col(s"__b_$c")))
      val anyDiff = differs.map(_._2).foldLeft(lit(false))(_ || _)
      val changedCols =
        if (compare.isEmpty) lit("")
        else concat_ws(",", differs.map { case (c, d) =>
          when(d, lit(c)).otherwise(lit(null)) }: _*)
      val out = joined
        .withColumn("change",
          when(nullKey, raise_error(concat(lit("tablediff: null key in ("),
            lit(keys.mkString(",")), lit(")"))))
          .when(col("__in_b").isNull, lit("added"))
          .when(col("__in_a").isNull, lit("removed"))
          .when(anyDiff, lit("changed"))
          .otherwise(lit("unchanged")))
        .withColumn("changed_cols",
          when(col("change") === "changed", changedCols).otherwise(lit("")))
        .select(keys.map(col) :+ col("change") :+ col("changed_cols"): _*)
      if (spec.bool("includeUnchanged", dflt = false)) out
      else out.where(col("change") =!= "unchanged")
    }
}
