package graft

import graft.stages.GroupStats
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The group-statistics module ([[GroupStats]]): `attach` keeps every row
  * and the input's column order, `runningBelow` equals a plain window,
  * and no stat stage keeps its own join-back, keyless fork or bucket
  * arithmetic. */
class GroupStatsSpec extends SparkSpec {
  import spark.implicits._

  test("attach and runningBelow: NULL keys are groups; sums equal a plain window") {
    val rows = Seq(("a", 5L, 2L), ("a", 1L, 3L), ("a", 1000L, 1L), (null, 7L, 4L),
      (null, 9L, 6L), ("b", -40L, 1L)).toDF("g", "v", "c")
    val stats = rows.groupBy("g").agg(sum("c").as("__tot"))
    val attached = GroupStats.attach(rows, stats, Seq("g"))
    assert(attached.columns.toSeq == Seq("g", "v", "c", "__tot"))
    assert(attached.select("g", "__tot").as[(String, Long)].collect().toSet ==
      Set(("a", 6L), (null, 10L), ("b", 1L)))
    assert(attached.count() == 6)
    val keyless = GroupStats.attach(rows, rows.agg(sum("c").as("__tot")), Nil)
    assert(keyless.select("__tot").distinct().as[Long].collect().toSeq == Seq(17L))
    // two-level running sum against the single window it replaces
    for (keys <- Seq(Seq("g"), Nil)) {
      val got = GroupStats.runningBelow(
          GroupStats.rangeBucket(rows, "v", keys, "spec"), keys, Seq(col("v")),
          "c" -> "below")
        .select("g", "v", "below").as[(String, Long, Long)].collect().toSet
      val w = Window.partitionBy(keys.map(col): _*).orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val want = rows.withColumn("below", coalesce(sum("c").over(w), lit(0L)))
        .select("g", "v", "below").as[(String, Long, Long)].collect().toSet
      assert(got == want, keys)
    }
  }

  test("per-group stats reach rows only through GroupStats") {
    val main = java.nio.file.Paths.get("src/main/scala")
    def src(p: java.nio.file.Path) = java.nio.file.Files.readString(p)
    val bucketArith = java.nio.file.Files.walk(main).iterator.asScala
      .filter(_.toString.endsWith(".scala")).filter(src(_).contains("div 256"))
      .map(_.toString).toSet
    assert(bucketArith == Set("src/main/scala/graft/stages/GroupStats.scala"))
    val stat = src(main.resolve("graft/stages/StatStages.scala"))
    assert(!stat.contains("<=> col(s\"__"), "a key-rename join-back is left")
    assert("""if\s*\(\w+\.(isEmpty|nonEmpty)\)\s*\w+\.(groupBy|agg)\(""".r
      .findFirstIn(stat).isEmpty, "a keyless groupBy() fork is left")
  }
}
