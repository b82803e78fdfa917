package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, sum, udf}
import scala.jdk.CollectionConverters._

/** [[QueryMeter]] against what Spark itself records (its status store and
  * the executed plan's SQL metrics), the [[graft.tools.Probe]] modes, and
  * that no other code under `src/` registers a listener. */
class QueryMeterSpec extends SparkSpec {
  private def metered[T](body: QueryMeter => T): T = {
    val meter = new QueryMeter(spark)
    try body(meter) finally meter.close()
  }

  test("range(10).count() is one job of two stages; AQE runs the map stage as a job of its own") {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    for ((aqe, jobs) <- Seq(false -> 1, true -> 2)) {
      spark.conf.set(key, aqe.toString)
      val m = try metered(_.measure(spark.range(10).toDF())) finally spark.conf.set(key, prev)
      assert(m.error.isEmpty)
      assert(m.jobs == jobs && m.buildJobs == 0 && m.stages == 2, s"AQE $aqe: $m")
    }
  }

  test("a shuffled aggregate: stages and shuffle bytes match Spark's own records") {
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").agg(sum(col("l_quantity")))
    val sc = spark.sparkContext
    sc.setJobGroup("meter-agg", "meter-agg")
    val m = try metered(_.measure(df, _.collect())) finally sc.clearJobGroup()
    assert(m.error.isEmpty)
    val tracker = sc.statusTracker
    val ran = tracker.getJobIdsForGroup("meter-agg").toSeq
      .flatMap(j => tracker.getJobInfo(j).toSeq.flatMap(_.stageIds())).distinct
      .flatMap(s => tracker.getStageInfo(s)).count(_.numCompletedTasks() > 0)
    assert(m.stages == ran && m.stages >= 2, m)
    val exchanges = new AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e.metrics }
    def metric(names: String*) = exchanges.map(ms => names.map(ms(_).value).sum).sum
    assert(m.shuffleWriteBytes > 0 && m.shuffleWriteBytes == metric("shuffleBytesWritten"), m)
    assert(m.shuffleReadBytes > 0 &&
      m.shuffleReadBytes == metric("localBytesRead", "remoteBytesRead"), m)
    assert(m.taskS > 0 && m.spillBytes == 0, m)
  }

  test("build time holds an eager checkpoint's job; exec time does not") {
    val slow = udf { (x: Long) => Thread.sleep(2000); x }
    val m = metered(_.measure(
      spark.range(0, 1, 1, 1).select(slow(col("id")).as("id")).localCheckpoint(eager = true)))
    assert(m.error.isEmpty)
    assert(m.buildJobs == 1 && m.jobs > m.buildJobs, m)
    assert(m.buildS >= 2.0 && m.execS < 2.0, m)
  }

  private val detail = "=== field_remove wall="
  private val recallRecord =
    """\{"query":"cosine_dup","hits":(\d+),"total":(\d+),"recall":[0-9.]+,"floor":0\.4,""" +
      """"task_s":[0-9.]+,"jobs":\d+\}"""
  for ((mode, query, expected) <- Seq(
      ("plan", "field_remove", Seq("=== field_remove ===", "Physical Plan", "scans per file: ")),
      ("show", "field_remove", Seq("=== field_remove ===", "+--")),
      ("time", "field_remove",
        Seq("_canary min=", "{\"query\":\"field_remove\",\"min\":{\"build_s\":")),
      ("stages", "field_remove", Seq(detail, "tasks=")),
      ("execs", "field_remove", Seq(detail, "--- exec ")),
      ("jobs", "field_remove", Seq(detail, " start=")),
      ("recall", "cosine_dup", Seq("{\"query\":\"cosine_dup\",\"hits\":"))))
    test(s"Probe $mode prints its header") {
      val out = new java.io.ByteArrayOutputStream
      Console.withOut(out)(graft.tools.Probe.run(spark, mode, sfDir, Seq(query)))
      val text = out.toString("UTF-8")
      expected.foreach(e => assert(text.contains(e), text))
      if (mode == "recall") {
        val m = recallRecord.r.findFirstMatchIn(text).getOrElse(fail(text))
        assert(m.group(1).toLong <= m.group(2).toLong, text)
      }
    }

  test("every recall entry is a driver query whose verdict rows name its metric") {
    for ((name, r) <- SparkEntry.recalls) {
      assert(SparkEntry.queries.contains(name), name)
      assert(SparkEntry.oracleSql(name).contains(s"('${r.metric}', true)"), name)
    }
    val r = SparkEntry.recalls("cosine_dup")
    val metrics = SparkEntry.queries("cosine_dup")(spark, sfDir)
      .collect().map(_.getAs[String]("metric")).toSet
    spark.catalog.clearCache()
    assert(metrics.contains(r.metric), metrics)
  }

  test("listeners are registered only in the meter, and one bus drain remains") {
    def hits(pattern: String): Map[String, Int] = {
      val re = pattern.r
      Seq("src/main/scala", "src/test/scala").flatMap { root =>
        java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator.asScala
          .filter(_.toString.endsWith(".scala"))
          .map(p => p.toString -> re.findAllIn(java.nio.file.Files.readString(p)).size)
          .filter(_._2 > 0)
      }.toMap
    }
    assert(hits("""addSparkListener\(|listenerManager\s*\.\s*register\(""") ==
      Map("src/main/scala/graft/QueryMeter.scala" -> 2))
    assert(hits("""waitUntilEmpty\(""") ==
      Map("src/main/scala/sparkbridge/GraftSparkBridge.scala" -> 1))
  }
}
