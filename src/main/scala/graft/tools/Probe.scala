package graft.tools

import graft.{Bench, Measurement, QueryMeter, SparkEntry}
import graft.engine.Engine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Dev tool: named driver queries through [[QueryMeter]].
  *
  * {{{
  * sbt "runMain graft.tools.Probe <mode> <sfDir> [query …]"
  * }}}
  *
  *  - `plan`: `explain("formatted")` and the scans per input file in the
  *    physical plan as planned, before AQE's run-time exchange reuse.
  *    With no query named, the scan audit of every query: the ones whose
  *    plan scans one file more than twice (fresh lambda-variable ids
  *    defeat exchange reuse, so each extra scan can be a full pass over
  *    that input).
  *  - `show`: the query's result.
  *  - `time`: the canary against Bench's anchor, then one JSON record per
  *    query with the min and every rep of each measured field.
  *  - `stages`, `execs`, `jobs`: the per-stage rows, the final executed
  *    plan of each SQL execution, or the job timeline of the fastest rep.
  *
  * The measuring modes run Bench's warm-up, then per query 1 warm-up and
  * [[Reps]] measured reps, clearing the cache after each as Bench does. */
object Probe {
  val Reps = 3
  private val Modes = Seq("plan", "show", "time", "stages", "execs", "jobs")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Modes.contains(args(0)),
      s"usage: Probe <${Modes.mkString("|")}> <sfDir> [query …]")
    val spark = Engine.session("graft-probe")
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args(0), args(1), args.drop(2).toSeq) finally spark.stop()
  }

  def run(spark: SparkSession, mode: String, dir: String, names: Seq[String]): Unit = {
    def query(n: String): DataFrame = SparkEntry.queries(n)(spark, dir)
    mode match {
      case "plan" if names.isEmpty =>
        val all = SparkEntry.queries.keys.toSeq.sorted
        all.foreach { n =>
          try {
            val dups = scansPerFile(query(n)).filter(_._2 > 2)
            if (dups.nonEmpty)
              println(s"[scans] $n: " + dups.map { case (f, c) => s"$f x$c" }.mkString(", "))
          } catch { case e: Exception => println(s"[scans] $n SKIP (${e.getClass.getSimpleName})") }
          spark.catalog.clearCache()
        }
        println(s"[scans] done: ${all.size} queries audited")
      case "plan" => names.foreach { n =>
        println(s"=== $n ===")
        val df = query(n)
        df.explain("formatted")
        println("scans per file: " +
          scansPerFile(df).map { case (f, c) => s"$f x$c" }.mkString(", "))
      }
      case "show" => names.foreach { n =>
        println(s"=== $n ===")
        query(n).show(50, truncate = false)
      }
      case _ =>
        val meter = new QueryMeter(spark, detail = mode != "time")
        try {
          meter.warm(dir)
          if (mode == "time") {
            val c = meter.canarySeconds()
            val anchor = Bench.loadAnchors(Bench.anchorKey(dir, spark)).get(Bench.CanaryKey)
            println(f"_canary min=$c%.3f s (bench anchor ${anchor.getOrElse(Double.NaN)}%.3f s " +
              f"=> window ratio ${anchor.fold(Double.NaN)(c / _)}%.2fx)")
          }
          names.foreach { n =>
            def rep(): Measurement = {
              val m = meter.measure(query(n))
              spark.catalog.clearCache()
              m
            }
            rep()
            val reps = Seq.fill(Reps)(rep())
            reps.flatMap(_.error).headOption.foreach(e => println(s"[$n] FAILED: ${e.getMessage}"))
            if (mode == "time") println(record(n, reps))
            else {
              val best = reps.minBy(_.wallS)
              println(f"=== $n wall=${best.wallS}%.3f s build=${best.buildS}%.3f s " +
                f"jobs=${best.jobs} task_s=${best.taskS}%.2f ===")
              (mode match {
                case "stages" => best.stageRows
                case "execs" => best.execPlans
                case _ => best.timeline
              }).foreach(println)
            }
          }
        } finally meter.close()
    }
  }

  private val Fields: Seq[(String, Measurement => Double)] = Seq(
    "build_s" -> (_.buildS), "exec_s" -> (_.execS),
    "build_jobs" -> (_.buildJobs.toDouble), "jobs" -> (_.jobs.toDouble),
    "stages" -> (_.stages.toDouble), "task_s" -> (_.taskS), "cpu_s" -> (_.cpuS),
    "shuffle_read_bytes" -> (_.shuffleReadBytes.toDouble),
    "shuffle_write_bytes" -> (_.shuffleWriteBytes.toDouble),
    "spill_bytes" -> (_.spillBytes.toDouble))

  /** `{"query":…,"min":{field:v,…},"reps":{field:[v,…],…}}`. */
  private def record(name: String, reps: Seq[Measurement]): String = {
    def num(v: Double) = if (v == math.rint(v)) f"$v%.0f" else f"$v%.3f"
    def obj(f: (Measurement => Double) => String) =
      Fields.map { case (k, get) => "\"" + k + "\":" + f(get) }.mkString("{", ",", "}")
    s"""{"query":"$name","min":${obj(get => num(reps.map(get).min))},""" +
      s""""reps":${obj(get => reps.map(m => num(get(m))).mkString("[", ",", "]"))}}"""
  }

  private object Walk extends AdaptiveSparkPlanHelper

  /** File scans in `df`'s physical plan per input file, most first. */
  private def scansPerFile(df: DataFrame): Seq[(String, Int)] =
    Walk.collectWithSubqueries(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f.relation.location.rootPaths.headOption.fold("?")(_.getName)
    }.groupBy(identity).map { case (f, fs) => f -> fs.size }.toSeq.sortBy(e => (-e._2, e._1))
}
