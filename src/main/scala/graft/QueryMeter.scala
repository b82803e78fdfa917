package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.graftbridge.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** What one [[QueryMeter.measure]] saw. `buildS` is the time for the
  * plan to be built (config → DataFrame, eager checkpoints included),
  * `execS` the time of the action; `buildJobs` of the `jobs` ran during
  * the build. Task seconds are executor run time (`taskS`) and CPU time
  * (`cpuS`) summed over completed stages. The three row lists are empty
  * unless the meter was made with `detail`. */
final case class Measurement(
    buildS: Double, execS: Double, buildJobs: Int, jobs: Int, stages: Int,
    taskS: Double, cpuS: Double, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, stageRows: Seq[String], execPlans: Seq[String],
    timeline: Seq[String], error: Option[Throwable]) {
  def wallS: Double = buildS + execS
}

/** The one way to measure a query: a SparkListener and a
  * QueryExecutionListener on `spark`, read between two drains of the
  * listener bus. Both drains sit outside the timed region, and every
  * event between them belongs to the measured body — bodies run one at
  * a time. With `detail` the meter also keeps the per-stage rows, the
  * final executed plan of each SQL execution and the job timeline.
  * Close it to take its listeners off the session. */
final class QueryMeter(spark: SparkSession, detail: Boolean = false) extends AutoCloseable {
  import QueryMeter.PhaseKey

  // written on the listener bus thread, read after a drain
  private var jobs, buildJobs, stages = 0
  private var runMs, cpuNs, shRead, shWrite, spill = 0L
  private val stageRows, execPlans, timeline = mutable.ArrayBuffer.empty[String]
  private val stageJob = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private var epochMs, lastEndMs = 0L

  private val jobListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = QueryMeter.this.synchronized {
      jobs += 1
      val props = Option(j.properties)
      if (props.exists(_.getProperty(PhaseKey) == "build")) buildJobs += 1
      if (detail) {
        jobStart(j.jobId) = j.time
        // a stage's own name is AQE's materialization thunk; the job's
        // description or call site names the operator that launched it
        val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))
          .orElse(Option(p.getProperty("callSite.short")))).getOrElse("")
        j.stageInfos.foreach(s => stageJob(s.stageId) = desc)
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = if (detail) QueryMeter.this.synchronized {
      val t0 = jobStart.getOrElse(j.jobId, j.time)
      val gap = if (lastEndMs == 0L) 0L else t0 - lastEndMs
      timeline += f"job ${j.jobId}%5d start=${t0 - epochMs}%7d ms gap=$gap%6d ms dur=${j.time - t0}%7d ms"
      lastEndMs = j.time
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = QueryMeter.this.synchronized {
      val i = s.stageInfo
      val m = i.taskMetrics
      stages += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shRead += m.shuffleReadMetrics.totalBytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      if (detail) stageRows += f"stage ${i.stageId}%5d tasks=${i.numTasks}%4d " +
        f"task_s=${m.executorRunTime / 1e3}%8.2f cpu_s=${m.executorCpuTime / 1e9}%8.2f " +
        f"gc_s=${m.jvmGCTime / 1e3}%6.2f in=${m.inputMetrics.recordsRead}%9d " +
        f"sh_r=${m.shuffleReadMetrics.recordsRead}%9d sh_w=${m.shuffleWriteMetrics.recordsWritten}%9d " +
        stageJob.getOrElse(i.stageId, i.name).take(110)
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (detail) QueryMeter.this.synchronized {
        execPlans += f"--- exec $funcName ${durationNs / 1e6}%.0f ms ---\n" +
          qe.executedPlan.treeString.linesIterator.take(40).mkString("\n")
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(planListener)

  override def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
  }

  private def reset(): Unit = {
    ListenerBus.drain(spark)
    synchronized {
      jobs = 0; buildJobs = 0; stages = 0
      runMs = 0L; cpuNs = 0L; shRead = 0L; shWrite = 0L; spill = 0L
      stageRows.clear(); execPlans.clear(); timeline.clear()
      stageJob.clear(); jobStart.clear()
      epochMs = System.currentTimeMillis(); lastEndMs = 0L
    }
  }

  /** Times `build` (the plan build) and then `action` on its frame. A
    * failure in either ends the timed region and is returned in
    * `error`, with the time up to it. The default action, `count()`,
    * runs the plan Catalyst optimizes for a count, not the full one: a
    * join that cannot change the row count and whose right-side columns
    * nothing reads is dropped before it runs. */
  def measure(build: => DataFrame, action: DataFrame => Unit = _.count()): Measurement = {
    reset()
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    var t1 = -1L
    val error = try {
      sc.setLocalProperty(PhaseKey, "build")
      val df = build
      t1 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, null)
      action(df)
      None
    } catch { case e: Throwable => Some(e) }
    val t2 = System.nanoTime()
    sc.setLocalProperty(PhaseKey, null)
    if (t1 < 0) t1 = t2
    ListenerBus.drain(spark)
    synchronized {
      Measurement((t1 - t0) / 1e9, (t2 - t1) / 1e9, buildJobs, jobs, stages,
        runMs / 1e3, cpuNs / 1e9, shRead, shWrite, spill,
        stageRows.toList, execPlans.toList, timeline.toList, error)
    }
  }

  /** JVM, JIT, codegen and session warm-up plus the per-dir derived
    * fixtures, run before any timed region so that a query's numbers
    * measure its plan, not whether it ran first. */
  def warm(sfDir: String): Unit = {
    val w = spark.read.parquet(s"$sfDir/nation.parquet")
    w.join(broadcast(w.limit(5)), Seq("n_nationkey")).count()
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.warm(spark, sfDir)
  }

  /** The host's speed, independent of any graft plan: min of 3 runs
    * (after 1 warm-up) of a deterministic compute + one modest shuffle,
    * the two resources CPU steal contends on; no IO, so fixture layout
    * cannot drift it. */
  def canarySeconds(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 24).selectExpr("id % 9973 AS k", "id AS v")
        .groupBy("k").sum("v").selectExpr("sum(`sum(v)`)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once(); Seq(once(), once(), once()).min
  }
}

object QueryMeter {
  /** Local property that marks the jobs a measured plan build submits. */
  private val PhaseKey = "graft.meter.phase"

  /** Spark jobs started while `body` runs, through a meter that lives
    * for the call. */
  def jobsOf(spark: SparkSession)(body: => Unit): Int = {
    val meter = new QueryMeter(spark)
    try {
      meter.reset()
      body
      ListenerBus.drain(spark)
      meter.synchronized(meter.jobs)
    } finally meter.close()
  }
}
