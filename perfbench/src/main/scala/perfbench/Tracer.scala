package perfbench

import graft.engine.{EtlContext, EtlListener}
import graft.spec.{ComponentSpec, PipelineSpec}
import org.apache.spark.perfbench.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The traced run's hooks, all from outside the engine: a SparkListener,
  * a QueryExecutionListener, a StreamingQueryListener and an EtlListener
  * per pipeline context, plus spans the workloads record around their
  * calls into the engine's layers.
  *
  * Half the ops are traced (hooks attached); the untraced half gives
  * the tracing overhead. Counters sum over traced ops and are reported
  * per traced op. The listener bus is drained at each op boundary, so an
  * op's events are all counted before its hooks come off. Spans are kept
  * in memory and written as one JSON file when the run ends. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val nano0 = System.nanoTime
  private val epoch0 = System.currentTimeMillis().toDouble
  private def nowMs: Double = epoch0 + (System.nanoTime - nano0) / 1e6

  final case class Span(id: Int, name: String, op: Int, start: Double, end: Double)
  private val spans = ArrayBuffer.empty[Span]
  private def addSpan(name: String, start: Double, end: Double): Unit =
    spans.synchronized { spans += Span(spans.size, name, curOp, start, end) }

  @volatile var active = false
  private var curOp = -1
  private var opStart = 0.0
  private var tracedOps = 0
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = sums.synchronized { sums(k) += v }
  private val gauges = mutable.Map.empty[String, Double]
  private val jobMs = ArrayBuffer.empty[Double]
  private val batchMs = ArrayBuffer.empty[Double]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val scans = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val scansPerFile = ArrayBuffer.empty[Double]
  private val blocks = mutable.Map.empty[String, Long]
  private var cacheNow = 0L
  private var cacheBase = 0L
  private var cachePeak = 0L
  private val cachePeaks = ArrayBuffer.empty[Double]
  private var deltaBytes = 0L
  private val pendingSpecs = ArrayBuffer.empty[PipelineSpec]
  private var deltaBytesSum = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("spark.jobs", 1); jobStart.synchronized(jobStart(e.jobId) = e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.synchronized(jobStart.remove(e.jobId)).foreach { t0 =>
        val d = (e.time - t0).toDouble
        add("spark.job_wall_ms", d)
        jobMs.synchronized(jobMs += d)
        addSpan("spark.job", t0.toDouble, e.time.toDouble)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      if (e.taskInfo != null && e.taskInfo.failed) add("spark.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        add("spark.gc_s", m.jvmGCTime / 1e3)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
        add("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("loaders.output_rows", m.outputMetrics.recordsWritten.toDouble)
        add("loaders.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) blocks.synchronized {
        val size = info.memSize + info.diskSize
        val prev = blocks.getOrElse(info.blockId.name, 0L)
        if (size > 0) {
          if (prev == 0L) add("cache.blocks_written", 1)
          blocks(info.blockId.name) = size
        } else blocks.remove(info.blockId.name)
        cacheNow += size - prev
        cachePeak = math.max(cachePeak, cacheNow)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("catalyst.executions", 1)
      qe.tracker.phases.foreach { case (phase, s) =>
        if (phase != "parsing") {
          add(s"catalyst.${phase}_ms", s.durationMs.toDouble)
          addSpan(s"catalyst.$phase", s.startTimeMs.toDouble, s.endTimeMs.toDouble)
        }
      }
      val nodes = planNodes(qe.executedPlan)
      add("stages.bhj_joins", nodes.count(_.isInstanceOf[BroadcastHashJoinExec]).toDouble)
      add("stages.smj_joins", nodes.count(_.isInstanceOf[SortMergeJoinExec]).toDouble)
      nodes.foreach {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.foreach(p =>
            scans.synchronized(scans(p.toString) += 1))
        case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").foreach(m => add("loaders.output_files", m.value.toDouble))
        case _ => ()
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      add("catalyst.executions", 1)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        add("streaming.batches", 1)
        batchMs.synchronized(batchMs += p.batchDuration.toDouble)
        val d = p.durationMs.asScala
        Seq("addBatch" -> "add_batch_ms", "queryPlanning" -> "query_planning_ms",
            "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms")
          .foreach { case (k, n) => d.get(k).foreach(v => add(s"streaming.$n", v.toDouble)) }
        p.stateOperators.foreach { s =>
          add("streaming.state_commit_ms", s.commitTimeMs.toDouble)
          gauges.synchronized {
            gauges("streaming.state_rows") = s.numRowsTotal.toDouble
            gauges("streaming.state_memory_bytes") = s.memoryUsedBytes.toDouble
          }
        }
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration
        addSpan("streaming.batch", end.toDouble - p.batchDuration, end.toDouble)
      }
    }
  }

  /** Start tracing op `i` (callers trace half the ops). */
  def beginOp(i: Int): Unit = {
    BusAccess.drain(spark)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    blocks.synchronized { cacheBase = cacheNow; cachePeak = cacheNow }
    curOp = i
    opStart = nowMs
    active = true
  }

  /** End op `i` (no-op for an untraced op). */
  def endOp(i: Int): Unit = if (active && curOp == i) {
    val end = nowMs
    addSpan("op", opStart, end)
    // the op's expressions are compiled after its window, so the extra
    // compile the benchmark times is not part of the traced op time
    pendingSpecs.foreach(compileExprs)
    pendingSpecs.clear()
    active = false
    BusAccess.drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    tracedOps += 1
    blocks.synchronized(cachePeaks += (cachePeak - cacheBase).toDouble)
    scans.synchronized {
      if (scans.nonEmpty) scansPerFile += scans.values.sum.toDouble / scans.size
      scans.clear()
    }
    deltaBytesSum += deltaBytes
    // engine self time: its span minus the Spark jobs and Catalyst
    // phases inside it
    val opSpans = spans.synchronized(spans.filter(_.op == i).toVector)
    opSpans.filter(_.name == "engine.run").foreach { run =>
      val inner = opSpans.filter(s => s.name == "spark.job" || s.name.startsWith("catalyst."))
      add("engine.self_ms", (run.end - run.start) - covered(run, inner))
    }
  }

  /** A span around a call into one layer, timed by the benchmark. */
  def span[T](name: String)(body: => T): T = {
    val t0 = nowMs
    try body finally {
      val t1 = nowMs
      addSpan(name, t0, t1)
      name match {
        case "engine.run" => add("engine.run_ms", t1 - t0)
        case "spec.parse" => add("spec.parse_ms", t1 - t0)
        case _ => ()
      }
    }
  }

  /** Count pipelines (nested `etl` children included) run on `ctx`. */
  def attach(ctx: EtlContext): Unit = if (active)
    ctx.addListener(new EtlListener {
      override def onBegin(c: EtlContext): Unit = if (active) add("engine.pipelines", 1)
    })

  /** Keep a spec the traced op runs; [[endOp]] times its expressions. */
  def noteSpec(spec: PipelineSpec): Unit = if (active) pendingSpecs += spec

  /** Time `OrientExpr.compile` on every dialect expression the spec
    * holds (field expressions, `if` predicates, `let` expressions, link
    * join values, nested pipelines included). */
  private def compileExprs(spec: PipelineSpec): Unit = if (active) {
    val exprs = ArrayBuffer.empty[String]
    def walk(c: ComponentSpec): Unit = c.options.foreach {
      case (k, v: String) if ExprKeys(k) => exprs += v
      case (_, m: Map[_, _]) => walkAny(m)
      case (_, s: Seq[_]) => s.foreach(walkAny)
      case _ => ()
    }
    def walkAny(v: Any): Unit = v match {
      case m: Map[_, _] =>
        m.foreach {
          case (k: String, o: Map[_, _]) =>
            walk(ComponentSpec(k, o.asInstanceOf[Map[String, Any]]))
          case (k: String, s: String) if ExprKeys(k) => exprs += s
          case (_, x) => walkAny(x)
        }
      case s: Seq[_] => s.foreach(walkAny)
      case _ => ()
    }
    (spec.begin ++ spec.transformers ++ spec.end).foreach(walk)
    span("expr.compile") {
      exprs.foreach { e =>
        val t0 = nowMs
        try graft.expr.OrientExpr.compile(e) catch { case _: Exception => () }
        add("expr.compile_ms", nowMs - t0)
        add("expr.exprs", 1)
      }
    }
  }

  /** Warning/error counters and loaded rows of a finished pipeline. */
  def noteContext(ctx: EtlContext): Unit = if (active) {
    add("engine.warnings", ctx.warnings.value.toDouble)
    add("engine.errors", ctx.errors.value.toDouble)
    ctx.lastStats.foreach(s => add("stages.rows_out", s.loaded.toDouble))
  }

  def rowsOut(n: Long): Unit = if (active) add("stages.rows_out", n.toDouble)
  /** Bytes of the input delta of the next op (write amplification base). */
  def setDeltaBytes(b: Long): Unit = deltaBytes = b
  def set(name: String, v: Double): Unit = gauges.synchronized(gauges(name) = v)

  private def covered(outer: Span, inner: Seq[Span]): Double = {
    val iv = inner.map(s => (math.max(s.start, outer.start), math.min(s.end, outer.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) { if (!cs.isNaN) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** The per-layer metrics, in [[Tracer.Metrics]] order. */
  def layerMetrics(ops: Seq[Main.Op], checkMs: Seq[Double]): Seq[(String, Double, String)] = {
    val n = math.max(tracedOps, 1).toDouble
    // overhead: the median over pairs of a traced op and the untraced op
    // that ran the same inputs
    val overheads = ops.groupBy(_.pair).values.toSeq.flatMap { p =>
      (p.find(_.traced), p.find(!_.traced)) match {
        case (Some(t), Some(u)) if u.seconds > 0 => Some(100.0 * (t.seconds / u.seconds - 1))
        case _ => None
      }
    }
    val special: Map[String, Double] = Map(
      "spark.job_p50_ms" -> Stats.median(jobMs.toSeq),
      "streaming.batch_p50_ms" -> Stats.median(batchMs.toSeq),
      "cache.peak_bytes" -> Stats.median(cachePeaks.toSeq),
      "sources.scans_per_file" -> Stats.median(scansPerFile.toSeq),
      "loaders.write_amplification" ->
        (if (deltaBytesSum > 0) sums("loaders.output_bytes") / deltaBytesSum else 0.0),
      "bench.check_ms" -> Stats.median(checkMs),
      "bench.trace_overhead_pct" -> Stats.median(overheads))
    Metrics.map { case (name, unit) =>
      val v = special.get(name)
        .orElse(gauges.synchronized(gauges.get(name)))
        .getOrElse(sums(name) / n)
      (name, v, unit)
    }
  }

  /** Write every span, with its parent and self time, as one JSON file. */
  def writeSpans(args: Main.Args): Unit = {
    val all = spans.synchronized(spans.toVector)
    // parent = the innermost span of the same op that contains it
    def contains(o: Span, s: Span) = o.id != s.id && o.op == s.op &&
      o.start <= s.start && s.end <= o.end && (o.end - o.start) >= (s.end - s.start)
    val parent = all.map { s =>
      all.filter(contains(_, s)).sortBy(o => o.end - o.start).headOption.map(_.id).getOrElse(-1)
    }
    val children = all.indices.groupBy(parent)
    val rows = all.zip(parent).map { case (s, p) =>
      val self = (s.end - s.start) -
        covered(s, children.getOrElse(s.id, Nil).map(all))
      Json.obj(Seq("id" -> s.id.toString, "parent" -> p.toString,
        "name" -> Json.str(s.name), "op" -> s.op.toString,
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
        "self_ms" -> Json.num(self)))
    }
    args.out.mkdirs()
    val f = new java.io.File(args.out, s"trace-${args.workload}-seed${args.seed}.json")
    java.nio.file.Files.write(f.toPath,
      Json.obj(Seq("workload" -> Json.str(args.workload),
        "seed" -> args.seed.toString, "spans" -> Json.arr(rows)))
        .getBytes("UTF-8"))
    System.err.println(s"[perfbench] wrote ${all.size} spans to $f")
  }
}

object Tracer {
  private val ExprKeys = Set("expression", "if", "joinValue")

  /** Collect every physical node, through AQE stages and command plans. */
  private object Walk extends AdaptiveSparkPlanHelper
  def planNodes(p: SparkPlan): Seq[SparkPlan] = Walk.collectWithSubqueries(p) {
    case c: CommandResultExec => c.commandPhysicalPlan +: planNodes(c.commandPhysicalPlan)
    case other => Seq(other)
  }.flatten

  /** The per-layer metrics and their units (mirrored in BENCHMARK.json). */
  val Metrics: Seq[(String, String)] = Seq(
    "spec.parse_ms" -> "ms",
    "expr.compile_ms" -> "ms", "expr.exprs" -> "count",
    "engine.run_ms" -> "ms", "engine.self_ms" -> "ms",
    "engine.pipelines" -> "count", "engine.warnings" -> "count",
    "engine.errors" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.executions" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_wall_ms" -> "ms", "spark.job_p50_ms" -> "ms",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.failed_tasks" -> "count",
    "cache.peak_bytes" -> "bytes", "cache.blocks_written" -> "count",
    "sources.input_rows" -> "count", "sources.input_bytes" -> "bytes",
    "sources.scans_per_file" -> "ratio",
    "stages.bhj_joins" -> "count", "stages.smj_joins" -> "count",
    "stages.rows_out" -> "count",
    "loaders.output_rows" -> "count", "loaders.output_bytes" -> "bytes",
    "loaders.output_files" -> "count", "loaders.write_amplification" -> "ratio",
    "streaming.batches" -> "count", "streaming.batch_p50_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_memory_bytes" -> "bytes",
    "streaming.state_commit_ms" -> "ms", "streaming.backlog_files_end" -> "count",
    "streaming.generator_late_ms" -> "ms",
    "bench.check_ms" -> "ms", "bench.trace_overhead_pct" -> "%")
}
