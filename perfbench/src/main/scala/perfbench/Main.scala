package perfbench

import graft.engine.Engine
import org.apache.spark.perfbench.BusAccess
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** The benchmark program: one process runs one workload for a fixed window
  * and prints one JSON result line (the last line of stdout).
  *
  *   --workload ingest_upsert|graph_iterate|config_storm|stream_upsert
  *   --seed N --seconds S --trace 0|1 [--scale full|smoke] [--perturb 0|1]
  *   --work DIR (scratch directory the inputs are generated into)
  *
  * `--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
  * ones (see README.md). `--perturb 1` changes one output row before
  * every output check — the benchmark's own test uses it to show that
  * the checks catch a wrong answer. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, smoke: Boolean, perturb: Boolean,
                        work: java.io.File, out: java.io.File)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("scale", "full") == "smoke",
      m.getOrElse("perturb", "0") == "1", new java.io.File(req("work")),
      new java.io.File(m.getOrElse("out", "perfbench/out")))
  }

  val Workloads = Seq("ingest_upsert", "graph_iterate", "config_storm", "stream_upsert")

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors()
    def log(what: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1f s: $what")
    val spark = Engine.session("perfbench", Some(s"local[$nproc]"))
    spark.sparkContext.setLogLevel("ERROR")
    log("session ready")
    val meter = new TaskMeter
    spark.sparkContext.addSparkListener(meter)
    // `all` (smoke tests) runs every workload in this one session
    val names = if (args.workload == "all") Workloads else Seq(args.workload)
    try names.foreach { name =>
      val wargs = args.copy(workload = name, work = new java.io.File(args.work, name))
      val startMs = if (name == names.head) jvmStartMs else System.currentTimeMillis()
      val tracer = if (args.trace) Some(new Tracer(spark)) else None
      val env = new Env(spark, wargs, tracer, meter)
      val wl: Workload = name match {
        case "ingest_upsert" => new IngestUpsert(env)
        case "graph_iterate" => new GraphIterate(env)
        case "config_storm" => new ConfigStorm(env)
        case "stream_upsert" => new StreamUpsert(env)
        case other => sys.error(s"unknown workload $other")
      }
      try {
        env.aux { wl.setup() }
        val setupS = (System.currentTimeMillis() - startMs) / 1000.0
        log(s"$name set-up done")
        BusAccess.drain(spark)
        meter.reset()
        env.measuring = true
        val ops = wl.measure(args.seconds)
        val retainedMb = if (tracer.isEmpty) Stats.retainedMb() else 0.0
        BusAccess.drain(spark)
        log(s"$name: ${ops.size} ops done")
        report(wargs, spark, env, setupS, ops, wl.rowsPerSecond(ops), retainedMb, meter, tracer)
      } finally wl.close()
    } finally {
      spark.stop()
      log("stopped")
    }
  }

  /** One timed operation. `seconds` excludes input preparation and the
    * output check; `ok` is false when the op threw or its check failed.
    * In a traced run, `pair` joins a traced op to its untraced twin.
    * `taskSeconds` is the op's own executor task time, where ops run one
    * at a time (closed loops). */
  final case class Op(seconds: Double, inputRows: Long, ok: Boolean,
                      traced: Boolean, pair: Int,
                      taskSeconds: Option[Double] = None)

  /** The median of the ops' own task seconds where every op has them
    * (closed loops), else the window's task seconds ÷ ops. */
  private def taskSecondsPerOp(ops: Seq[Op], meter: TaskMeter): Double = {
    val own = ops.flatMap(_.taskSeconds)
    if (own.nonEmpty && own.size == ops.size) Stats.median(own)
    else meter.taskSeconds / math.max(ops.size, 1)
  }

  private def report(args: Args, spark: SparkSession, env: Env,
                     setupS: Double, ops: Seq[Op], rowsPerS: Double,
                     retainedMb: Double, meter: TaskMeter,
                     tracer: Option[Tracer]): Unit = {
    val attempted = ops.size
    val failed = ops.count(!_.ok)
    val secs = ops.map(_.seconds).sorted
    val conf = spark.conf
    val xmx = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(_.startsWith("-Xmx"))
      .lastOption.getOrElse(s"max=${Runtime.getRuntime.maxMemory}")
    val (tailV, tailPct, beyond) = Stats.tail(secs)
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_s", Stats.median(secs), "s"),
        ("op_tail_s", tailV, "s"),
        ("rows_per_s", rowsPerS, "1/s"),
        ("task_s", taskSecondsPerOp(ops, meter), "s"),
        ("retained_mb", retainedMb, "MB"),
        ("ok_frac", (attempted - failed).toDouble / math.max(attempted, 1), "ratio"))
      case Some(t) => t.layerMetrics(ops, env.checkMs.toSeq)
    }
    // detail line: context for the numbers; the result is the last line
    val detail = Json.obj(Seq(
      "workload" -> Json.str(args.workload),
      "seed" -> args.seed.toString,
      "scale" -> Json.str(if (args.smoke) "smoke" else "full"),
      "ops" -> attempted.toString,
      "failed_frac" -> Json.num(failed.toDouble / math.max(attempted, 1)),
      "op_tail_percentile" -> Json.num(tailPct),
      "op_tail_samples_beyond" -> beyond.toString,
      "op_seconds" -> Json.arr(ops.map(o => Json.num(o.seconds))),
      "task_run_s" -> Json.num(meter.taskRunSeconds / math.max(attempted, 1)),
      "peak_rss_mb" -> Json.num(Stats.peakRssMb()),
      "session" -> Json.obj(Seq(
        "master" -> Json.str(spark.sparkContext.master),
        "spark.sql.extensions" -> Json.str(conf.get("spark.sql.extensions", "")),
        "spark.sql.inMemoryColumnarStorage.compressed" ->
          Json.str(conf.get("spark.sql.inMemoryColumnarStorage.compressed", "")),
        "spark.sql.streaming.checkpoint.fileChecksum.enabled" ->
          Json.str(conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled", "")),
        "spark.sql.shuffle.partitions" ->
          Json.str(conf.get("spark.sql.shuffle.partitions", "")),
        "xmx" -> Json.str(xmx)))) ++
      env.details.toSeq)
    println(detail)
    tracer.foreach(_.writeSpans(args))
    val mjson = Json.obj(metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    println(Json.obj(Seq(
      "correct" -> (failed == 0 && attempted > 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> mjson)))
  }
}

/** What every workload sees: the session, the arguments, a scratch
  * directory, the tracer (traced runs only) and the aux job group that
  * keeps preparation and checks out of the op's task time. */
final class Env(val spark: SparkSession, val args: Main.Args,
                val tracer: Option[Tracer], val meter: TaskMeter) {
  val dir: java.io.File = { args.work.mkdirs(); args.work.getCanonicalFile }
  def path(name: String): String = new java.io.File(dir, name).getPath
  val rng = new java.util.SplittableRandom(args.seed)
  val checkMs = ArrayBuffer.empty[Double]
  /** Set once set-up is done: `--perturb` corrupts only timed ops' checks. */
  @volatile var measuring = false
  def perturb: Boolean = args.perturb && measuring
  /** Extra key/value pairs for the detail line. */
  val details = ArrayBuffer.empty[(String, String)]

  /** Run work that is not part of any op (generation, checks). */
  def aux[T](body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(TaskMeter.AuxGroup, "perfbench preparation/check")
    try body finally sc.clearJobGroup()
  }

  /** Time an output check; it runs in the aux group and is excluded
    * from the op's wall time and task time. */
  def check(body: => Boolean): Boolean = {
    val t0 = System.nanoTime
    val ok = try aux(body) catch { case e: Exception =>
      System.err.println(s"[perfbench] check threw: $e"); false }
    checkMs += (System.nanoTime - t0) / 1e6
    if (!ok) System.err.println("[perfbench] output check FAILED")
    ok
  }

  /** A traced span around a call into one layer (no-op untraced). */
  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) if t.active => t.span(name)(body)
    case _ => body
  }
}

trait Workload {
  /** Generate inputs and warm up; counted in setup_s. */
  def setup(): Unit
  /** Run ops for `seconds` of wall time. */
  def measure(seconds: Double): Seq[Main.Op]
  /** Input rows completed per second of timed wall time. In a closed
    * loop the timed wall time is the sum of the op times. */
  def rowsPerSecond(ops: Seq[Main.Op]): Double =
    ops.map(_.inputRows).sum / math.max(ops.map(_.seconds).sum, 1e-9)
  def close(): Unit = ()
}

/** A closed loop with one client: prepare (untimed) → op (timed) →
  * check (untimed), until the window closes. In a traced run every round
  * of ops is played twice, once with the tracing hooks attached and once
  * without, in alternating order, so both halves run the same mix and
  * give the tracing overhead. */
abstract class ClosedLoop(env: Env) extends Workload {
  /** The window closes only after a multiple of this many ops, for
    * workloads whose ops come in rounds that must stay whole. */
  protected val round: Int = 1
  private val play = if (env.tracer.isDefined) 2 else 1
  /** The op whose inputs op `i` runs: in a traced run the two plays of
    * a round run the same ops (fresh constants, same shapes), and the
    * traced and untraced op of one content index form a pair. */
  protected def content(i: Int): Int = (i / (round * play)) * round + i % round
  private def traced(i: Int): Boolean = env.tracer.isDefined && {
    val r = i / round
    (r % 2 == 0) == ((r / 2) % 2 == 0)
  }
  def prepare(i: Int): Unit = ()
  /** Runs op `i` and returns the input rows it consumed. */
  def op(i: Int): Long
  def check(i: Int): Boolean

  def measure(seconds: Double): Seq[Main.Op] = {
    val ops = ArrayBuffer.empty[Main.Op]
    val end = System.nanoTime + (seconds * 1e9).toLong
    var i = 0
    // at least three ops, so a run that only fits two does not give its
    // slower first op half the sample; a traced run closes on whole pairs
    // of rounds, so as many rounds are played traced first as untraced first
    while (System.nanoTime < end || ops.size < 3 || i % (round * play * play) != 0) {
      env.aux(prepare(i))
      val t = traced(i)
      if (t) env.tracer.foreach(_.beginOp(i))
      BusAccess.drain(env.spark)
      val task0 = env.meter.taskSeconds
      val t0 = System.nanoTime
      val rows = try Some(op(i)) catch { case e: Exception =>
        System.err.println(s"[perfbench] op $i threw: $e"); None }
      val s = (System.nanoTime - t0) / 1e9
      env.tracer.foreach(_.endOp(i))
      BusAccess.drain(env.spark)
      val taskS = env.meter.taskSeconds - task0
      val ok = rows.isDefined && env.check(check(i))
      ops += Main.Op(s, rows.getOrElse(0L), ok, t, content(i), Some(taskS))
      i += 1
    }
    ops.toSeq
  }
}
