package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, functions => F}
import scala.collection.concurrent.TrieMap

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a sample (0 for an empty one). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The op time at the highest percentile that still has ten samples
    * beyond it: the (n−10)-th order statistic. A run of fewer than 21 ops
    * has no such percentile; it reports its second-slowest op (one
    * sample beyond), so that one stall of a shared host, which lands in
    * some runs and not in others, does not become the run's tail. A run
    * of one op reports that op. Returns (value, percentile, samples
    * beyond). */
  def tail(sorted: Seq[Double]): (Double, Double, Int) = {
    val n = sorted.size
    if (n == 0) (0.0, 0.0, 0)
    else {
      val beyond = if (n >= 21) 10 else if (n >= 2) 1 else 0
      val idx = n - 1 - beyond
      (sorted(idx), 100.0 * (idx + 1) / n, beyond)
    }
  }

  /** Memory the program still holds once the window has closed: heap
    * and non-heap in use after full garbage collections, in MB. Spark
    * frees unreferenced broadcasts and shuffles only after a collection
    * has found them, so collections repeat until the heap stops shrinking.
    * Unlike resident memory, which the collector's sizing policy sets,
    * this follows what the program keeps (cached blocks, generated
    * classes, state). */
  def retainedMb(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    def heap = m.getHeapMemoryUsage.getUsed
    System.gc()
    var prev = Long.MaxValue
    var rounds = 0
    while (rounds < 4 && prev - heap > (1L << 20)) {
      prev = heap
      Thread.sleep(200)
      System.gc()
      rounds += 1
    }
    (heap + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** Minimal JSON rendering for the result lines and the span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ", ", "]")
}

object TaskMeter { val AuxGroup = "perfbench-aux" }

/** The aggregate listener that stays on in untraced runs: executor
  * task-seconds of every job outside the aux group (input generation
  * and output checks run in the aux group). `task_s` counts CPU
  * seconds: the ops' tasks last milliseconds, and their run time varied
  * by a quarter between runs of the same work with GC pauses and the
  * host's CPU steal, which CPU time leaves out. */
final class TaskMeter extends SparkListener {
  private val stageAux = TrieMap.empty[Int, Boolean]
  private val runMs = new java.util.concurrent.atomic.AtomicLong
  private val cpuNs = new java.util.concurrent.atomic.AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val aux = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .contains(TaskMeter.AuxGroup)
    e.stageIds.foreach(stageAux.put(_, aux))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (!stageAux.getOrElse(e.stageId, false) && e.taskMetrics != null) {
      runMs.addAndGet(e.taskMetrics.executorRunTime)
      cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
    }

  def reset(): Unit = { runMs.set(0L); cpuNs.set(0L) }
  /** Executor CPU seconds of the tasks. */
  def taskSeconds: Double = cpuNs.get / 1e9
  /** Executor run (wall) seconds of the tasks: CPU time plus the time a
    * task waits, for GC pauses, locks and a CPU of a shared host. */
  def taskRunSeconds: Double = runMs.get / 1000.0
}

/** Order-independent checksum of a table keyed by dense ids: per key
  * the CRC32 of its row string, summed; a re-put key replaces its old
  * contribution. */
final class Truth {
  private var crcs = Array.fill(1 << 16)(-1L)
  private var n = 0L
  var sum = 0L
  def count: Long = n
  def put(key: Long, row: String): Unit = {
    val k = key.toInt
    if (k >= crcs.length) {
      val grown = Array.fill(math.max(crcs.length * 2, k + 1))(-1L)
      System.arraycopy(crcs, 0, grown, 0, crcs.length)
      crcs = grown
    }
    val c = Truth.crc(row)
    if (crcs(k) >= 0) sum -= crcs(k) else n += 1
    crcs(k) = c
    sum += c
  }

  /** Whether a keyed table read back from disk holds exactly the truth:
    * same row count, same sum of CRC32s of the `fields` joined by `|`.
    * With `perturb`, column `bump` of the smallest id is changed first. */
  def matches(table: DataFrame, fields: Seq[Column], bump: String,
              perturb: Boolean, what: String): Boolean = {
    val df =
      if (!perturb) table
      else table.withColumn(bump, F.when(F.col("id") ===
        table.agg(F.min("id")).head().getLong(0), F.col(bump) + 1).otherwise(F.col(bump)))
    val r = df.select(F.count(F.lit(1)),
      F.sum(F.crc32(F.concat_ws("|", fields: _*).cast("binary")))).head()
    val ok = r.getLong(0) == count && r.getLong(1) == sum
    if (!ok) System.err.println(s"[perfbench] $what has ${r.getLong(0)} rows / " +
      s"checksum ${r.getLong(1)}, expected $count / $sum")
    ok
  }
}

object Truth {
  def crc(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes("UTF-8"))
    c.getValue
  }
}
