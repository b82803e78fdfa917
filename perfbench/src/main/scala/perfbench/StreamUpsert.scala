package perfbench

import graft.engine.EtlContext
import graft.spec.PipelineSpec
import org.apache.spark.sql.functions.{col, unix_millis}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import scala.collection.mutable.ArrayBuffer

/** `stream_upsert`: an open loop. A generator lands one parquet event
  * file (written during set-up, renamed into the watched directory) on a
  * fixed schedule; a running `Streaming.run` pipeline deduplicates
  * re-sent events with a watermarked `stream_dedup` and applies each
  * micro-batch through the bucketed `upsert` stream sink. One op is one
  * file, timed from its scheduled landing to the commit of the
  * micro-batch that holds it (one file per micro-batch).
  *
  * Every file after the second re-sends a few events of the file two
  * before it whose keys the file in between updated — applying a re-sent
  * event would roll those keys back, so the final-state check catches a
  * dedup that lets them through. Truth: the generator applies every
  * landed file in order, skipping re-sent events. */
final class StreamUpsert(env: Env) extends Workload {
  private val smoke = env.args.smoke
  private val keys = if (smoke) 2000 else 5000
  private val perFile = if (smoke) 100 else 1000
  private val resend = perFile / 20
  private val intervalMs = 3000L
  private val warmFiles = 4
  private val buckets = 8
  private val rng = env.rng

  private val staging = env.path("staging")
  private val landing = env.path("landing")
  private val target = env.path("target")
  private val ckpt = env.path("checkpoint")

  /** Events of file k: (id, ev, v, ts ms); `resent` marks copies. */
  private final case class Ev(id: Long, ev: String, v: Long, ts: Long, resent: Boolean)
  private val files = ArrayBuffer.empty[Vector[Ev]]
  private val truth = new Truth
  private var query: StreamingQuery = _
  private var ctx: EtlContext = _

  // files committed so far, and file index → commit time (nanoTime)
  @volatile private var committed = 0
  private val commitNs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val progress = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val now = System.nanoTime
      e.progress.sources.headOption.map(_.endOffset).foreach { off =>
        val n = """"logOffset"\s*:\s*(\d+)""".r.findFirstMatchIn(off)
          .map(_.group(1).toInt + 1).getOrElse(0)
        (committed until n).foreach(k => commitNs.putIfAbsent(k, now))
        if (n > committed) committed = n
      }
    }
  }

  private def genFile(k: Int): Vector[Ev] = {
    val t0 = 1700000000000L + k * 1000L
    val re =
      if (k < 2) Vector.empty
      else {
        val between = files(k - 1).map(_.id).toSet
        files(k - 2).filter(e => !e.resent && between(e.id)).take(resend)
          .map(_.copy(resent = true))
      }
    val taken = scala.collection.mutable.HashSet.from(re.map(_.id))
    val fresh = ArrayBuffer.empty[Ev]
    // a tenth of the keys come from the previous file, so the next file
    // has keys to re-send that were updated in between
    val prev = if (k > 0) files(k - 1).filterNot(_.resent).map(_.id) else Vector.empty
    var j = 0
    while (fresh.size < perFile - re.size) {
      val id = if (prev.nonEmpty && rng.nextInt(10) == 0) prev(rng.nextInt(prev.size))
               else rng.nextLong(keys)
      if (taken.add(id)) {
        fresh += Ev(id, s"e$k-$j", rng.nextLong(1000000), t0 + j, resent = false)
        j += 1
      }
    }
    val all = (fresh ++ re).toVector
    // shuffle the re-sent copies in among the fresh events
    val arr = all.toArray
    for (i <- arr.length - 1 to 1 by -1) {
      val x = rng.nextInt(i + 1); val t = arr(i); arr(i) = arr(x); arr(x) = t
    }
    arr.toVector
  }

  private def apply(k: Int): Unit = files(k).filterNot(_.resent).foreach { e =>
    truth.put(e.id, s"${e.id}|${e.ev}|${e.v}|${e.ts}")
  }

  /** Rename file k into the watched directory (mtime = now, so a backlog
    * is read in landing order). */
  private def land(k: Int): Unit = {
    val dir = new java.io.File(staging, s"file=$k")
    val part = dir.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    part.setLastModified(System.currentTimeMillis())
    java.nio.file.Files.move(part.toPath, new java.io.File(landing, f"evt-$k%06d.parquet").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def landedBytes(k: Int): Long =
    new java.io.File(landing, f"evt-$k%06d.parquet").length

  private def awaitCommitted(n: Int, timeoutMs: Long): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (committed < n && System.currentTimeMillis() < end && query.isActive) Thread.sleep(5)
    committed >= n
  }

  private val pipeline =
    s"""{
      "source": {"stream": {"path": ${Json.str(landing)}, "format": "parquet",
                 "schema": "id BIGINT, ev STRING, v BIGINT, ts TIMESTAMP",
                 "maxFilesPerTrigger": "1"}},
      "transformers": [
        {"stream_dedup": {"keyFields": ["ev"], "tsField": "ts", "watermark": "1 hour"}}
      ],
      "loader": {"streamsink": {"format": "upsert", "path": ${Json.str(target)},
                 "key": "id", "buckets": $buckets, "checkpoint": ${Json.str(ckpt)}}}
    }"""

  private var planned = 0
  /** In a traced run half the files are traced: pairs of neighbouring
    * files, traced first and untraced first in turn, so drift within the
    * run does not bias the tracing overhead. */
  private def traced(slot: Int): Boolean =
    env.tracer.isDefined && (slot % 2 == 0) == ((slot / 2) % 2 == 0)
  private var firstDue = 0L

  def setup(): Unit = {
    planned = warmFiles + math.ceil(env.args.seconds * 1000 / intervalMs).toInt + 2
    (0 until planned).foreach(k => files += genFile(k))
    import env.spark.implicits._
    files.zipWithIndex.flatMap { case (evs, k) =>
      evs.map(e => (k, e.id, e.ev, e.v, new java.sql.Timestamp(e.ts))) }.toSeq
      .toDF("file", "id", "ev", "v", "ts")
      .repartition(col("file")).write.partitionBy("file").parquet(staging)
    new java.io.File(landing).mkdirs()
    env.spark.streams.addListener(progress)
    ctx = new EtlContext(env.spark)
    query = graft.streaming.Streaming.run(ctx, PipelineSpec.parse(pipeline))
    (0 until warmFiles).foreach { k =>
      land(k); apply(k)
      require(awaitCommitted(k + 1, 60000), "stream_upsert: warm-up file not committed")
    }
    require(checkTarget(), "stream_upsert: warm-up output check failed")
  }

  def measure(seconds: Double): Seq[Main.Op] = {
    val start = System.nanoTime
    firstDue = start
    val scheduled = ArrayBuffer.empty[Long]
    val late = ArrayBuffer.empty[Double]
    var k = warmFiles
    var slot = 0
    while (k < planned && slot * intervalMs < seconds * 1000) {
      val due = start + slot * intervalMs * 1000000L
      // a traced file keeps the hooks on until its micro-batch commits,
      // so its batch is counted even when it commits after the next due time
      if (slot > 0 && traced(slot - 1)) env.tracer.foreach { t =>
        awaitCommitted(k, 120000)
        t.endOp(slot - 1)
      }
      val wait = (due - System.nanoTime) / 1000000L
      if (wait > 0) Thread.sleep(wait)
      land(k)
      late += (System.nanoTime - due) / 1e6
      scheduled += due
      if (traced(slot)) env.tracer.foreach { t =>
        t.beginOp(slot)
        t.setDeltaBytes(landedBytes(k))
        t.rowsOut(files(k).count(!_.resent))
      }
      apply(k)
      k += 1; slot += 1
    }
    val backlog = k - committed
    val drained = awaitCommitted(k, 120000)
    env.tracer.foreach { t =>
      t.endOp(slot - 1)
      t.set("streaming.backlog_files_end", backlog.toDouble)
      t.set("streaming.generator_late_ms", Stats.median(late.toSeq))
    }
    val finalOk = drained && env.check(checkTarget())
    env.details += "files_landed" -> (k - warmFiles).toString
    env.details += "backlog_files_end" -> backlog.toString
    env.details += "generator_late_ms_p50" -> Json.num(Stats.median(late.toSeq))
    scheduled.zipWithIndex.map { case (due, s) =>
      val c = Option(commitNs.get(warmFiles + s))
      Main.Op(c.map(t => (t - due) / 1e9).getOrElse(120.0), perFile.toLong,
        ok = c.isDefined && finalOk, traced = traced(s),
        pair = s / 2)
    }.toSeq
  }

  /** Input rows of the committed files ÷ the window from the first
    * scheduled landing to the last commit, so a growing backlog shows. */
  override def rowsPerSecond(ops: Seq[Main.Op]): Double = {
    val commits = ops.indices.flatMap(s => Option(commitNs.get(warmFiles + s)))
    if (commits.isEmpty) 0.0
    else commits.size.toLong * perFile / math.max((commits.max - firstDue) / 1e9, 1e-9)
  }

  private def checkTarget(): Boolean =
    truth.matches(env.spark.read.parquet(target),
      Seq(col("id").cast("string"), col("ev"), col("v").cast("string"),
        unix_millis(col("ts")).cast("string")),
      bump = "v", env.perturb, "stream_upsert sink")

  override def close(): Unit = {
    if (query != null) query.stop()
    env.spark.streams.removeListener(progress)
  }
}
