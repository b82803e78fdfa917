package graft.engine

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.util.LongAccumulator
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** Run-scoped context for one pipeline execution.
  *
  * Mirrors the reference's `OBasicCommandContext` threaded through all
  * components (OETLProcessor.java:61, OAbstractETLComponent.java:420-432)
  * — but driver-side and immutable-per-plan: variables that depend on the
  * row compile to Columns; everything else is resolved at plan-build time
  * (SURVEY.md §7.5 "mutable context during the run").
  */
final class EtlContext(val spark: SparkSession) {
  /** Driver-side variables: `let` blocks, CLI `-NAME=value` args
    * (OETLProcessor.java:214-219), `output:` captures. */
  val vars = TrieMap.empty[String, Any]

  /** Named tables visible to `lookup`/`command` SQL — the Spark analogue
    * of the reference's target-database classes. */
  val tables = TrieMap.empty[String, DataFrame]

  /** `output:` captured DataFrames (OAbstractTransformer.java:63-75). */
  val captured = TrieMap.empty[String, DataFrame]

  /** Graph accumulation for vertex/edge transformers: the two-DataFrame
    * property-graph contract (SURVEY.md §1.3). */
  var vertices: Option[DataFrame] = None
  var edges: Option[DataFrame] = None

  /** Stats parity with OETLProcessorStats (OETLProcessor.java:75-89):
    * distributed counters, safe to bump from executors. */
  val warnings: LongAccumulator = spark.sparkContext.longAccumulator("graft.warnings")
  val errors: LongAccumulator = spark.sparkContext.longAccumulator("graft.errors")

  /** Deferred plan-metric checks — the single-pass alternative to eager
    * probe jobs. A stage that needs a data-dependent policy decision
    * (flow `halt`, lookup HALT/WARNING/ERROR — OFlowTransformer.java:
    * 56-61, OAbstractLookupTransformer.java:44-46) attaches an `observe`
    * metric to its plan and registers the check here; the metric is
    * collected for free during the pipeline's terminal action (one pass —
    * no separate probe job over the upstream), then [[drainChecks]] raises
    * halts / bumps the warning/error counters.
    *
    * Trade-off vs the reference, documented: the reference halts
    * mid-stream after some records were already loaded (OETLPipeline.java:
    * 121-139 — partial effects are its semantics too); deferred mode
    * raises the halt after the batch action. Strict pre-load gating is
    * available per stage via `haltMode: "eager"` (one extra probe job).
    */
  final case class PendingCheck(obs: Observation, metric: String,
                                kind: String, msg: String)
  private val checks = ArrayBuffer.empty[PendingCheck]
  private var obsId = 0
  def newObservation(prefix: String): Observation = synchronized {
    obsId += 1; Observation(s"graft_${prefix}_$obsId")
  }
  def registerCheck(c: PendingCheck): Unit = synchronized { checks += c }

  /** Throughput stats of the last acted-on pipeline run (engine-level
    * telemetry — OETLProcessor.java:545-585 parity). */
  var lastStats: Option[EtlContext.RunStats] = None

  /** The last acted-on run's counters as a QUERYABLE one-row frame —
    * the per-run stats artifact completing the reference's listener
    * intent (OImporterListener.java:27-41 exposes the same counters to
    * callbacks the reference never wires; here they are data). Columns:
    * rows_extracted / rows_loaded (the telemetry observe pair),
    * warnings / errors (the deferred-check accumulators the link/csv
    * policies bump), elapsed_ms. Requires a completed run with
    * `config: {telemetry: true}` and an ACTING loader (parquet/output/
    * orientdb/… — the memory plan-handoff defers its action past the
    * engine), else fails loud naming both knobs. */
  def statsFrame(): org.apache.spark.sql.DataFrame = {
    val st = lastStats.getOrElse(sys.error(
      "statsFrame: no completed telemetry run on this context — set " +
      "config {\"telemetry\": true} and use an acting loader " +
      "(parquet/output/orientdb), not the memory plan-handoff"))
    import spark.implicits._
    // warnings/errors are the RUN's deltas recorded in RunStats, not
    // the live context-lifetime accumulators — a reused context must
    // not attribute an earlier run's counts to this one
    Seq((st.extracted, st.loaded, st.warnings, st.errors,
      st.elapsedMs)).toDF(
      "rows_extracted", "rows_loaded", "warnings", "errors", "elapsed_ms")
  }

  /** Per-micro-batch throughput rows of telemetry-enabled streaming
    * pipelines (the same rows/sec contract at batch granularity —
    * OETLProcessor.java:545-585's periodic dump maps to one row per
    * micro-batch, appended by the StreamingQueryListener
    * Streaming.run attaches when `config: {telemetry: true}`). */
  private val streamBatches = ArrayBuffer.empty[EtlContext.BatchStats]
  def addStreamStats(b: EtlContext.BatchStats): Unit =
    synchronized { streamBatches += b }
  def streamStats: Vector[EtlContext.BatchStats] =
    synchronized { streamBatches.toVector }

  /** True while Engine.run executes a `config: {dryRun: true}` pipeline:
    * side-effecting blocks (console/code — including the mid-pipeline
    * `block` transformer's) must not fire during the pre-flight. */
  var dryRun: Boolean = false

  /** Registered pipeline-lifecycle listeners (see [[EtlListener]]). */
  val listeners = ArrayBuffer.empty[EtlListener]
  def addListener(l: EtlListener): Unit = synchronized { listeners += l }
  private[engine] def fireListeners(f: EtlListener => Unit): Unit =
    listeners.toVector.foreach(f)

  /** Bounded read of one observed metric after an action (0 when the
    * action never touched the observed sub-plan). */
  def observedValue(obs: Observation, metric: String): Long = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    val metrics: Map[String, Any] =
      try Await.result(Future(obs.get)(ExecutionContext.global), 10.seconds)
      catch { case _: java.util.concurrent.TimeoutException => Map.empty }
    metrics.get(metric) match {
      case Some(v: Number) => v.longValue()
      case _ => 0L
    }
  }

  /** Drop registered checks WITHOUT evaluating them — the dryRun path:
    * no action ran, so their observations would only block and read 0,
    * and leaving them registered would poison the next real run on
    * this context. */
  def discardChecks(): Unit = synchronized { checks.clear() }

  /** Collect all observed metrics after an action ran on the final plan.
    * Throws [[EtlHaltException]] for any tripped halt check. */
  def drainChecks(): Unit = {
    val toDrain = synchronized { val c = checks.toVector; checks.clear(); c }
    var halt: Option[String] = None
    toDrain.foreach { c =>
      // `get` blocks until the action completes; the observe node is part
      // of the acted-on plan so metrics are already available. The bounded
      // wait (observedValue) guards the edge case of a stage whose
      // sub-plan the final action never executed (result replaced
      // mid-pipeline) — treated as zero observations.
      val n = observedValue(c.obs, c.metric)
      c.kind match {
        case "log" => System.err.println(s"${c.msg}: $n rows")
        case "halt" if n > 0 => halt = halt.orElse(Some(s"${c.msg} ($n rows)"))
        case "warning" if n > 0 =>
          warnings.add(n); System.err.println(s"${c.msg}: $n")
        case "error" if n > 0 =>
          errors.add(n); System.err.println(s"${c.msg}: $n")
        case _ => ()
      }
    }
    halt.foreach(m => throw new EtlHaltException(m))
  }

  /** Run-scoped persisted frames (Gremlin keyed-by-tid correlation
    * frames and any other stage-internal `.persist()` whose lifetime is
    * one pipeline). CacheManager entries are keyed by logical plan and
    * never GC-reclaimed, so without explicit release a long session
    * running many traversals accumulates cached plans — and a later
    * identical plan fragment could be served stale cached bytes after
    * the underlying files were rewritten. Engine.run releases these
    * after an acted-on pipeline completes; plan-handoff pipelines
    * (memory loader — no action here) hand them to the bounded
    * session-level registry in [[EtlContext.adoptSessionPersisted]]. */
  private val persistedFrames = ArrayBuffer.empty[DataFrame]
  def registerPersisted(df: DataFrame): Unit =
    synchronized { persistedFrames += df }
  private[engine] def drainPersisted(): Vector[DataFrame] =
    synchronized { val v = persistedFrames.toVector; persistedFrames.clear(); v }
  /** Unpersist every run-scoped frame (non-blocking — correctness never
    * depends on the cache: keyed frames are re-evaluation-stable by
    * construction, the persist is purely a shared-read optimization). */
  def releaseCache(): Unit = drainPersisted().foreach(_.unpersist(false))

  def varMap: Map[String, Any] = vars.toMap

  def registerTable(name: String, df: DataFrame): Unit = {
    tables.put(name, df)
    // r19 optimization: the catalog call is skipped when the session's
    // view for this name is ALREADY this exact DataFrame — Verify/Bench
    // build a fresh context per query and re-register the same 10
    // plan-cached fixture frames every time (~6 ms of analyzer work per
    // view, ~60 ms per query of pure driver latency). The memo tracks
    // every registerTable, and console/code blocks (the only paths that
    // can mutate the catalog behind the engine's back) invalidate it.
    if (!EtlContext.viewCurrent(spark, name, df)) {
      df.createOrReplaceTempView(name)
      EtlContext.noteView(spark, name, df)
    }
  }

  def table(name: String): DataFrame =
    tables.getOrElse(name, spark.table(name))

  /** Resolve a table-name-or-SELECT option (the `against`/`lookup`
    * convention shared by decontaminate/crossdedup): a string starting
    * with the SQL keyword SELECT or WITH (as a whole word — a table
    * legitimately named `selections` or `with_holding` is NOT SQL) runs
    * as SQL; anything else is a table name. */
  private val SqlHead = "(?i)^(select|with)\\b".r
  def tableOrSql(ref: String): DataFrame =
    if (SqlHead.findFirstIn(ref.trim).isDefined) spark.sql(ref)
    else table(ref)

  def addVertices(df: DataFrame): Unit =
    vertices = Some(vertices.map(v => unionByNameLoose(v, df)).getOrElse(df))
  def addEdges(df: DataFrame): Unit =
    edges = Some(edges.map(e => unionByNameLoose(e, df)).getOrElse(df))

  private def unionByNameLoose(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b, allowMissingColumns = true)
}

object EtlContext {
  /** Session-level identity memo of temp-view registrations (see
    * [[EtlContext.registerTable]]): name → the exact DataFrame whose
    * plan the session catalog currently holds under that name. LRU-
    * bounded like Tables.planCache (a Dataset strongly references its
    * session, so weak keys would never collect). */
  private val sessionViews = new java.util.LinkedHashMap[
      org.apache.spark.sql.SparkSession,
      scala.collection.concurrent.TrieMap[String, DataFrame]](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[org.apache.spark.sql.SparkSession,
          scala.collection.concurrent.TrieMap[String, DataFrame]]): Boolean =
      size > 8
  }
  private def viewCurrent(spark: org.apache.spark.sql.SparkSession,
                          name: String, df: DataFrame): Boolean =
    sessionViews.synchronized { Option(sessionViews.get(spark)) }
      .exists(_.get(name).exists(_ eq df))
  private def noteView(spark: org.apache.spark.sql.SparkSession,
                       name: String, df: DataFrame): Unit = {
    val m = sessionViews.synchronized {
      var v = sessionViews.get(spark)
      if (v == null) {
        v = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
        sessionViews.put(spark, v)
      }
      v
    }
    m.put(name, df)
  }
  /** Forget every memoized view registration for a session — called
    * before console SQL scripts and driver code hooks, which can create
    * or drop views the memo cannot see. */
  def invalidateSessionViews(spark: org.apache.spark.sql.SparkSession): Unit =
    sessionViews.synchronized { sessionViews.remove(spark) }

  /** Extract/load row counts + wall time of one acted-on pipeline run,
    * plus that run's OWN warning/error counter deltas (the accumulators
    * are context-lifetime; a reused context must not attribute an
    * earlier run's warnings to the current one — r18 review). */
  final case class RunStats(extracted: Long, loaded: Long, elapsedMs: Long,
                            warnings: Long = 0L, errors: Long = 0L)

  /** One micro-batch of a telemetry-enabled streaming pipeline. */
  final case class BatchStats(batchId: Long, inputRows: Long,
                              rowsPerSec: Double, batchDurationMs: Long)

  /** Session-level bounded FIFO of persisted frames whose pipeline ended
    * WITHOUT an action (memory-loader plan handoff: the terminal action
    * happens later, outside the engine, so unpersisting at Engine.run
    * end would drop the shared-read benefit the persist exists for).
    * The cap bounds cache accumulation across a long session running
    * many traversals: once full, the oldest frame — whose consuming
    * action has long since run — is evicted. CacheManager dedups
    * identical plans, so re-running the same query does not grow the
    * live cache, only this bookkeeping, which the cap also bounds. */
  private val sessionPersisted = new java.util.ArrayDeque[DataFrame]
  private val SessionCacheCap = 16
  def adoptSessionPersisted(dfs: Seq[DataFrame]): Unit = synchronized {
    dfs.foreach(sessionPersisted.addLast)
    while (sessionPersisted.size > SessionCacheCap)
      sessionPersisted.removeFirst().unpersist(false)
  }
  /** Evict every session-adopted frame now (e.g. after the backing
    * files of a fixture directory were rewritten mid-session). */
  def clearSessionCache(): Unit = synchronized {
    while (!sessionPersisted.isEmpty)
      sessionPersisted.removeFirst().unpersist(false)
  }

  /** Session-level bounded FIFO of BROADCAST variables created at
    * stage-build (bloomjoin's large-sketch carrier): the returned plan
    * may execute well after Engine.run ends (memory handoff, a driver
    * counting the acted frame again), so run-scoped destroy is unsafe —
    * but never destroying leaks up to maxSketchBytes per invocation for
    * the application lifetime (r18 review). Same contract as
    * [[adoptSessionPersisted]]: once the FIFO is full, the oldest
    * broadcast — whose consuming action has long since run — is
    * UNPERSISTED, not destroyed: unpersist(false) frees the executor
    * copies but keeps the driver value, so a still-unexecuted plan
    * referencing the broadcast (a memory-handoff plan re-run after many
    * later sketch builds) re-ships it lazily instead of dying with an
    * opaque "Attempted to use Broadcast after it was destroyed"
    * (r18 advice). The executor memory bound is unchanged; the driver
    * retains at most the values still queued plus evicted ones until
    * their plans are GC'd — the same lifetime a plain `broadcast(df)`
    * join has. */
  private val sessionBroadcasts =
    new java.util.ArrayDeque[org.apache.spark.broadcast.Broadcast[_]]
  private val SessionBroadcastCap = 8
  def adoptSessionBroadcast(b: org.apache.spark.broadcast.Broadcast[_]): Unit =
    synchronized {
      sessionBroadcasts.addLast(b)
      while (sessionBroadcasts.size > SessionBroadcastCap)
        sessionBroadcasts.removeFirst().unpersist(false)
    }
  /** Visible for specs. */
  private[graft] def sessionBroadcastCount: Int =
    synchronized(sessionBroadcasts.size)
  /** Visible for specs. */
  private[graft] def sessionCacheSize: Int =
    synchronized(sessionPersisted.size)
}

/** Pipeline-lifecycle listener — the Spark mapping of the reference's
  * listener surface (listener/OImporterListener.java:27-41,
  * OScriptImporterListener.java:30-99): the reference's per-record
  * callbacks (onBeforeLine/onAfterLine) are the RBAR shape the
  * declarative engine removes, so the hooks fire at PHASE granularity —
  * begin (after config/begin blocks), loaded (after the loader's
  * terminal action, with [[EtlContext.RunStats]] when telemetry is on),
  * halt (a deferred `flow: halt` or lookup HALT tripped), end (after
  * `end` blocks). Per-record counting remains available through the
  * observe plumbing (`log` stages, csv errorStats) without a callback
  * per row. Register via [[EtlContext.addListener]]. A stream run
  * ([[graft.streaming.Streaming.run]]) fires `onBegin` only: the query
  * outlives the call, so there is no terminal action to report and no
  * end moment. */
trait EtlListener {
  def onBegin(ctx: EtlContext): Unit = ()
  def onLoaded(ctx: EtlContext, stats: Option[EtlContext.RunStats]): Unit = ()
  def onHalt(ctx: EtlContext, reason: String): Unit = ()
  def onEnd(ctx: EtlContext): Unit = ()
}

/** Pipeline abort requested by `flow: halt` / unresolvedLinkAction HALT —
  * parity with OETLProcessHaltedException (OETLPipeline.java:121-139). */
final class EtlHaltException(msg: String) extends RuntimeException(msg)
