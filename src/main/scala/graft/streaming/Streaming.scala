package graft.streaming

import graft.engine.{Engine, EtlContext}
import graft.spec.{ComponentSpec, PipelineSpec}
import graft.stages.Iterate
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Structured Streaming extension (SURVEY.md §2.7: the reference is
  * strictly batch — bounded Readers, no watermarks — so this is an
  * EXTENSION of the surface, not parity).
  *
  * Design: the batch transformers are `DataFrame => DataFrame`, and most
  * are stream-safe as-is (field/rename/json/flow-skip/csv/textstats/
  * langid/fingerprint/mm_*…), so a streaming pipeline compiles through
  * the SAME runner and registry as a batch one
  * ([[graft.engine.Engine.compile]]) — `readStream` in, `writeStream`
  * out. The streaming-specific stages, registered in
  * [[graft.engine.Engine.transformers]] like every other:
  *  - `window_agg`: event-time windowed aggregation with a watermark;
  *  - `sessionize`: gap-based sessions via `flatMapGroupsWithState`
  *    (custom state — the operator Spark's built-ins can't express);
  *  - `stream_dedup`: exact dedup with watermark-bounded state;
  *  - `stream_join`: stream-stream equi-join over an event-time band
  *    (watermarks + the band condition bound the join state store).
  */
object Streaming {

  /** Build a streaming scan: `{"stream": {"path", "format", "schema"}}`.
    * `schema` is required (streaming sources don't infer). */
  /** File-backed stream formats whose `pathGlobFilter` we can pre-check. */
  private val fileFormats = Set("parquet", "json", "csv", "text", "orc", "avro")

  /** A `pathGlobFilter` that matches NOTHING yields a perfectly healthy
    * 0-row stream — under Trigger.AvailableNow that is a "successful"
    * empty result, which is how a red query once shipped without an
    * error (round 8: `stream_sessions` 0 rows, err: null). An empty
    * WATCHED directory is a legitimate wait-for-files pattern, but a
    * glob over existing files that selects none of them is a config
    * typo — fail it at build time. */
  private def requireGlobMatches(ctx: EtlContext, path: String, glob: String,
                                 recursive: Boolean): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root))
      sys.error(s"stream source: path '$path' does not exist")
    val filter = new org.apache.hadoop.fs.GlobFilter(glob)
    // List the SAME set of files the source will read (verified
    // empirically on this Spark): top-level files plus files under
    // `key=value` PARTITION directories; other nested directories are
    // invisible unless recursiveFileLookup=true. A recursive pre-check
    // in non-recursive mode would bless a glob that only matches nested
    // files — exactly the silent-0-row case this guards against.
    // Stop at the first hit so the pre-check never pays a full listing.
    // A directory with NO visible files stays valid — that is the
    // wait-for-files landing-dir pattern; the config typo this guards
    // against is a glob that selects none of the files the source DOES see.
    var matched = false
    var sawFile = false
    def scan(dir: org.apache.hadoop.fs.Path): Unit = {
      val entries = fs.listStatus(dir)
      var i = 0
      while (!matched && i < entries.length) {
        val e = entries(i)
        if (e.isFile) {
          sawFile = true
          matched = filter.accept(e.getPath)
        } else if (recursive || e.getPath.getName.contains("="))
          scan(e.getPath)
        i += 1
      }
    }
    scan(root)
    if (!matched && sawFile)
      sys.error(s"stream source: pathGlobFilter '$glob' matches no file " +
        s"under '$path' — a 0-row stream would look like a successful " +
        "query; fix the glob (or drop it to watch the directory)")
    if (!matched && !sawFile && !recursive) {
      // no file the source can see — but if the glob WOULD match a file
      // in a non-partition subdirectory, the user almost certainly meant
      // to read those: fail with the option that makes them visible
      val it = fs.listFiles(root, true)
      var nestedHit = false
      while (!nestedHit && it.hasNext) nestedHit = filter.accept(it.next().getPath)
      if (nestedHit)
        sys.error(s"stream source: pathGlobFilter '$glob' matches only " +
          s"files in nested directories under '$path', which the file " +
          "stream source does not read — set recursiveFileLookup=true " +
          "(or point `path` at the subdirectory)")
    }
  }

  def readStream(ctx: EtlContext, spec: ComponentSpec): DataFrame = {
    val path = spec.str("path").getOrElse(sys.error("stream source: path required"))
    val format = spec.strOr("format", "parquet")
    if (fileFormats(format)) {
      val recursive = spec.str("recursiveFileLookup").exists(_.equalsIgnoreCase("true"))
      spec.str("pathGlobFilter").foreach(requireGlobMatches(ctx, path, _, recursive))
    }
    val r = ctx.spark.readStream.format(format)
    val withSchema = spec.str("schema") match {
      case Some(ddl) => r.schema(StructType.fromDDL(ddl))
      case None => r
    }
    // remaining string options pass through to the source (e.g.
    // maxFilesPerTrigger, pathGlobFilter — file sources take a
    // DIRECTORY; a single-file input is selected with a glob filter)
    val handled = Set("path", "format", "schema", "shufflePartitions")
    spec.options.foldLeft(withSchema) {
      case (w, (k, v: String)) if !handled(k) => w.option(k, v)
      case (w, (k, v: Int)) if !handled(k) => w.option(k, v.toString)
      case (w, _) => w
    }.load(path)
  }

  /** The stream-only stages' one guard: their watermark and state
    * contract has no meaning on a bounded frame (a watermark is a no-op
    * there), so a batch input fails by name. */
  private def requireStream(stage: String, df: DataFrame): Unit =
    if (!df.isStreaming) sys.error(s"$stage: stream-only stage, but its input is a " +
      "batch frame — read a `stream` source and run the pipeline with Streaming.run")

  /** `window_agg`: watermarked event-time windowed aggregation.
    * Options: `tsField`, `watermark` ("10 minutes"), `window`
    * ("5 minutes"), optional `slide`, `groupBy` (extra keys), `aggs`
    * (["count", "sum:value", "avg:value", …]). Output: window start/end +
    * keys + aggregates. */
  def windowAgg(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame = { df =>
    requireStream("window_agg", df)
    val ts = spec.strOr("tsField", "ts")
    val wm = spec.strOr("watermark", "10 minutes")
    val win = spec.strOr("window", "5 minutes")
    val slide = spec.strOr("slide", win)
    val keys = spec.strList("groupBy").map(col)
    val aggs = spec.strList("aggs") match {
      case Nil => Seq(count(lit(1)).as("n"))
      case specs => specs.map { a =>
        a.split(":") match {
          case Array("count") => count(lit(1)).as("n")
          case Array("sum", f) => sum(col(f)).as(s"sum_$f")
          case Array("avg", f) => avg(col(f)).as(s"avg_$f")
          case Array("min", f) => min(col(f)).as(s"min_$f")
          case Array("max", f) => max(col(f)).as(s"max_$f")
          // mergeable-sketch distinct estimate per window: the HLL
          // buffer IS the streaming state (a few KB per window/key),
          // where exact count-distinct would buffer every value
          case Array("distinct_est", f) =>
            hll_sketch_estimate(hll_sketch_agg(col(f), lit(12)))
              .as(s"distinct_$f")
          case other => sys.error(s"window_agg: unknown agg ${other.mkString(":")}")
        }
      }
    }
    val agged = df.withWatermark(ts, wm)
      .groupBy(window(col(ts), win, slide) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
    agged.select(col("window.start").as("window_start") +:
      col("window.end").as("window_end") +:
      agged.columns.filter(_ != "window").map(col): _*)
  }

  /** Session output row for [[sessionize]]. */
  final case class Session(key: String, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long)
  final case class SessState(start: Long, last: Long, n: Long)
  final case class ThrottleKept(key: String, ts: java.sql.Timestamp,
                                tie: Long, window_start: java.sql.Timestamp)
  final case class ThrottleState(window: Long, n: Long)

  /** `sessionize`: gap-based session windows per key via
    * `flatMapGroupsWithState` — custom event-time state with timeout,
    * the canonical "built-ins can't express it" streaming operator.
    * Options: `keyField`, `tsField`, `gapMs` (session gap, default 30m).
    * Emits a session when the gap elapses (event-time timeout). */
  def sessionize(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame = { df =>
    val keyF = spec.strOr("keyField", "user_id")
    val tsF = spec.strOr("tsField", "ts")
    val gapMs = spec.long("gapMs").getOrElse(30L * 60 * 1000)
    // event-time timeout requires a watermark on the input stream
    val wm = spec.strOr("watermark", s"${math.max(gapMs / 1000, 1)} seconds")

    implicit val sessEnc = Encoders.product[Session]
    implicit val stateEnc = Encoders.product[SessState]
    implicit val tupleEnc =
      Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP)

    // the watermarked timestamp column must flow INTO the stateful
    // operator for event-time timeouts to be allowed
    val pairs = df.withColumn("__ts", col(tsF).cast("timestamp"))
      .withWatermark("__ts", wm)
      .select(col(keyF).cast("string"), col("__ts"))
      .as[(String, java.sql.Timestamp)](tupleEnc)

    // one key's events within ONE micro-batch buffer in memory to sort
    // (gap semantics needs event-time order; state across batches stays
    // constant-size). A pathological key in a single trigger is an
    // executor-memory risk — cap it LOUDLY instead of OOMing the task;
    // maxEventsPerKeyBatch <= 0 opts out for catch-up runs that accept
    // the memory exposure.
    val maxBuf = spec.long("maxEventsPerKeyBatch").getOrElse(1000000L) match {
      case n if n <= 0 => Long.MaxValue
      case n => n
    }

    def fn(key: String, events: Iterator[(String, java.sql.Timestamp)],
           state: GroupState[SessState]): Iterator[Session] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      events.foreach { e =>
        buf += e._2.getTime
        if (buf.length > maxBuf) sys.error(
          s"sessionize: key '$key' exceeded maxEventsPerKeyBatch=$maxBuf " +
          "in one micro-batch — lower the trigger interval, pre-filter " +
          "the key, or raise the cap explicitly")
      }
      val arr = buf.toArray
      java.util.Arrays.sort(arr)
      val sorted = arr
      var out = List.empty[Session]
      var st = state.getOption.orNull
      if (state.hasTimedOut) {
        if (st != null) out ::= Session(key,
          new java.sql.Timestamp(st.start), new java.sql.Timestamp(st.last), st.n)
        state.remove()
        st = null
      }
      for (t <- sorted) {
        if (st == null) st = SessState(t, t, 1)
        else if (t - st.last > gapMs) {
          out ::= Session(key,
            new java.sql.Timestamp(st.start), new java.sql.Timestamp(st.last), st.n)
          st = SessState(t, t, 1)
        } else st = SessState(st.start, t, st.n + 1)
      }
      if (st != null) {
        state.update(st)
        state.setTimeoutTimestamp(st.last + gapMs)
      }
      out.reverseIterator
    }

    pairs.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)
      .toDF()
  }

  /** `stream_dedup`: exact deduplication on a stream with state BOUNDED
    * by the watermark (`dropDuplicatesWithinWatermark`): a duplicate
    * arriving within the watermark delay of the first occurrence is
    * dropped, and state for keys older than the watermark is evicted —
    * so the operator runs indefinitely at constant state, the streaming
    * analogue of the batch `dedup` stage. Options: `keyFields`
    * (required), `tsField` (default ts), `watermark` (default
    * "10 minutes"), `keepColumns` (project to these columns — plus the
    * timestamp — BEFORE the stateful exchange; the dedup shuffle
    * otherwise carries every column of every row to the state
    * partitions, and Catalyst cannot prune columns through a sink that
    * materializes them). */
  def streamDedup(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame = { df =>
    requireStream("stream_dedup", df)
    val keys = spec.strList("keyFields")
    require(keys.nonEmpty, "stream_dedup: keyFields required")
    val ts = spec.strOr("tsField", "ts")
    val wm = spec.strOr("watermark", "10 minutes")
    val kept = spec.strList("keepColumns") match {
      case Nil => df
      // the key columns and the watermark column always ride along —
      // a keepColumns list omitting a key must not break the operator
      case cols => df.select((cols ++ keys :+ ts).distinct.map(col): _*)
    }
    kept.withWatermark(ts, wm).dropDuplicatesWithinWatermark(keys)
  }

  /** `stream_throttle`: per-key rate limiting — keep the FIRST
    * `maxPerWindow` events of each key inside every tumbling
    * `windowSec` window, drop the rest. The ingest-protection primitive
    * (a hot crawler key or misbehaving device must not flood the
    * pipeline) that `window_agg` can't express: it emits the surviving
    * EVENTS, not counts. Custom state via `flatMapGroupsWithState`:
    * one (window, count) pair per key — constant-size, evicted by
    * event-time timeout one window past the last activity.
    *
    * Determinism: within a micro-batch a key's events sort by
    * (event time, `tieField`), so "first N" is a total order, and under
    * `availableNow` (one batch) the result equals the batch
    * `row_number ≤ N` oracle exactly. Across batches the contract is
    * conservative: an event from a window OLDER than the key's current
    * one (a straggler beyond the state horizon) is DROPPED — a
    * rate limiter never re-admits the past. Output: (key, ts, tie,
    * window_start).
    *
    * Options: `keyField` (default user_id), `tsField` (default ts),
    * `tieField` (required — the total order under equal timestamps),
    * `maxPerWindow` (required), `windowSec` (default 60), `watermark`
    * (default 2× windowSec), `maxEventsPerKeyBatch` (default 1e6 —
    * same LOUD per-key batch-buffer cap as `sessionize`).
    *
    * Scale shape: ONE keyed exchange into the stateful operator; state
    * is one (long, long) per active key; the in-batch sort buffers one
    * key's batch slice (capped loud). */
  def streamThrottle(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame = { df =>
    requireStream("stream_throttle", df)
    val keyF = spec.strOr("keyField", "user_id")
    val tsF = spec.strOr("tsField", "ts")
    val tieF = spec.str("tieField").getOrElse(
      sys.error("stream_throttle: `tieField` required — first-N needs a total order"))
    val maxN = spec.long("maxPerWindow").getOrElse(
      sys.error("stream_throttle: `maxPerWindow` required"))
    require(maxN >= 1, s"stream_throttle: maxPerWindow must be >= 1, got $maxN")
    val winMs = spec.long("windowSec").getOrElse(60L) * 1000
    require(winMs >= 1000, "stream_throttle: windowSec must be >= 1")
    val wm = spec.strOr("watermark", s"${2 * winMs / 1000} seconds")
    val maxBuf = spec.long("maxEventsPerKeyBatch").getOrElse(1000000L) match {
      case n if n <= 0 => Long.MaxValue
      case n => n
    }
    implicit val outEnc = Encoders.product[ThrottleKept]
    implicit val stateEnc = Encoders.product[ThrottleState]
    // the event time rides TWICE: as a Timestamp (the watermark column
    // Spark requires inside the stateful operator) and as unix MICROS —
    // java.sql.Timestamp.getTime is millisecond-precision, and a
    // ms-truncated roundtrip would silently rewrite every emitted ts
    val quadEnc = Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP,
      Encoders.scalaLong, Encoders.scalaLong)
    val quads = df.withColumn("__ts", col(tsF).cast("timestamp"))
      .where(col("__ts").isNotNull && col(tieF).isNotNull)
      .withWatermark("__ts", wm)
      .select(col(keyF).cast("string"), col("__ts"),
        col(tieF).cast("long"), unix_micros(col("__ts")))
      .as[(String, java.sql.Timestamp, Long, Long)](quadEnc)
    val winUs = winMs * 1000

    def tsOfUs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
      t
    }

    def fn(key: String, events: Iterator[(String, java.sql.Timestamp, Long, Long)],
           state: GroupState[ThrottleState]): Iterator[ThrottleKept] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      events.foreach { e =>
        buf += ((e._4, e._3))
        if (buf.length > maxBuf) sys.error(
          s"stream_throttle: key '$key' exceeded maxEventsPerKeyBatch=" +
          s"$maxBuf in one micro-batch — pre-filter the key or raise the cap")
      }
      val sorted = buf.sortInPlace()(Ordering.Tuple2[Long, Long])
      var st = state.getOption.getOrElse(ThrottleState(Long.MinValue, 0L))
      val out = scala.collection.mutable.ArrayBuffer.empty[ThrottleKept]
      sorted.foreach { case (us, tie) =>
        val w = Math.floorDiv(us, winUs)
        if (w > st.window) st = ThrottleState(w, 0L)
        // w < st.window: straggler behind the state horizon — dropped
        if (w == st.window && st.n < maxN) {
          st = ThrottleState(st.window, st.n + 1)
          out += ThrottleKept(key, tsOfUs(us), tie, tsOfUs(st.window * winUs))
        }
      }
      if (st.window != Long.MinValue) {
        state.update(st)
        state.setTimeoutTimestamp(
          Math.floorDiv((st.window + 1) * winUs, 1000L) + winMs)
      }
      out.iterator
    }

    quads.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)
      .toDF()
  }

  /** `stream_join`: stream-STREAM equi-join with an event-time band —
    * the two-stream operator (the `code` sql stage already covers
    * stream-STATIC joins). The right side is its own stream source
    * spec; both sides carry watermarks and the join condition includes
    * the time band, which is exactly what Spark needs to BOUND the
    * join state store — rows older than watermark+band are evicted, so
    * the query runs indefinitely.
    *
    * Options:
    *  - `right` (required): nested stream source map (same options as
    *    the `stream` source: path/format/schema/pathGlobFilter/…).
    *  - `rightWhere` (optional): SQL predicate pre-filtering the right
    *    stream (pushed before the watermark/state).
    *  - `on` (required): comma-separated equi-key column(s).
    *  - `leftTime` (default `ts`) / `rightTime` (default = leftTime);
    *    the right time column is normalized via the sources.Tables
    *    encoding contract (idempotent for proper timestamps).
    *  - `before` / `after` (seconds, default 0/0): right time must lie
    *    in `[leftTime - before, leftTime + after]` (inclusive).
    *  - `watermark` (left, default "10 minutes") / `rightWatermark`
    *    (default = watermark).
    *  - `select` (required): right columns to attach, each `col` or
    *    `col:alias` — an explicit projection so only the state the
    *    query needs crosses the exchange into the store.
    *  - `joinType` (default `inner`; `left_outer`/`right_outer`/
    *    `full_outer` allowed — Spark emits the null-padded rows once
    *    the watermark proves no match can arrive; for the outer side's
    *    compare/debug cut, attach the right time via `select`
    *    (`ts:alias`) since the internal `__r_ts` state column drops).
    *
    * Scale shape: ONE keyed exchange per side into a streaming
    * symmetric hash join; state per key is bounded by the band ×
    * arrival rate (watermark eviction), and the pre-state projection
    * keeps stored rows narrow. */
  def streamJoin(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame = { df =>
    requireStream("stream_join", df)
    val rightMap = spec.options.get("right") match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case _ => sys.error("stream_join: `right` (nested stream source map) required")
    }
    val keys = spec.str("on").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .getOrElse(sys.error("stream_join: `on` (comma-separated key columns) required"))
    val lt = spec.strOr("leftTime", "ts")
    val rt = spec.strOr("rightTime", lt)
    val beforeMicros = (spec.str("before").map(_.toDouble).getOrElse(0.0) * 1e6).toLong
    val afterMicros = (spec.str("after").map(_.toDouble).getOrElse(0.0) * 1e6).toLong
    require(beforeMicros >= 0 && afterMicros >= 0,
      "stream_join: before/after must be non-negative seconds")
    val lwm = spec.strOr("watermark", "10 minutes")
    val rwm = spec.strOr("rightWatermark", lwm)
    val selPairs = spec.strList("select").map(_.split(":") match {
      case Array(c) => (c, c)
      case Array(c, a) => (c, a)
      case other => sys.error(s"stream_join: bad select entry '${other.mkString(":")}'")
    })
    require(selPairs.nonEmpty, "stream_join: `select` (right columns to attach) required")

    require(!rightMap.contains("shufflePartitions"),
      "stream_join: set `shufflePartitions` on the pipeline's top-level " +
      "stream source — the state-store partition count is per QUERY, " +
      "not per side, so it would be a silent no-op here")
    var right = readStream(ctx, ComponentSpec("stream", rightMap))
    spec.str("rightWhere").foreach(w => right = right.where(expr(w)))
    right = graft.sources.Tables.normalizeTs(right, rt)
    keys.foreach { k =>
      require(df.columns.contains(k), s"stream_join: left side lacks key column '$k'")
      require(right.columns.contains(k), s"stream_join: right side lacks key column '$k'")
    }
    require(df.columns.contains(lt), s"stream_join: left side lacks time column '$lt'")
    require(right.columns.contains(rt), s"stream_join: right side lacks time column '$rt'")
    selPairs.foreach { case (c, a) =>
      require(right.columns.contains(c), s"stream_join: right side lacks selected column '$c'")
      require(!df.columns.contains(a), s"stream_join: attached column '$a' " +
        "collides with a left column — alias it (`col:alias`)")
    }
    // project BEFORE the watermark/state, prefix right columns so the
    // join condition is unambiguous
    val rr = right.select(
      (keys.map(k => col(k).as(s"__r_$k")) :+ col(rt).as("__r_ts")) ++
        selPairs.map { case (c, a) => col(c).as(a) }: _*)
      .withWatermark("__r_ts", rwm)
    // normalize the LEFT time symmetrically (idempotent for proper
    // timestamps) — mixed encodings across the sides would otherwise
    // shift the band by the session zone offset or fail analysis
    val ll = graft.sources.Tables.normalizeTs(df, lt).withWatermark(lt, lwm)
    val cond = (keys.map(k => ll(k) === rr(s"__r_$k")) ++ Seq(
      rr("__r_ts") >= ll(lt) - expr(s"INTERVAL $beforeMicros MICROSECOND"),
      rr("__r_ts") <= ll(lt) + expr(s"INTERVAL $afterMicros MICROSECOND")))
      .reduce(_ && _)
    ll.join(rr, cond, spec.strOr("joinType", "inner"))
      .drop((keys.map(k => s"__r_$k") :+ "__r_ts"): _*)
  }

  /** Run a streaming pipeline spec: [[graft.engine.Engine.compile]] (the
    * batch runner's config variables, `let`/`console`/`code` begin
    * blocks, `onBegin`, `stream` source and transformers) plus
    * [[startSink]] for the `streamsink` loader. `end` blocks and `dryRun`
    * fail by name before anything runs: a started stream has no end
    * moment, and a dry run would still start the query. Returns the
    * started query; callers manage its lifecycle. */
  def run(ctx: EtlContext, spec: PipelineSpec): StreamingQuery = {
    val src = spec.source.getOrElse(sys.error("streaming: source required"))
    require(src.name == "stream", "streaming: source must be {stream: {...}}")
    val sink = spec.loader.getOrElse(sys.error("streaming: loader required"))
    require(sink.name == "streamsink", "streaming: loader must be {streamsink: {...}}")
    if (spec.end.nonEmpty) sys.error("streaming: `end` blocks are not supported " +
      "— a started stream has no end moment; run them after stopping the query")
    if (Engine.configFlag(spec, "dryRun")) sys.error("streaming: `dryRun` is not " +
      "supported — Streaming.run always starts the query and writes its sink")
    // `shufflePartitions` (stream source option): stateful operators
    // create one state store per shuffle partition, each paying its own
    // checkpoint commit per micro-batch — the partition count should
    // track STATE VOLUME, not the session's batch default (32 stores
    // for a few-hundred-k-row join state is mostly commit overhead; a
    // 100 TB deployment raises it instead). The conf is read at query
    // START and baked into the checkpoint, so set it just for the
    // build+start window and restore the session default after.
    // The set/start/restore window mutates the SHARED session conf:
    // two pipelines built concurrently on one session could bake each
    // other's partition count into their checkpoints. Serialize the
    // whole window on a per-session lock (start() clones the session
    // synchronously, so holding the lock through start is enough; the
    // running query is unaffected by the restore).
    confLockFor(ctx.spark).synchronized {
      val restoreConf = src.str("shufflePartitions").map { n =>
        val key = "spark.sql.shuffle.partitions"
        val prev = ctx.spark.conf.get(key)
        ctx.spark.conf.set(key, n)
        () => ctx.spark.conf.set(key, prev)
      }
      try {
        def start() = startSink(ctx, Engine.compile(ctx, spec, dryRun = false)(identity), sink)
        if (!Engine.configFlag(spec, "telemetry")) start()
        else withBatchTelemetry(ctx)(start())
      }
      finally restoreConf.foreach(_.apply())
    }
  }

  /** `config: {telemetry: true}` for streams: a query-scoped
    * StreamingQueryListener records one [[EtlContext.BatchStats]] row
    * per micro-batch (rows, rows/sec, batch ms — the reference's
    * periodic rows/sec dump, OETLProcessor.java:545-585, at batch
    * granularity) and prints the same line to stderr. The listener is
    * registered BEFORE the query starts so batch 0 can't race past it;
    * progress events block on a short latch until the started query's
    * id is known, then filter on it (other queries on the shared
    * session are untouched). Self-removes on query termination. */
  private def withBatchTelemetry(ctx: EtlContext)
                                (start: => StreamingQuery): StreamingQuery = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val idLatch = new java.util.concurrent.CountDownLatch(1)
    @volatile var qid: java.util.UUID = null
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        idLatch.await(10, java.util.concurrent.TimeUnit.SECONDS)
        val p = e.progress
        if (qid != null && p.id == qid) {
          ctx.addStreamStats(graft.engine.EtlContext.BatchStats(
            p.batchId, p.numInputRows, p.processedRowsPerSecond,
            p.batchDuration))
          System.err.println(
            f"[graft] stream batch ${p.batchId}: ${p.numInputRows} rows @ " +
            f"${p.processedRowsPerSecond}%.0f rows/s (${p.batchDuration} ms)")
        }
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
        idLatch.await(10, java.util.concurrent.TimeUnit.SECONDS)
        if (qid != null && e.id == qid) ctx.spark.streams.removeListener(this)
      }
    }
    ctx.spark.streams.addListener(listener)
    try {
      val q = start
      qid = q.id; idLatch.countDown()
      q
    } catch { case t: Throwable =>
      idLatch.countDown()
      ctx.spark.streams.removeListener(listener)
      throw t
    }
  }

  /** One lock object per SparkSession for the conf set/start/restore
    * window above; weak keys so dropped sessions don't pin entries. */
  private val confLocks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, Object]())
  private def confLockFor(s: org.apache.spark.sql.SparkSession): Object =
    confLocks.synchronized {
      val cur = confLocks.get(s)
      if (cur != null) cur
      else { val o = new Object; confLocks.put(s, o); o }
    }

  /** Start the `streamsink` writer: memory (named table), parquet dir,
    * console, or `upsert` (continuous MERGE: each micro-batch is applied
    * through the batch upsert writer — with `buckets: n`, the
    * bucketed layout that reads and rewrites only the buckets the batch
    * touches, so per-batch cost scales with the DELTA, not the table;
    * the streaming CDC-merge shape). The upsert sink materializes each
    * micro-batch once — one eager local checkpoint that counts its rows
    * on the same job — and the merge reads only that checkpoint, so the
    * stateful operators upstream run once per batch; an empty batch
    * stops there, and the blocks are freed when the batch ends. A
    * watermark-respecting checkpoint dir is required for durable sinks.
    * `trigger`: `"availableNow"` (process everything currently
    * available, then stop — the batch-over-stream mode), `"once"`, or a
    * processing-time interval like `"5 seconds"` (default: micro-batches
    * as fast as they arrive). */
  def startSink(ctx: EtlContext, df: DataFrame, spec: ComponentSpec): StreamingQuery = {
    import org.apache.spark.sql.streaming.Trigger
    val mode = spec.strOr("outputMode", "append")
    def triggered[W](w: org.apache.spark.sql.streaming.DataStreamWriter[W]) =
      spec.str("trigger") match {
        case Some("availableNow") => w.trigger(Trigger.AvailableNow())
        case Some("once") => w.trigger(Trigger.Once())
        case Some(interval) => w.trigger(Trigger.ProcessingTime(interval))
        case None => w
      }
    // r19 (optimization round, guide §1.1/§5): ephemeral sinks
    // (memory/console) otherwise get Spark's temporary checkpoint dir
    // under java.io.tmpdir — disk-backed ext4 here — and the
    // state-store commits (one delta file write per store instance per
    // partition per micro-batch; a stream-stream join keeps 4 store
    // instances) dominated the batch stages: measured 6.3 + 4.0 task-s
    // of almost pure non-CPU time on stream_join's two batches. A
    // TEMPORARY checkpoint is deleted on stop by contract — zero
    // durability is the existing semantics — so it might as well live
    // on the RAM disk. Durable sinks (parquet/upsert) still REQUIRE an
    // explicit user path; an explicit `checkpoint` on an ephemeral sink
    // also wins.
    def ephemeral[W](w: org.apache.spark.sql.streaming.DataStreamWriter[W]) =
      spec.str("checkpoint").orElse(ramCkptDir()) match {
        case Some(dir) => w.option("checkpointLocation", dir)
        case None => w
      }
    spec.strOr("format", "memory") match {
      case "memory" =>
        triggered(ephemeral(df.writeStream.format("memory")
          .queryName(spec.strOr("name", "stream_out"))
          .outputMode(mode))).start()
      case "parquet" =>
        triggered(df.writeStream.format("parquet")
          .option("path", spec.str("path").getOrElse(sys.error("streamsink: path required")))
          .option("checkpointLocation", spec.str("checkpoint")
            .getOrElse(sys.error("streamsink: checkpoint required for parquet")))
          .outputMode(mode)).start()
      case "console" =>
        triggered(ephemeral(
          df.writeStream.format("console").outputMode(mode))).start()
      case "upsert" =>
        spec.str("path").getOrElse(sys.error("streamsink: upsert requires path"))
        spec.str("key").getOrElse(sys.error("streamsink: upsert requires key"))
        // scd2 is a batch-load contract: it applies ONE config-level
        // version per load, so a value changing across micro-batches
        // would raise the out-of-order error mid-stream inside a task.
        // Reject at config time instead of failing late.
        require(!spec.options.contains("scd2"),
          "streamsink: scd2 history merge is batch-load only — a stream " +
            "re-applies one config-level `version` per micro-batch; run " +
            "scd2 from a batch `parquet` loader per versioned delta")
        // exactly-once against replays: the upsert is idempotent per key
        // (a replayed micro-batch re-asserts the same rows), so a
        // checkpoint restart cannot duplicate data
        triggered(df.writeStream
          .option("checkpointLocation", spec.str("checkpoint")
            .getOrElse(sys.error("streamsink: checkpoint required for upsert")))
          .outputMode(mode)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            // `batch` is an uncached plan over the stream's stateful
            // operators: each action on it would run them again
            val (rows, n) = Iterate.counted(Iterate.localCheckpoint, batch)
            try if (n > 0) graft.loaders.Loaders.upsertDelta(ctx, spec, rows): Unit
            finally Iterate.release(rows)
          }).start()
      case other => sys.error(s"streamsink: unknown format $other")
    }
  }

  /** A fresh RAM-backed throwaway checkpoint dir for one ephemeral
    * query, or None when no RAM disk is usable (Spark then falls back
    * to its own temp dir — behavior unchanged). All dirs live under one
    * per-process base that a JVM shutdown hook removes, so repeated
    * runs cannot accumulate tmpfs state and no state survives a process
    * (nothing is ever reused across runs). `SPARK_GRAFT_STREAM_CKPT`
    * overrides the base (empty = disable). */
  private val ramCkptCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  private lazy val ramCkptBase: Option[java.io.File] = {
    val base = sys.env.get("SPARK_GRAFT_STREAM_CKPT") match {
      case Some("") => None
      case Some(p) => Some(p)
      case None =>
        Some("/dev/shm").filter(p => { val f = new java.io.File(p)
          f.isDirectory && f.canWrite })
    }
    base.map { b =>
      val d = new java.io.File(b,
        s"graft-stream-ckpt-${java.lang.ProcessHandle.current().pid()}")
      d.mkdirs()
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(d)
      }))
      d
    }
  }
  private def ramCkptDir(): Option[String] =
    ramCkptBase.map(d =>
      new java.io.File(d, s"q${ramCkptCounter.incrementAndGet()}").toString)
}
