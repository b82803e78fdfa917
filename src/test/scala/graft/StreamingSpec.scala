package graft

import graft.engine.{Engine, EtlContext, EtlListener}
import graft.spec.{ComponentSpec, PipelineSpec}
import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming extension: windowed agg with watermark, gap
  * sessionization via flatMapGroupsWithState, file-stream pipeline, and
  * stream configs through the batch runner's compile step. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("window_agg: 5-minute tumbling counts with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "event_type")
    val out = Streaming.windowAgg(ComponentSpec("window_agg", Map(
      "tsField" -> "ts", "watermark" -> "10 minutes", "window" -> "5 minutes",
      "groupBy" -> Seq("event_type"), "aggs" -> Seq("count"))), newCtx())(df)
    val q = out.writeStream.format("memory").queryName("wagg")
      .outputMode("append").start()
    try {
      mem.addData((ts(0), "a"), (ts(1), "a"), (ts(2), "b"), (ts(6), "a"))
      q.processAllAvailable()
      // advance watermark far enough to close the early windows
      mem.addData((ts(40), "a"))
      q.processAllAvailable()
      val rows = spark.table("wagg")
        .select(col("window_start"), col("event_type"), col("n"))
        .as[(Timestamp, String, Long)].collect().toSet
      assert(rows.contains((ts(0), "a", 2L)))
      assert(rows.contains((ts(0), "b", 1L)))
      assert(rows.contains((ts(5), "a", 1L)))
    } finally q.stop()
  }

  test("sessionize: gap-based sessions via flatMapGroupsWithState") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp)]
    val df = mem.toDF().toDF("user_id", "ts")
    val out = Streaming.sessionize(ComponentSpec("sessionize", Map(
      "keyField" -> "user_id", "tsField" -> "ts",
      "gapMs" -> (5 * 60 * 1000))), newCtx())(df)
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // u1: events at 10:00,10:02,10:04 (one session), then 10:20 (new one)
      mem.addData(("u1", ts(0)), ("u1", ts(2)), ("u1", ts(4)), ("u1", ts(20)))
      q.processAllAvailable()
      mem.addData(("u1", ts(55))) // push watermark to time out the sessions
      q.processAllAvailable()
      val sessions = spark.table("sess")
        .select("key", "session_start", "session_end", "n_events")
        .as[(String, Timestamp, Timestamp, Long)].collect().sortBy(_._2.getTime)
      assert(sessions.length >= 2)
      assert(sessions(0) == ("u1", ts(0), ts(4), 3L))
      assert(sessions(1) == ("u1", ts(20), ts(20), 1L))
    } finally q.stop()
  }

  test("file-stream pipeline: stream source + batch transformers + memory sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    // seed one parquet file shaped like the events table
    spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "event_type", "value")
      .limit(100).write.mode("overwrite").parquet(dir)
    val q = Streaming.run(newCtx(), PipelineSpec(
      config = Map.empty, begin = Nil,
      source = Some(ComponentSpec("stream", Map(
        "path" -> dir, "format" -> "parquet",
        "schema" -> "event_id BIGINT, event_type STRING, value DOUBLE"))),
      extractor = None,
      transformers = Seq(
        ComponentSpec("flow", Map("operation" -> "skip", "if" -> "value < 0")),
        ComponentSpec("field", Map("fieldName" -> "vv",
          "expression" -> "value + 1"))),
      loader = Some(ComponentSpec("streamsink", Map(
        "format" -> "memory", "name" -> "stream_events"))),
      end = Nil))
    try {
      q.processAllAvailable()
      val n = spark.table("stream_events").count()
      assert(n > 0 && n <= 100)
      assert(spark.table("stream_events").columns.contains("vv"))
    } finally q.stop()
  }

  test("stream_dedup: duplicates within the watermark are dropped, state bounded") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sdedup").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    // doc 1 duplicated twice within the watermark window, doc 2 once
    Seq((1L, at(0), "a"), (1L, at(5), "a-dup"), (2L, at(10), "b"),
      (1L, at(15), "a-dup2"), (3L, at(20), "c"))
      .toDF("doc_id", "ts", "text")
      .write.mode("overwrite").parquet(dir)
    val q = Streaming.run(newCtx(), PipelineSpec(
      config = Map.empty, begin = Nil,
      source = Some(ComponentSpec("stream", Map(
        "path" -> dir, "format" -> "parquet",
        "schema" -> "doc_id BIGINT, ts TIMESTAMP, text STRING"))),
      extractor = None,
      transformers = Seq(ComponentSpec("stream_dedup", Map(
        "keyFields" -> Seq("doc_id"), "tsField" -> "ts",
        "watermark" -> "1 minute"))),
      loader = Some(ComponentSpec("streamsink", Map(
        "format" -> "memory", "name" -> "stream_dedup_out"))),
      end = Nil))
    try {
      q.processAllAvailable()
      val ids = spark.table("stream_dedup_out")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"got $ids")
    } finally q.stop()
    // keepColumns omitting the key: the key and ts ride along anyway
    val q2 = Streaming.run(newCtx(), PipelineSpec(
      config = Map.empty, begin = Nil,
      source = Some(ComponentSpec("stream", Map(
        "path" -> dir, "format" -> "parquet",
        "schema" -> "doc_id BIGINT, ts TIMESTAMP, text STRING"))),
      extractor = None,
      transformers = Seq(ComponentSpec("stream_dedup", Map(
        "keyFields" -> Seq("doc_id"), "tsField" -> "ts",
        "watermark" -> "1 minute", "keepColumns" -> Seq("text")))),
      loader = Some(ComponentSpec("streamsink", Map(
        "format" -> "memory", "name" -> "stream_dedup_out2"))),
      end = Nil))
    try {
      q2.processAllAvailable()
      val out = spark.table("stream_dedup_out2")
      assert(out.columns.toSet == Set("text", "doc_id", "ts"))
      assert(out.count() == 3)
    } finally q2.stop()
  }

  test("stream_join: stream-stream band join equals the batch join; state bounded by watermark+band") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sjoin").toString
    def t(min: Int) = Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    // left: orders (key, ts); right: clicks (key, ts, cid)
    // two separate watched DIRECTORIES (a glob naming the parquet dir
    // would match nothing — pathGlobFilter applies to leaf file names,
    // which is exactly what the empty-glob guard protects against)
    Seq((1L, t(10), "o1"), (1L, t(30), "o2"), (2L, t(10), "o3"))
      .toDF("user_id", "ts", "oid")
      .write.mode("overwrite").parquet(s"$dir/left")
    Seq((1L, t(5), 100L), (1L, t(9), 101L), (1L, t(25), 102L), (2L, t(50), 103L))
      .toDF("user_id", "ts", "cid")
      .write.mode("overwrite").parquet(s"$dir/right")
    val ctx = newCtx()
    val leftStream = Streaming.readStream(ctx, ComponentSpec("stream", Map(
      "path" -> s"$dir/left", "format" -> "parquet",
      "schema" -> "user_id BIGINT, ts TIMESTAMP, oid STRING")))
    val joined = Streaming.streamJoin(ComponentSpec("stream_join", Map(
      "right" -> Map("path" -> s"$dir/right", "format" -> "parquet",
        "schema" -> "user_id BIGINT, ts TIMESTAMP, cid BIGINT"),
      "on" -> "user_id", "leftTime" -> "ts",
      "before" -> 600, "after" -> 0, "watermark" -> "10 minutes",
      "select" -> Seq("cid"))), ctx)(leftStream)
    val q = joined.writeStream.format("memory").queryName("sjoin")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val rows = spark.table("sjoin").select("oid", "cid")
        .as[(String, Long)].collect().toSet
      // o1@10: clicks in [10:00,10:10] for u1 → 100(10:05), 101(10:09);
      // o2@30: [10:20,10:30] → 102(10:25); o3(u2)@10: none (u2 click@50)
      assert(rows == Set(("o1", 100L), ("o1", 101L), ("o2", 102L)), rows.toString)
    } finally q.stop()
  }

  test("stream_join left_outer: unmatched left rows null-pad once the watermark passes the band") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sjoin_lo").toString
    def t(hm: String) = Timestamp.valueOf(s"2026-01-01 $hm:00")
    Seq((1L, t("10:10"), "o1"), (2L, t("10:10"), "o3"))
      .toDF("user_id", "ts", "oid")
      .write.mode("overwrite").parquet(s"$dir/left")
    Seq((1L, t("10:05"), 100L))
      .toDF("user_id", "ts", "cid")
      .write.mode("overwrite").parquet(s"$dir/right")
    val ctx = newCtx()
    val leftStream = Streaming.readStream(ctx, ComponentSpec("stream", Map(
      "path" -> s"$dir/left", "format" -> "parquet",
      "schema" -> "user_id BIGINT, ts TIMESTAMP, oid STRING")))
    val joined = Streaming.streamJoin(ComponentSpec("stream_join", Map(
      "right" -> Map("path" -> s"$dir/right", "format" -> "parquet",
        "schema" -> "user_id BIGINT, ts TIMESTAMP, cid BIGINT"),
      "on" -> "user_id", "leftTime" -> "ts",
      "before" -> 600, "after" -> 0, "watermark" -> "10 minutes",
      "joinType" -> "left_outer",
      "select" -> Seq("cid"))), ctx)(leftStream)
    val q = joined.writeStream.format("memory").queryName("sjoin_lo")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // u2's order has no click: its null row may only emit once the
      // GLOBAL watermark (min across both streams) passes its band —
      // late files on BOTH sides advance it
      Seq((9L, t("11:30"), "o9")).toDF("user_id", "ts", "oid")
        .write.mode("append").parquet(s"$dir/left")
      Seq((9L, t("11:30"), 900L)).toDF("user_id", "ts", "cid")
        .write.mode("append").parquet(s"$dir/right")
      q.processAllAvailable()
      // one more cycle so the advanced watermark's eviction pass runs
      Seq((9L, t("11:40"), "o9b")).toDF("user_id", "ts", "oid")
        .write.mode("append").parquet(s"$dir/left")
      Seq((9L, t("11:40"), 901L)).toDF("user_id", "ts", "cid")
        .write.mode("append").parquet(s"$dir/right")
      q.processAllAvailable()
      val rows = spark.table("sjoin_lo").select("oid", "cid")
        .as[(String, Option[Long])].collect().toSet
      assert(rows.contains(("o1", Some(100L))), rows.toString)
      assert(rows.contains(("o3", None)),
        s"unmatched left row must null-pad after watermark passage: $rows")
    } finally q.stop()
  }

  test("stream source: a pathGlobFilter matching zero files fails loud at build") {
    // FLAT layout: part files at the top level, where the source reads
    val dir = java.nio.file.Files.createTempDirectory("graft_emptyglob").toString
    spark.range(3).write.mode("overwrite").parquet(dir)
    // positive control: a matching glob builds fine
    Streaming.readStream(newCtx(), ComponentSpec("stream", Map(
      "path" -> dir, "format" -> "parquet",
      "pathGlobFilter" -> "*.parquet",
      "schema" -> "id BIGINT")))
    // a glob selecting none of the existing files is a config typo, not
    // an empty stream — round 8 shipped a 0-row "success" this way
    val e = intercept[RuntimeException] {
      Streaming.readStream(newCtx(), ComponentSpec("stream", Map(
        "path" -> dir, "format" -> "parquet",
        "pathGlobFilter" -> "events.parquet",
        "schema" -> "id BIGINT")))
    }
    assert(e.getMessage.contains("matches no file"), e.getMessage)
    val e2 = intercept[RuntimeException] {
      Streaming.readStream(newCtx(), ComponentSpec("stream", Map(
        "path" -> s"$dir/nope", "format" -> "parquet",
        "pathGlobFilter" -> "*.parquet", "schema" -> "id BIGINT")))
    }
    assert(e2.getMessage.contains("does not exist"), e2.getMessage)
    // an existing but EMPTY watched directory is the wait-for-files
    // landing-dir pattern — it must build, glob or not
    val empty = java.nio.file.Files.createTempDirectory("graft_emptydir").toString
    Streaming.readStream(newCtx(), ComponentSpec("stream", Map(
      "path" -> empty, "format" -> "parquet",
      "pathGlobFilter" -> "*.parquet", "schema" -> "id BIGINT")))
  }

  test("stream source glob guard matches the source's nested-file visibility") {
    // NESTED non-partition layout (dir/data.parquet/part-*): the file
    // stream source reads ZERO of these files without
    // recursiveFileLookup (verified empirically) — a glob that matches
    // them must fail with the recursiveFileLookup hint, not bless a
    // silent 0-row stream
    val dir = java.nio.file.Files.createTempDirectory("graft_nestedglob").toString
    spark.range(3).write.mode("overwrite").parquet(s"$dir/data.parquet")
    val e = intercept[RuntimeException] {
      Streaming.readStream(newCtx(), ComponentSpec("stream", Map(
        "path" -> dir, "format" -> "parquet",
        "pathGlobFilter" -> "*.parquet", "schema" -> "id BIGINT")))
    }
    assert(e.getMessage.contains("recursiveFileLookup"), e.getMessage)
    // with recursiveFileLookup=true the nested files ARE visible → ok
    Streaming.readStream(newCtx(), ComponentSpec("stream", Map(
      "path" -> dir, "format" -> "parquet", "recursiveFileLookup" -> "true",
      "pathGlobFilter" -> "*.parquet", "schema" -> "id BIGINT")))
    // key=value PARTITION subdirs are visible WITHOUT the option
    // (partition discovery) — a matching glob over them must build fine
    val pdir = java.nio.file.Files.createTempDirectory("graft_partglob").toString
    spark.range(3).write.mode("overwrite").parquet(s"$pdir/p=1")
    Streaming.readStream(newCtx(), ComponentSpec("stream", Map(
      "path" -> pdir, "format" -> "parquet",
      "pathGlobFilter" -> "*.parquet", "schema" -> "id BIGINT")))
    // ...and a glob matching none of the partition files fails loud
    val e2 = intercept[RuntimeException] {
      Streaming.readStream(newCtx(), ComponentSpec("stream", Map(
        "path" -> pdir, "format" -> "parquet",
        "pathGlobFilter" -> "events.parquet", "schema" -> "id BIGINT")))
    }
    assert(e2.getMessage.contains("matches no file"), e2.getMessage)
  }

  test("streaming upsert sink: micro-batch CDC merge rewrites only touched buckets; replay idempotent") {
    val base = java.nio.file.Files.createTempDirectory("graft_supsert").toString
    val target = s"$base/table"
    def run(srcDir: String, cp: String, path: String = target): Unit = {
      val q = Streaming.run(newCtx(), PipelineSpec(
        config = Map("out" -> base), begin = Nil,
        source = Some(ComponentSpec("stream", Map(
          "path" -> srcDir, "format" -> "parquet",
          "schema" -> "id BIGINT, v STRING"))),
        extractor = None, transformers = Nil,
        loader = Some(ComponentSpec("streamsink", Map(
          "format" -> "upsert", "path" -> path, "key" -> "id",
          "buckets" -> 8, "checkpoint" -> s"$base/$cp",
          "trigger" -> "availableNow"))),
        end = Nil))
      q.awaitTermination()
    }
    val baseDir = s"$base/ins"
    (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .write.mode("overwrite").parquet(baseDir)
    run(baseDir, "cp1")
    assert(new java.io.File(s"$target/_graft_buckets.json").exists,
      "streaming upsert must land in the bucketed layout")
    def dataFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(target)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified).toMap
    }
    val before = dataFiles()
    // one-key update delta through a SECOND stream
    val deltaDir = s"$base/delta"
    Seq((7L, "UPDATED")).toDF("id", "v").write.mode("overwrite").parquet(deltaDir)
    run(deltaDir, "cp2")
    val after = dataFiles()
    val touched = Seq(Tuple1(7L)).toDF("id")
      .select(pmod(hash(col("id")), lit(8))).head.getInt(0)
    assert(before.filter(!_._1.contains(s"__bucket=$touched")) ==
           after.filter(!_._1.contains(s"__bucket=$touched")),
      "a streamed delta must not rewrite buckets it does not touch")
    val out = spark.read.parquet(target).drop("__bucket")
      .as[(Long, String)].collect().toMap
    assert(out.size == 100 && out(7L) == "UPDATED" && out(8L) == "v8")
    // replay: re-processing the same delta from a FRESH checkpoint (as a
    // recovered job would) re-asserts the same rows — table unchanged
    run(deltaDir, "cp3")
    val replayed = spark.read.parquet(target).drop("__bucket")
      .as[(Long, String)].collect().toMap
    assert(replayed == out, "upsert replay must be idempotent")
    // the sink's path resolves config variables, as the batch loader's does
    run(deltaDir, "cp4", path = "$out/var_table")
    assert(new java.io.File(s"$base/var_table/_graft_buckets.json").exists,
      "a `$out` path must land under the variable's value")
    assert(spark.read.parquet(s"$base/var_table").drop("__bucket")
      .as[(Long, String)].collect().toSeq == Seq((7L, "UPDATED")))
  }

  test("streaming upsert sink: the stateful plan runs once per micro-batch") {
    val base = java.nio.file.Files.createTempDirectory("graft_sonce").toString
    val landing = s"$base/landing"
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00").getTime
    // three files, one micro-batch each: 20 fresh events apiece, and the
    // later two re-send five events of the first
    (0 until 3).foreach { k =>
      val fresh = (0 until 20).map(j => (k * 100L + j, s"e$k-$j", new Timestamp(t0 + k * 60000L + j)))
      val resent = if (k == 0) Nil else (0 until 5).map(j => (j.toLong, s"e0-$j", new Timestamp(t0 + j)))
      (fresh ++ resent).toDF("id", "ev", "ts").coalesce(1).write.parquet(s"$base/f$k")
      val part = new java.io.File(s"$base/f$k").listFiles().find(_.getName.endsWith(".parquet")).get
      val landed = new java.io.File(landing, s"evt-$k.parquet")
      landed.getParentFile.mkdirs()
      assert(part.renameTo(landed) && landed.setLastModified(t0 + k * 1000L))
    }
    val q = Streaming.run(newCtx(), PipelineSpec.parse(s"""{
      "source": {"stream": {"path": "$landing", "format": "parquet",
                 "schema": "id BIGINT, ev STRING, ts TIMESTAMP", "maxFilesPerTrigger": "1"}},
      "transformers": [{"stream_dedup": {"keyFields": ["ev"], "tsField": "ts", "watermark": "1 hour"}}],
      "loader": {"streamsink": {"format": "upsert", "path": "$base/table", "key": "id",
                 "buckets": 8, "checkpoint": "$base/cp", "trigger": "availableNow"}} }"""))
    q.awaitTermination()
    // the state after batch i holds the 20 × (i + 1) distinct events; a
    // batch whose stateful plan ran again per action reports a multiple
    val batches = q.recentProgress.filter(_.numInputRows > 0).toSeq
    assert(batches.map(_.stateOperators(0).numRowsTotal) == Seq(20L, 40L, 60L),
      batches.map(_.stateOperators(0).json).mkString("\n"))
    assert(spark.read.parquet(s"$base/table").count() == 60)
  }

  test("streaming upsert sink rejects scd2 at config time (batch-load-only contract)") {
    val base = java.nio.file.Files.createTempDirectory("graft_sscd2").toString
    (1L to 3L).map(i => (i, s"v$i")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$base/src")
    val e = intercept[Exception] {
      Streaming.run(newCtx(), PipelineSpec(
        config = Map.empty, begin = Nil,
        source = Some(ComponentSpec("stream", Map(
          "path" -> s"$base/src", "format" -> "parquet",
          "schema" -> "id BIGINT, v STRING"))),
        extractor = None, transformers = Nil,
        loader = Some(ComponentSpec("streamsink", Map(
          "format" -> "upsert", "path" -> s"$base/t", "key" -> "id",
          "scd2" -> Map("version" -> 1), "checkpoint" -> s"$base/cp",
          "trigger" -> "availableNow"))),
        end = Nil))
    }
    assert(e.getMessage.contains("batch-load only"), e.getMessage)
  }

  test("stream_throttle: first-N per key per window; ties by tieField; stragglers dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Long)]
    val df = mem.toDF().toDF("k", "ts", "eid")
    val out = Streaming.streamThrottle(ComponentSpec("stream_throttle", Map(
      "keyField" -> "k", "tsField" -> "ts", "tieField" -> "eid",
      "maxPerWindow" -> 2, "windowSec" -> 600)), newCtx())(df)
    val q = out.writeStream.format("memory").queryName("thr")
      .outputMode("append").start()
    try {
      // window [10:00,10:10): u1 sends 4 events — only the first 2 by
      // (ts, eid) survive; the 10:00 tie between eid 1 and 2 orders by eid
      mem.addData(("u1", ts(0), 2L), ("u1", ts(0), 1L),
        ("u1", ts(2), 3L), ("u1", ts(4), 4L),
        ("u2", ts(3), 9L))
      q.processAllAvailable()
      // next window: the counter resets; then a straggler from the first
      // window arrives AFTER the key advanced — dropped, never re-admitted
      mem.addData(("u1", ts(12), 5L), ("u1", ts(1), 6L))
      q.processAllAvailable()
      val kept = spark.table("thr").select("key", "tie")
        .as[(String, Long)].collect().toSet
      assert(kept == Set(("u1", 1L), ("u1", 2L), ("u2", 9L), ("u1", 5L)),
        kept.toString)
      // per-event window_start is the tumbling boundary
      val ws = spark.table("thr").where(col("tie") === 5L)
        .select("window_start").as[Timestamp].head()
      assert(ws == ts(10))
    } finally q.stop()
    // guards fail loud
    assert(intercept[Exception](Streaming.streamThrottle(ComponentSpec(
      "stream_throttle", Map("maxPerWindow" -> 2)), newCtx())(df))
      .getMessage.contains("tieField"))
    assert(intercept[Exception](Streaming.streamThrottle(ComponentSpec(
      "stream_throttle", Map("tieField" -> "eid")), newCtx())(df))
      .getMessage.contains("maxPerWindow"))
  }

  /** A parquet dir of (id, value, ts) rows, id 2 twice, for the runner
    * legs below. */
  private def idValueDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    Seq((1L, 1.0, ts(0)), (2L, 5.0, ts(1)), (2L, 5.0, ts(1)), (3L, 9.0, ts(2)))
      .toDF("id", "value", "ts").write.mode("overwrite").parquet(dir)
    dir
  }
  private def streamConfig(dir: String, sections: String): PipelineSpec =
    PipelineSpec.parse(s"""{ $sections
      "source": { "stream": { "path": "$dir", "format": "parquet",
                              "schema": "id BIGINT, value DOUBLE, ts TIMESTAMP" } } }""")
  private def phases(ctx: EtlContext): scala.collection.mutable.ArrayBuffer[String] = {
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    ctx.addListener(new EtlListener {
      override def onBegin(c: EtlContext): Unit = events += "begin"
      override def onLoaded(c: EtlContext, s: Option[EtlContext.RunStats]): Unit =
        events += "loaded"
      override def onEnd(c: EtlContext): Unit = events += "end"
    })
    events
  }

  test("stream runner: config variables and let begin blocks resolve before the query starts; onBegin fires") {
    val ctx = newCtx()
    val events = phases(ctx)
    val q = Streaming.run(ctx, streamConfig(idValueDir("graft_stream_vars"), """
      "config": { "base": 10 },
      "begin": [ { "let": { "name": "bump", "expression": "$base + 1" } } ],
      "transformers": [ { "field": { "fieldName": "bumped", "expression": "value + $bump" } } ],
      "loader": { "streamsink": { "format": "memory", "name": "stream_vars_out",
                                  "trigger": "availableNow" } },"""))
    try {
      q.awaitTermination()
      val got = spark.table("stream_vars_out").select("id", "bumped")
        .as[(Long, Double)].collect().toSet
      assert(got == Set((1L, 12.0), (2L, 16.0), (3L, 20.0)), got.toString)
    } finally q.stop()
    assert(events.toSeq == Seq("begin"))
  }

  test("stream runner: end blocks and dryRun fail by name before anything starts") {
    var fired = 0
    Engine.registerCode("stream_side_effect")(df => { fired += 1; df })
    val dir = idValueDir("graft_stream_loud")
    val out = java.nio.file.Files.createTempDirectory("graft_stream_loud_out").toString
    val sink = s""""loader": { "streamsink": { "format": "parquet", "path": "$out/t",
      "checkpoint": "$out/cp", "trigger": "availableNow" } },"""
    val begin = """"begin": [ { "code": { "ref": "stream_side_effect" } } ],"""
    val active = spark.streams.active.length
    val ctx = newCtx()
    val events = phases(ctx)
    val end = intercept[RuntimeException](Streaming.run(ctx, streamConfig(dir,
      begin + sink + """"end": [ { "let": { "name": "x", "value": 1 } } ],""")))
    assert(end.getMessage.contains("`end` blocks"), end.getMessage)
    val dry = intercept[RuntimeException](Streaming.run(ctx, streamConfig(dir,
      begin + sink + """"config": { "dryRun": true },""")))
    assert(dry.getMessage.contains("`dryRun`"), dry.getMessage)
    assert(fired == 0 && events.isEmpty, "nothing may run before the loud failure")
    assert(spark.streams.active.length == active, "no query may be left running")
    assert(!new java.io.File(s"$out/t").exists, "the sink must not be written")
  }

  test("stream runner: `output` on a stream stage captures its result, input passes through") {
    val ctx = newCtx()
    val q = Streaming.run(ctx, streamConfig(idValueDir("graft_stream_output"), """
      "transformers": [ { "stream_dedup": { "keyFields": ["id"], "tsField": "ts",
                                            "watermark": "1 minute", "output": "deduped" } } ],
      "loader": { "streamsink": { "format": "memory", "name": "stream_output_all",
                                  "trigger": "availableNow" } },"""))
    try {
      q.awaitTermination()
      assert(spark.table("stream_output_all").count() == 4)
    } finally q.stop()
    val deduped = ctx.captured("deduped")
    assert(deduped.isStreaming)
    val q2 = deduped.writeStream.format("memory").queryName("stream_output_dedup")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q2.awaitTermination()
      assert(spark.table("stream_output_dedup").select("id").as[Long]
        .collect().sorted.toSeq == Seq(1L, 2L, 3L))
    } finally q2.stop()
  }

  test("sessionize through the registry: batch frame and stream, one output schema") {
    val spec = ComponentSpec("sessionize", Map("keyField" -> "user_id",
      "tsField" -> "ts", "gapMs" -> (5 * 60 * 1000)))
    val sessionize = Engine.transformers("sessionize")
    val batch = sessionize(spec, newCtx())(
      Seq(("u1", ts(0)), ("u1", ts(2)), ("u1", ts(20))).toDF("user_id", "ts"))
    assert(!batch.isStreaming)
    assert(batch.as[(String, Timestamp, Timestamp, Long)].collect().sortBy(_._2.getTime)
      .toSeq == Seq(("u1", ts(0), ts(2), 2L), ("u1", ts(20), ts(20), 1L)))
    implicit val sqlCtx = spark.sqlContext
    val stream = sessionize(spec, newCtx())(
      MemoryStream[(String, Timestamp)].toDF().toDF("user_id", "ts"))
    assert(stream.queryExecution.logical.treeString.contains("FlatMapGroupsWithState"),
      "a stream must get the stateful form")
    assert(stream.schema.map(f => f.name -> f.dataType) ==
      batch.schema.map(f => f.name -> f.dataType))
  }

  test("stream-only stages on a batch frame fail by name") {
    val batch = Seq((1L, ts(0))).toDF("id", "ts")
    for (name <- Seq("window_agg", "stream_dedup", "stream_throttle", "stream_join")) {
      val e = intercept[RuntimeException](
        Engine.transformers(name)(ComponentSpec(name, Map.empty), newCtx())(batch))
      assert(e.getMessage.startsWith(s"$name: stream-only stage"), e.getMessage)
    }
    // through the batch runner as well
    val e = intercept[RuntimeException](Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$sfDir/events.parquet" } },
      "extractor": { "parquet": {} },
      "transformers": [ { "window_agg": { "tsField": "ts" } } ],
      "loader": { "memory": {} } }"""))
    assert(e.getMessage.startsWith("window_agg: stream-only stage"), e.getMessage)
  }
}
