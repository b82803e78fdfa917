package graft.loaders

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.engine.{EtlContext, TextFiles}
import graft.spec.ComponentSpec
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graftbridge.Schemas
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.functions.{array, col, concat_ws, explode, filter, hash, lit, pmod, raise_error, struct, when}

/** Loaders (sinks) — SURVEY.md §2.4.
  *
  * The reference's `orientdb` loader (OOrientDBLoader.java:48-597) is a
  * record-at-a-time save with `batchCommit` interval commits; the Spark
  * mapping is a bulk writer: JDBC (the BASELINE-designated writer, with
  * `batchsize` ≈ batchCommit), parquet tables for document mode, and the
  * vertices/edges table pair for graph mode. `tx`/rollback/retry become
  * Spark task retries + idempotent overwrite writes (SURVEY.md §4).
  */
object Loaders {

  /** Declared-schema surface — the DDL analogue of the orientdb loader
    * (OOrientDBLoader.java:399-514 creates classes + typed properties
    * with collate; :435-513 indexes). `columns: ["name:type", …]` on a
    * parquet/jdbc loader validates presence and casts to the declared
    * type, failing fast at PLAN time (missing column / unresolvable cast
    * → clear error before any job runs). `indexes` on a NON-orientdb
    * loader is a documented no-op (columnar scan + join strategies
    * replace point indexes in Spark, SURVEY.md §2.4); the orientdb
    * loader validates them and, in its plocal/graph modes, records them
    * in the `_schema.json` sidecar (see [[orientSchema]]) — a jdbc
    * dbURL has no database directory, so it warns instead. */
  private def applyDeclaredSchema(df: DataFrame, spec: ComponentSpec): DataFrame = {
    if (spec.list("indexes").nonEmpty)
      System.err.println("[graft] loader `indexes` declared — no-op on Spark (see SURVEY.md §2.4)")
    val declared = spec.strList("columns")
    if (declared.isEmpty) df
    else {
      val target = graft.sources.Sources.schemaFromColumns(declared)
      val missing = target.fieldNames.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"loader schema: missing columns [${missing.mkString(", ")}]; input has [${df.columns.mkString(", ")}]")
      val casted = target.fields.map { f =>
        val from = df.schema(f.name).dataType
        require(org.apache.spark.sql.catalyst.expressions.Cast.canCast(from, f.dataType),
          s"loader schema: cannot cast column ${f.name}: $from -> ${f.dataType}")
        org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)
      }
      df.select(casted.toIndexedSeq: _*)
    }
  }

  /** SCD Type-2 history config — the nested `scd2` object on an upsert
    * loader turns the last-wins merge into a VERSIONED history merge:
    * the table keeps every value a key ever held, as
    * `(business columns…, valid_from, valid_to, is_current)` rows.
    *
    * One batch at `version: V` (a DETERMINISTIC batch number — never a
    * wall-clock stamp, so crash re-runs are idempotent):
    *  - key absent from the table → new open row
    *    `(valid_from=V, valid_to=null, is_current=true)`;
    *  - key present, compared columns EQUAL → no-op (re-running the
    *    same batch changes nothing);
    *  - key present, compared columns differ → the open row closes
    *    (`valid_to=V, is_current=false`) and a new open row appears;
    *  - keys not in the batch are untouched; closed history rows are
    *    NEVER touched.
    * `compare` (default: every non-key business column) selects the
    * change-detection columns (null-safe). A batch whose `version` is
    * not strictly greater than the open row it would close fails loud
    * inside the plan (out-of-order load), so history stays monotone.
    *
    * Reference semantics: the merge transformer's save-or-update
    * (OMergeTransformer.java:44-77) extended with load-date history —
    * the standard warehouse SCD2 the reference delegates to OrientDB
    * UPDATE semantics. Composes with `buckets: n`: all versions of a
    * key hash to the same bucket, so the partition-pruned path rewrites
    * only the buckets the delta's keys live in — history growth costs
    * delta-sized rewrites, not table-sized ones. */
  private final case class Scd2Cfg(version: Long, compare: Seq[String],
                                   fromField: String, toField: String,
                                   currentField: String) {
    def metaFields: Seq[String] = Seq(fromField, toField, currentField)
  }

  private def scd2Cfg(spec: ComponentSpec): Option[Scd2Cfg] =
    if (!spec.options.contains("scd2")) None
    else {
      val s = ComponentSpec("scd2", spec.map("scd2"))
      val v = s.long("version").getOrElse(sys.error("scd2: `version` " +
        "(a deterministic batch number) is required — a wall-clock stamp " +
        "would make crash re-runs non-idempotent"))
      Some(Scd2Cfg(v, s.strList("compare"),
        s.strOr("fromField", "valid_from"), s.strOr("toField", "valid_to"),
        s.strOr("currentField", "is_current")))
    }

  /** First SCD2 write: every incoming row opens at `version`. */
  private def scd2Stamp(incoming: DataFrame, cfg: Scd2Cfg): DataFrame = {
    cfg.metaFields.foreach(m => require(!incoming.columns.contains(m),
      s"scd2: incoming batch already has meta column '$m' — deltas carry " +
      "business columns only"))
    incoming
      .withColumn(cfg.fromField, lit(cfg.version))
      .withColumn(cfg.toField, lit(null).cast("long"))
      .withColumn(cfg.currentField, lit(true))
  }

  /** SCD2 merge of one delta into an existing history table. ONE pass:
    * closed history never joins (union back untouched); open rows
    * full-outer-join the key-deduped delta, and each joined row emits
    * its 1–2 output rows (kept / closed+reopened / fresh) through a
    * conditional-array explode — no second job over the join. */
  private def scd2Result(existing: DataFrame, incoming0: DataFrame,
                         key: String, cfg: Scd2Cfg): DataFrame = {
    import cfg._
    metaFields.foreach(m => require(existing.columns.contains(m),
      s"scd2: target table has no '$m' column — it was not created as an " +
      "SCD2 table (first-write stamps the meta columns; re-create the " +
      "target or drop the scd2 option)"))
    val businessCols = existing.columns.filterNot(metaFields.contains).toSeq
    require(businessCols.contains(key), s"scd2: key '$key' not in target")
    val missing = businessCols.filterNot(incoming0.columns.contains)
    require(missing.isEmpty, s"scd2: delta lacks business columns " +
      s"[${missing.mkString(", ")}] of the target")
    cfg.metaFields.foreach(m => require(!incoming0.columns.contains(m),
      s"scd2: incoming batch already has meta column '$m' — deltas carry " +
      "business columns only"))
    val incoming = incoming0.select(businessCols.map(c =>
      col(c).as(s"__i_$c")): _*).dropDuplicates(s"__i_$key")
    val cmpCols = (if (compare.nonEmpty) compare
                   else businessCols.filterNot(_ == key))
    cmpCols.foreach(c => require(businessCols.contains(c),
      s"scd2: compare column '$c' not a business column of the target"))
    val current = existing.where(col(currentField))
    val closedHistory = existing.where(!col(currentField))
    val j = current.join(incoming, col(key) === col(s"__i_$key"), "full_outer")
    val hasT = col(key).isNotNull
    val hasI = col(s"__i_$key").isNotNull
    val changed = cmpCols.map(c => !(col(c) <=> col(s"__i_$c"))).reduce(_ || _)
    val outCols = existing.columns.toSeq
    def outStruct(bus: String => org.apache.spark.sql.Column,
                  from: org.apache.spark.sql.Column,
                  to: org.apache.spark.sql.Column,
                  cur: org.apache.spark.sql.Column) =
      struct(outCols.map {
        case `fromField` => from.as(fromField)
        case `toField` => to.cast("long").as(toField)
        case `currentField` => cur.as(currentField)
        case c => bus(c).as(c)
      }: _*)
    // out-of-order guard: closing a row requires version > its valid_from
    val closeAt = when(lit(version) > col(fromField), lit(version))
      .otherwise(raise_error(concat_ws("", lit("scd2: batch version "),
        lit(version.toString), lit(s" is not after the open row's $fromField="),
        col(fromField).cast("string"),
        lit(s" for $key="), col(key).cast("string"),
        lit(" — out-of-order load"))).cast("long"))
    val kept = outStruct(col, col(fromField), col(toField), col(currentField))
    val closed = outStruct(col, col(fromField), closeAt, lit(false))
    val fresh = outStruct(c => col(s"__i_$c"), lit(version),
      lit(null).cast("long"), lit(true))
    val emitted = j.select(explode(filter(array(
        when(hasT && (!hasI || !changed), kept),
        when(hasT && hasI && changed, closed),
        when(hasI && (!hasT || changed), fresh)),
      x => x.isNotNull)).as("__r")).select("__r.*")
    closedHistory.unionByName(emitted)
  }

  /** The merge applied by one upsert write: last-wins per key, or the
    * SCD2 history merge when the `scd2` option is present. */
  private def mergeResult(existing: DataFrame, incoming: DataFrame,
                          key: String, spec: ComponentSpec): DataFrame =
    scd2Cfg(spec) match {
      case Some(cfg) => scd2Result(existing, incoming, key, cfg)
      case None =>
        graft.stages.LookupStages.upsertResult(existing, incoming, key)
    }

  /** The frame written when no target exists yet. */
  private def firstWrite(incoming: DataFrame, spec: ComponentSpec): DataFrame =
    scd2Cfg(spec).map(scd2Stamp(incoming, _)).getOrElse(incoming)

  /** One upsert application (a batch load, or ONE micro-batch of the
    * streaming `upsert` sink) — the reference's save-or-update per
    * record + batchCommit (OOrientDBLoader.java:164-177, 181-194)
    * without a transactional store: existing table ⟕ incoming on `key`
    * (last-wins per key within the batch, untouched rows preserved),
    * written to `<path>.staging` and swapped in by [[TableSwap]], so the
    * source files are never read and overwritten in the same job.
    *
    * `buckets: n` opts into the hash-bucketed layout for targets too big
    * to rewrite per delta: `__bucket=<i>` partition dirs,
    * `i = pmod(hash(key), n)`, layout and data schema recorded in a
    * `_graft_buckets.json` sidecar ([[BucketLayout]]). An upsert into
    * such a table computes the DISTINCT bucket ids the delta touches
    * (≤ n values), reads ONLY those bucket dirs through the recorded
    * schema ([[bucketRows]]: no listing of the table root, no footer
    * read for inference), merges within them, writes one file per
    * bucket and swaps in ONLY the rewritten bucket dirs, so its scan and
    * rewrite scale with the delta, not the table (PlanSpec, JobBudgetSpec,
    * the ScaleStress upsert leg). A sidecar that predates the recorded
    * schema takes one partition-pruned read of the table root, and the
    * swap that follows records the schema; a merge that changes the
    * schema re-records it the same way. Every other write — a first
    * write, a flat table, the one-time flat → bucketed migration —
    * replaces the whole table, sidecar included, in one rename. The
    * sidecar's (key, n) is the on-disk hash: a spec that differs from it
    * (a missing `buckets` included) would read and write the wrong
    * buckets, so it fails.
    *
    * `scd2: {…}` turns the merge into the Type-2 history merge (see
    * [[Scd2Cfg]]); batch loads only — a streaming sink re-applies one
    * config-level version per micro-batch, which is a no-op for
    * unchanged values and an out-of-order error for changed ones. At
    * real scale the same merge plan targets a transactional table
    * format; this is the plain-filesystem equivalent. */
  def upsertDelta(ctx: EtlContext, spec: ComponentSpec, df: DataFrame): Boolean = {
    val path = resolved(ctx, spec, "path")
    withWriteLease(ctx, spec, path) {
      val key = spec.str("key").getOrElse(sys.error("parquet loader: upsert requires key"))
      val buckets = if (spec.options.contains("buckets")) Some(spec.int("buckets", 16)) else None
      buckets.foreach(n => require(n > 0, s"parquet upsert: buckets must be positive, got $n"))
      val incoming = applyDeclaredSchema(df, spec)
      require(incoming.columns.contains(key),
        s"parquet upsert: incoming batch lacks key column '$key'")
      val table = new TableSwap(ctx, path, "upsert")
      table.recover()
      val bucketOf = buckets.map(n => pmod(hash(col(key)), lit(n)))
      val sidecar = new HPath(table.target, BucketLayout.File)
      val recorded = TextFiles.read(ctx.spark, sidecar.toString).map { meta =>
        val layout = BucketLayout.parse(meta)
        require(layout.exists(l => l.key == key && buckets.contains(l.buckets)),
          s"parquet upsert: bucket layout mismatch for $path — table sidecar " +
          s"$meta vs spec (key=$key, buckets=${buckets.getOrElse("none")}); " +
          "re-create the table or match the recorded layout")
        layout.get
      }
      val (merged, dirs) = recorded match {
        case Some(layout) =>
          val affected = incoming.select(bucketOf.get.cast("int")).distinct()
            .collect().map(_.getInt(0)).toSeq.sorted
          val existing = layout.schema match {
            case Some(schema) => bucketRows(ctx, path, affected, schema)
            // a sidecar without a schema: one partition-pruned read of
            // the root (its swap below records the schema)
            case None => ctx.spark.read.parquet(path)
              .where(col("__bucket").isin(affected.map(Integer.valueOf): _*))
              .drop("__bucket")
          }
          (mergeResult(existing, incoming, key, spec), affected.map(b => s"__bucket=$b"))
        case None if table.fs.exists(table.target) =>
          val existing = ctx.spark.read.parquet(path)
          require(!existing.columns.contains("__bucket"), s"parquet upsert: $path " +
            s"has __bucket= partitions but no $sidecar — its bucket layout is " +
            "unknown; re-create the table")
          (mergeResult(existing, incoming, key, spec), Nil)
        case None => (firstWrite(incoming, spec), Nil)
      }
      // an empty delta into a bucketed table touches no bucket
      if (recorded.isEmpty || dirs.nonEmpty) {
        bucketOf match {
          // clustered on the bucket: one file per bucket dir
          case Some(b) => merged.withColumn("__bucket", b).repartition(col("__bucket"))
            .write.mode("overwrite").partitionBy("__bucket").parquet(table.staging.toString)
          case None => merged.write.mode("overwrite").parquet(table.staging.toString)
        }
        // the layout rides the data's rename: whole with a whole-table
        // write, after the bucket dirs when a partial swap changes it
        val changed = buckets.map(n => BucketLayout(key, n, Some(Schemas.asNullable(merged.schema))))
          .filterNot(recorded.contains(_))
        changed.foreach(l => TextFiles.write(ctx.spark, s"${table.staging}/${sidecar.getName}", l.json))
        table.replace(if (dirs.isEmpty) Nil else dirs ++ changed.map(_ => sidecar.getName))
      }
      true
    }
  }

  /** A bucketed table's `_graft_buckets.json`: the hash key, the bucket
    * count and the data schema (without `__bucket`). A sidecar written
    * before the schema was recorded has none. */
  private final case class BucketLayout(key: String, buckets: Int, schema: Option[StructType]) {
    def json: String = {
      val node = BucketLayout.mapper.createObjectNode().put("key", key).put("buckets", buckets)
      schema.foreach(s => node.set[JsonNode]("schema", BucketLayout.mapper.readTree(s.json)))
      BucketLayout.mapper.writeValueAsString(node)
    }
  }

  private object BucketLayout {
    val File = "_graft_buckets.json"
    private val mapper = new ObjectMapper()

    /** The layout, when `text` is an object with a string `key` and an
      * int `buckets`; None for anything else. */
    def parse(text: String): Option[BucketLayout] = scala.util.Try(mapper.readTree(text)).toOption
      .filter(n => n.path("key").isTextual && n.path("buckets").isInt)
      .map(n => BucketLayout(n.get("key").asText, n.get("buckets").intValue,
        Option(n.get("schema")).map(s => DataType.fromJson(s.toString).asInstanceOf[StructType])))
  }

  /** The rows of a bucketed table's `buckets`, read through its recorded
    * `schema`: only the bucket dirs that exist are listed (with
    * `basePath`, so `__bucket` stays a partition column, then dropped)
    * and no footer is read to infer a schema; when none exists the
    * result is an empty frame of `schema`. */
  private[graft] def bucketRows(ctx: EtlContext, path: String, buckets: Seq[Int],
                                schema: StructType): DataFrame = {
    val root = new HPath(path)
    val fs = root.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    val dirs = buckets.map(b => new HPath(root, s"__bucket=$b")).filter(fs.exists)
    if (dirs.isEmpty) ctx.spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else ctx.spark.read.schema(schema).option("basePath", path)
      .parquet(dirs.map(_.toString): _*).drop("__bucket")
  }

  /** Single-writer lease on a parquet merge target: two simultaneous
    * merges to one table would interleave their bucket/table swaps into
    * a mix of both deltas' states — the Spark-side analogue of the
    * reference's retry-on-conflict transaction contract
    * (OETLPipeline.java:121-136) is to FAIL the second writer loudly at
    * acquisition, not to corrupt silently.
    *
    * Mechanics: `<path>.lock` acquired via create-no-overwrite — atomic
    * on HDFS/object stores; for `file://` the claim goes through
    * `File.createNewFile` (O_EXCL) because Hadoop's local create is
    * check-then-create. While the merge runs, a daemon HEARTBEAT
    * refreshes the lock's mtime every staleMins/4, so a LIVE merge of
    * any duration never looks stale; a lease whose mtime is older than
    * `lockStaleMinutes` (default 60) can only come from a dead writer
    * and is broken and re-acquired — [[TableSwap.recover]] makes the
    * table state safe to take over. (Stale-breaking is best-effort: two
    * waiters racing the break can in principle both proceed on a store
    * without compare-and-swap; the stale window is the accepted trade,
    * same as every marker-file lease.) */
  private def withWriteLease[T](ctx: EtlContext, spec: ComponentSpec,
                                path: String, mode: String = "upsert")
                               (body: => T): T = {
    val fs = new HPath(path).getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    val lock = new HPath(path + ".lock")
    val staleMins = spec.long("lockStaleMinutes").getOrElse(60L)
    val holder = java.lang.management.ManagementFactory.getRuntimeMXBean.getName
    def tryAcquire(): Boolean = {
      val claimed =
        if ("file".equals(lock.toUri.getScheme) ||
            fs.getUri.getScheme == "file")
          // O_EXCL — Hadoop's RawLocalFileSystem create(false) is
          // check-then-create, not atomic
          try new java.io.File(lock.toUri.getPath).createNewFile()
          catch { case _: java.io.IOException => false }
        else
          try { fs.create(lock, false).close(); true }
          catch { case _: java.io.IOException => false }
      if (claimed) TextFiles.write(ctx.spark, lock.toString, s"""{"holder":"$holder",""" +
        s""""acquired_ms":${System.currentTimeMillis()}}""")
      claimed
    }
    var acquired = tryAcquire()
    if (!acquired) {
      val st = try Some(fs.getFileStatus(lock))
               catch { case _: java.io.FileNotFoundException => None }
      val stale = st.exists(s =>
        System.currentTimeMillis() - s.getModificationTime > staleMins * 60000L)
      // no lock file: the claim failed on a missing parent dir
      if (stale || st.isEmpty) {
        fs.delete(lock, false); fs.mkdirs(lock.getParent); acquired = tryAcquire()
      }
    }
    if (!acquired)
      sys.error(s"parquet $mode: another writer holds the lease on $path " +
        s"(${TextFiles.read(ctx.spark, lock.toString).getOrElse("?")} at $lock) — " +
        "concurrent merges to one table would interleave their swaps; retry after it finishes " +
        s"(a dead holder's lease breaks automatically after lockStaleMinutes=$staleMins)")
    // heartbeat: a LIVE merge must never cross the stale threshold
    val beat = new Thread(() => {
      try while (!Thread.interrupted()) {
        Thread.sleep(math.max(1L, staleMins * 60000L / 4))
        // A transient setTimes failure (object-store hiccup) must not
        // kill the heartbeat — a live merge longer than the stale
        // threshold would then have its lease stolen. Keep looping;
        // only interruption (merge done) ends the thread.
        try fs.setTimes(lock, System.currentTimeMillis(), -1)
        catch { case scala.util.control.NonFatal(_) => () }
      } catch { case _: InterruptedException => () }
    }, s"graft-lease-heartbeat-$path")
    beat.setDaemon(true)
    beat.start()
    try body finally {
      beat.interrupt()
      fs.delete(lock, false)
    }
  }

  /** The one way a parquet table is rewritten (upsert, compact): the
    * new state is written to `<path>.staging`, then [[replace]] moves
    * the current copy to `<path>.old`, renames the staged copy in and
    * deletes `.old` — all through the Hadoop `FileSystem` API, so any
    * Hadoop filesystem works (object stores without atomic rename get a
    * copy-rename from their connector, with the same recoverability). A
    * crash mid-swap leaves each swapped dir in its old or its new
    * state, never neither, and [[recover]], run under the write lease
    * before the table is read, restores what only `.old` still holds —
    * the crash window cannot silently drop prior rows. */
  private final class TableSwap(ctx: EtlContext, path: String, mode: String) {
    val target = new HPath(path)
    val staging = new HPath(path + ".staging")
    private val old = new HPath(path + ".old")
    val fs: FileSystem = target.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)

    private def move(from: HPath, to: HPath, what: String): Unit =
      require(fs.rename(from, to), s"parquet $mode: $what ($from -> $to)")

    /** A whole table found only in `.old` (died between moving it aside
      * and the swap) is restored; otherwise each `__bucket=` dir and a
      * bucket sidecar found only in `.old` is, and `.old` copies of
      * entries whose swap landed are dropped. */
    def recover(): Unit = if (fs.exists(old)) {
      if (!fs.exists(target)) move(old, target, "crash recovery failed restoring the table")
      else {
        for (s <- fs.listStatus(old) if s.getPath.getName.startsWith("__bucket=") ||
             s.getPath.getName == BucketLayout.File) {
          val live = new HPath(target, s.getPath.getName)
          if (!fs.exists(live)) move(s.getPath, live, s"crash recovery failed restoring ${live.getName}")
        }
        fs.delete(old, true)
      }
    }

    /** Swaps the staged copy in: the whole table when `dirs` is empty,
      * else only the named entries — partition dirs, then a sidecar —
      * in order (the target's other entries stay as they are). A failed
      * rename puts the moved-aside copy back. */
    def replace(dirs: Seq[String]): Unit = {
      val swaps =
        if (dirs.isEmpty) Seq((target, staging, old))
        else {
          fs.mkdirs(old)
          dirs.map(d => (new HPath(target, d), new HPath(staging, d), new HPath(old, d)))
        }
      for ((live, staged, aside) <- swaps) {
        val existed = fs.exists(live)
        if (existed) move(live, aside, "could not move the current copy aside")
        if (!fs.rename(staged, live)) {
          if (existed) fs.rename(aside, live)
          sys.error(s"parquet $mode: staging rename failed for $live (current copy " +
            "restored; dirs swapped before it are recovered on the next run)")
        }
      }
      fs.delete(old, true)
      fs.delete(staging, true)
    }
  }

  /** `mode: "compact"` — small-file maintenance for an existing parquet
    * target. Micro-batch appends and task-parallel writes leave
    * partition directories holding many small files; at 100 TB the
    * file-listing and per-file open cost dominates scans long before
    * the bytes do. Compact rewrites the SAME rows into one file per
    * partition directory: hive-style partition columns (including the
    * bucketed-upsert layout's `__bucket=`) are discovered from the
    * directory tree and the data is re-clustered by them (one shuffle —
    * each partition value lands wholly in one task). `maxRecordsPerFile`
    * (optional) re-splits oversized partitions into right-sized files
    * within the task — the well-defined knob for "compact but keep
    * files under N rows" (a salted file-count target would only be an
    * upper bound: files-per-directory = tasks holding that directory's
    * rows). On an UNPARTITIONED table the default is one file
    * (`coalesce(1)` — one task); `targetFileSizeMB` switches that to a
    * size-driven `repartition(ceil(bytes / target))`, keeping "fewer,
    * bigger files" without funneling a large table through one task.
    * `_`-prefixed sidecars (e.g.
    * `_graft_buckets.json`) are carried over, and the result swaps in
    * whole through [[TableSwap]], as an upsert's does: a crash leaves
    * either the old or the new table, never neither.
    *
    * The pipeline's incoming rows are IGNORED — compact is a
    * maintenance action on `path`, not a write of new data (documented
    * at the config surface; pair it with any 1-row source). */
  private def compactParquet(ctx: EtlContext, spec: ComponentSpec,
                             path: String): Boolean = {
    val spark = ctx.spark
    val table = new TableSwap(ctx, path, "compact")
    val fs = table.fs
    table.recover()
    require(fs.exists(table.target), s"parquet compact: no table at $path")
    val maxRecords = spec.long("maxRecordsPerFile")
    maxRecords.foreach(m => require(m >= 1,
      "parquet compact: maxRecordsPerFile must be >= 1"))
    // hive-layout partition columns, walked level by level
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur = table.target
    var descending = true
    while (descending) {
      val dirs = fs.listStatus(cur).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      dirs.map(_.getPath.getName.split("=", 2)(0)).distinct match {
        case Seq(one) => parts += one; cur = dirs.head.getPath
        case Seq() => descending = false
        case many => sys.error(s"parquet compact: mixed partition columns " +
          s"[${many.mkString(", ")}] at one level of $path — not a hive layout")
      }
    }
    val targetMB = spec.long("targetFileSizeMB")
    targetMB.foreach(m => require(m >= 1,
      "parquet compact: targetFileSizeMB must be >= 1"))
    require(targetMB.isEmpty || parts.isEmpty,
      "parquet compact: targetFileSizeMB applies to the UNPARTITIONED " +
      "path (a partitioned layout already compacts to one file per " +
      "partition directory; use maxRecordsPerFile to bound those)")
    val data = spark.read.parquet(path)
    val clustered =
      if (parts.nonEmpty) data.repartition(parts.toSeq.map(col): _*)
      else targetMB match {
        case Some(mb) =>
          // size-driven width: ceil(tableBytes / target) write tasks —
          // "fewer, bigger files" WITHOUT the coalesce(1) one-task
          // funnel on a large unpartitioned table. On-disk bytes are a
          // metadata-only ContentSummary walk; output files inherit
          // roughly the same compression, so the estimate holds.
          val bytes = fs.getContentSummary(table.target).getLength
          val n = math.max(1L, (bytes + mb * 1048576L - 1) / (mb * 1048576L))
          data.repartition(n.toInt)
        case None => data.coalesce(1) // no layout: no shuffle needed
      }
    var writer = clustered.write.mode("overwrite")
    maxRecords.foreach(m => writer = writer.option("maxRecordsPerFile", m))
    if (parts.nonEmpty) writer = writer.partitionBy(parts.toSeq: _*)
    writer.parquet(table.staging.toString)
    // carry metadata sidecars (leading `_`, skipped by readers) over
    fs.listStatus(table.target).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("_"))
      .foreach { s =>
        org.apache.hadoop.fs.FileUtil.copy(fs, s.getPath, fs,
          new HPath(table.staging, s.getPath.getName), false,
          spark.sparkContext.hadoopConfiguration)
      }
    table.replace(Nil)
    true
  }

  /** See the `quarantinePath` note in [[load]]. Identity when the
    * option is absent; errors loud when the named error column is
    * missing (a typo'd field would silently quarantine nothing). */
  private def applyQuarantine(ctx: EtlContext, spec: ComponentSpec,
                              df: DataFrame): DataFrame =
    ctx.resolved(spec, "quarantinePath") match {
      case None => df
      case Some(path) =>
        val ef = spec.strOr("quarantineField", "__errors")
        require(df.columns.contains(ef),
          s"loader quarantinePath: input has no error column '$ef' — add " +
          "`errorField` to the csv transformer (or set `quarantineField`)")
        df.where(col(ef).isNotNull).write.mode("overwrite").parquet(path)
        df.where(col(ef).isNull).drop(ef)
    }

  // ------------------------------------------------- orientdb DDL surface

  /** Spark type → OrientDB property-type name (OType) for the schema
    * sidecar — the analogue of createProperty's first-value inference
    * (OOrientDBLoader.java:80-143), but from the PLAN schema: type-stable
    * instead of whatever the first record happened to hold. */
  private def orientTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => "STRING"
      case IntegerType => "INTEGER"
      case LongType => "LONG"
      case ShortType => "SHORT"
      case ByteType => "BYTE"
      case FloatType => "FLOAT"
      case DoubleType => "DOUBLE"
      case BooleanType => "BOOLEAN"
      case DateType => "DATE"
      case _: TimestampType => "DATETIME"
      case _: DecimalType => "DECIMAL"
      case BinaryType => "BINARY"
      case _: ArrayType => "EMBEDDEDLIST"
      case _: MapType => "EMBEDDEDMAP"
      case _: StructType => "EMBEDDED"
      case other => other.simpleString.toUpperCase
    }
  }

  /** Reference field-name normalization (OOrientDBLoader.java:591-597):
    * a leading digit is prefixed with "field". Applied under
    * `dbAutoCreateProperties`, exactly when the reference creates the
    * property. */
  private def transformFieldName(f: String): Option[String] =
    if (f.nonEmpty && f.head.isDigit) Some("field" + f) else None

  /** `classes` + `dbAutoCreateProperties` (OOrientDBLoader.java:406-432,
    * 549-586, 80-143): class inheritance (`extends`/`abstract`) and
    * declared or inferred property types have no storage analogue on a
    * parquet database directory, so they are recorded as a
    * `_schema.json` sidecar — queryable metadata a downstream catalog
    * can apply — after validating that every `extends` target exists
    * (parity with the reference's "Cannot find super class" failure).
    * Returns the (possibly field-renamed) frame and the sidecar JSON. */
  private def orientSchema(spec: ComponentSpec, df: DataFrame,
                           cls: String): (DataFrame, Option[String]) = {
    val auto = spec.bool("dbAutoCreateProperties", dflt = false)
    val classes = spec.list("classes").collect {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    }
    if (!auto && classes.isEmpty && idxList(spec).isEmpty) return (df, None)
    val renamed =
      if (auto) df.columns.foldLeft(df) { (d, c) =>
        transformFieldName(c).map(d.withColumnRenamed(c, _)).getOrElse(d)
      } else df
    val known = classes.flatMap(_.get("name").map(_.toString)).toSet ++
      Set("V", "E", cls)
    // inheritance validation (OOrientDBLoader.java:549-586 parity, plus
    // the schema-manager rule the reference delegates to OrientDB
    // itself): the extends chain must be acyclic, and a child class may
    // not redeclare an ancestor's field with a DIFFERENT type — the
    // redeclaration would silently shadow the parent property in any
    // catalog that applies this sidecar.
    locally {
      val byName = classes.flatMap(m => m.get("name").map(_.toString -> m)).toMap
      def fieldTypes(m: Map[String, Any]): Map[String, String] = m.get("fields") match {
        case Some(fs: Seq[_]) => fs.collect { case fm: Map[_, _] =>
          val f = fm.asInstanceOf[Map[String, Any]]
          f("name").toString -> f.getOrElse("type", "STRING").toString.toUpperCase
        }.toMap
        case _ => Map.empty[String, String]
      }
      classes.foreach { m =>
        val name = m.getOrElse("name",
          sys.error("orientdb loader: classes entry requires name")).toString
        val mine = fieldTypes(m)
        var seen = Set(name)
        var cur = m.get("extends").map(_.toString)
        while (cur.isDefined) {
          val s = cur.get
          require(!seen.contains(s),
            s"orientdb loader: inheritance cycle through class '$s'")
          seen += s
          byName.get(s) match {
            case Some(pm) =>
              val theirs = fieldTypes(pm)
              mine.foreach { case (f, t) =>
                theirs.get(f).foreach(pt => require(pt == t,
                  s"orientdb loader: class '$name' redeclares field '$f' " +
                  s"as $t but super class '$s' declares $pt"))
              }
              cur = pm.get("extends").map(_.toString)
            case None => cur = None // V/E/target built-ins declare no fields
          }
        }
      }
    }
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def renderFields(m: Map[String, Any]): String = m.get("fields") match {
      case Some(fs: Seq[_]) =>
        val items = fs.collect { case fm: Map[_, _] =>
          val f = fm.asInstanceOf[Map[String, Any]]
          val collate = f.get("collate").map(c =>
            s", ${q("collate")}: ${q(c.toString)}").getOrElse("")
          s"{${q("name")}: ${q(f("name").toString)}, " +
          s"${q("type")}: ${q(f.getOrElse("type", "STRING").toString.toUpperCase)}$collate}"
        }
        s", ${q("fields")}: [${items.mkString(", ")}]"
      case _ => ""
    }
    val declared = classes.map { m =>
      val name = m.getOrElse("name",
        sys.error("orientdb loader: classes entry requires name")).toString
      val sup = m.get("extends").map(_.toString)
      sup.foreach(s => require(known.contains(s),
        s"orientdb loader: cannot find super class '$s' for class '$name'"))
      val abs = m.get("abstract").exists {
        case b: Boolean => b; case s: String => s.toBoolean; case _ => false
      }
      s"{${q("name")}: ${q(name)}" +
        sup.map(s => s", ${q("extends")}: ${q(s)}").getOrElse("") +
        s", ${q("abstract")}: $abs" + renderFields(m) + "}"
    }
    val inferred =
      if (auto) {
        val props = renamed.schema.fields.map(f =>
          s"{${q("name")}: ${q(f.name)}, ${q("type")}: ${q(orientTypeName(f.dataType))}}")
        Seq(s"{${q("name")}: ${q(cls)}, ${q("abstract")}: false, " +
          s"${q("properties")}: [${props.mkString(", ")}]}")
      } else Nil
    // declared indexes (OOrientDBLoader.java:435-513): point indexes have
    // no execution analogue on Spark (columnar scans + join strategies
    // replace them), so they are VALIDATED and recorded in the sidecar —
    // a downstream catalog (or an OrientDB re-import) can apply them;
    // a typo'd class or empty field list still fails fast here
    val idxJson = idxList(spec).map { m =>
      val icls = m.getOrElse("class", cls).toString
      require(known.contains(icls),
        s"orientdb loader: index on unknown class '$icls'")
      val fields = m.get("fields") match {
        case Some(fs: Seq[_]) => fs.map(_.toString)
        case _ => Nil
      }
      require(fields.nonEmpty, s"orientdb loader: index on '$icls' requires fields")
      val typ = m.getOrElse("type", "NOTUNIQUE").toString.toUpperCase
      val allowed = Set("UNIQUE", "NOTUNIQUE", "FULLTEXT", "DICTIONARY",
        "UNIQUE_HASH_INDEX", "NOTUNIQUE_HASH_INDEX")
      require(allowed.contains(typ),
        s"orientdb loader: unknown index type '$typ' (${allowed.mkString("|")})")
      // the reference (OOrientDBLoader.java:469-489) splits a 'field:type'
      // entry — the name keys the index, the suffix declares the property
      // type. Record the split form: bare names in `fields` (a catalog
      // applying the sidecar must not see a field named 'x:integer'),
      // declared types alongside in `fieldTypes`.
      val split = fields.map { f =>
        val cut = f.indexOf(':')
        if (cut < 0) (f, None) else (f.substring(0, cut), Some(f.substring(cut + 1)))
      }
      val iname = m.get("name").map(_.toString).getOrElse(
        icls + "." + split.map(_._1).mkString("_"))
      val typesPart = {
        val ts = split.collect { case (n, Some(t)) =>
          s"{${q("field")}: ${q(n)}, ${q("type")}: ${q(t)}}" }
        if (ts.isEmpty) "" else s", ${q("fieldTypes")}: [${ts.mkString(", ")}]"
      }
      s"{${q("name")}: ${q(iname)}, ${q("class")}: ${q(icls)}, " +
        s"${q("type")}: ${q(typ)}, " +
        s"${q("fields")}: [${split.map(p => q(p._1)).mkString(", ")}]$typesPart}"
    }
    val idxPart =
      if (idxJson.isEmpty) "" else s", ${q("indexes")}: [${idxJson.mkString(", ")}]"
    val json = s"{${q("classes")}: [${(declared ++ inferred).mkString(", ")}]$idxPart}"
    (renamed, Some(json))
  }

  private def idxList(spec: ComponentSpec): Seq[Map[String, Any]] =
    spec.list("indexes").collect {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    }

  /** Each loader [[load]] dispatches on, with the options it cannot
    * run without — dryRun ([[validate]]) and the real run check the
    * same list. */
  private val RequiredOptions: Map[String, Seq[String]] = Map(
    "output" -> Nil, "memory" -> Nil, "jdbc" -> Seq("url", "table"),
    "orientdb" -> Seq("dbURL")) ++
    Seq("parquet", "orc", "csv", "jsonl", "graph", "avro", "tar", "zip").map(_ -> Seq("path"))

  val KnownLoaders: Set[String] = RequiredOptions.keySet

  /** Loader validation: unknown names and missing required options fail
    * here — the dryRun pre-flight and the first step of [[load]] — with
    * zero side effects. */
  def validate(ctx: EtlContext, spec: ComponentSpec): Unit = {
    RequiredOptions.getOrElse(spec.name, sys.error(s"unknown loader ${spec.name}"))
      .foreach(o => spec.str(o).getOrElse(sys.error(s"${spec.name} loader: $o required")))
    if (spec.name == "parquet" && spec.strOr("mode", "overwrite") == "upsert")
      spec.str("key").getOrElse(sys.error("parquet loader: upsert requires key"))
    ()
  }

  /** A loader's target (`path`, `url`, `dbURL`), config variables
    * resolved ([[EtlContext.resolved]]). */
  private def resolved(ctx: EtlContext, spec: ComponentSpec, name: String): String =
    ctx.resolved(spec, name).getOrElse(sys.error(s"${spec.name} loader: $name required"))

  /** Run the sink. Returns true when a terminal ACTION executed (so the
    * engine can collect deferred observe checks — EtlContext.drainChecks);
    * `memory` only registers the plan and returns false. */
  def load(ctx: EtlContext, spec: ComponentSpec, df0: DataFrame): Boolean = {
    validate(ctx, spec)
    // `quarantinePath` (any loader): the badRecordsPath pattern — rows a
    // transformer flagged in `quarantineField` (default `__errors`, see
    // the csv transformer's `errorField`) are diverted to a parquet
    // side-channel WITH their error detail; the main write gets only
    // clean rows, error column dropped. Split = two filtered passes
    // over the input plan — persist upstream if the scan is expensive.
    val df = applyQuarantine(ctx, spec, df0)
    spec.name match {
      // `output` loader (OOutputLoader.java:27-52): console. Bounded —
      // never collect the full dataset to the driver.
      case "output" => df.show(spec.int("limit", 20), truncate = false); true

      // `memory` loader (OMemoryLoader.java:14-69, fork addition): hand
      // the result to a parent pipeline. We register the *plan*, not a
      // driver-side collect — the 100 TB-safe equivalent.
      case "memory" =>
        val name = spec.strOr("name", "loaded")
        ctx.registerTable(name, df)
        ctx.captured.put(name, df)
        false

      case "parquet" =>
        val path = resolved(ctx, spec, "path")
        if (spec.strOr("mode", "overwrite") == "upsert")
          upsertDelta(ctx, spec, df)
        else if (spec.strOr("mode", "overwrite") == "compact")
          // compact swaps the same table state merges do — one lease
          // covers both, so maintenance can't interleave with a merge
          withWriteLease(ctx, spec, path, mode = "compact")(
            compactParquet(ctx, spec, path))
        else {
          var w = applyDeclaredSchema(df, spec).write.mode(spec.strOr("mode", "overwrite"))
          val parts = spec.strList("partitionBy")
          if (parts.nonEmpty) w = w.partitionBy(parts: _*)
          val buckets = spec.strList("bucketBy")
          if (buckets.nonEmpty) {
            // bucketed external table (requires `table`): co-locates joins
            // and aggregations on the bucket key — downstream plans on
            // spark.table(table) skip the shuffle entirely (asserted in
            // PlanSpec). The 100 TB shape for repeated fact-table joins.
            val table = spec.str("table")
              .getOrElse(sys.error("parquet loader: bucketBy requires table"))
            var bw = w.option("path", path)
              .bucketBy(spec.int("buckets", 8), buckets.head, buckets.tail: _*)
            val sorts = spec.strList("sortBy")
            if (sorts.nonEmpty) bw = bw.sortBy(sorts.head, sorts.tail: _*)
            bw.format("parquet").saveAsTable(table)
          } else w.parquet(path)
          true
        }

      case "orc" =>
        val path = resolved(ctx, spec, "path")
        var w = applyDeclaredSchema(df, spec).write.mode(spec.strOr("mode", "overwrite"))
        val parts = spec.strList("partitionBy")
        if (parts.nonEmpty) w = w.partitionBy(parts: _*)
        w.orc(path)
        true

      // text export loaders — the interchange formats an ETL engine owes
      // its users. Distributed writers (one file per partition); the
      // OCSVTransformer option names (separator/stringCharacter/
      // nullValue) are honored on the way OUT too.
      case "csv" =>
        val path = resolved(ctx, spec, "path")
        var w = applyDeclaredSchema(df, spec).write
          .mode(spec.strOr("mode", "overwrite"))
          .option("sep", spec.strOr("separator", ","))
          .option("header", spec.bool("header", dflt = true).toString)
          // lossless by default: Spark's csv WRITER trims cell whitespace
          // unless told otherwise (reader does not) — a silent data change
          .option("ignoreLeadingWhiteSpace", "false")
          .option("ignoreTrailingWhiteSpace", "false")
        spec.str("nullValue").foreach(nv => w = w.option("nullValue", nv))
        spec.str("stringCharacter").foreach(q => w = w.option("quote", q))
        spec.str("compression").foreach(c => w = w.option("compression", c))
        val csvParts = spec.strList("partitionBy")
        if (csvParts.nonEmpty) w = w.partitionBy(csvParts: _*)
        w.csv(path)
        true

      case "avro" =>
        // Object Container File export via the stock generic writer
        // (no spark-avro DataSource on this classpath) — one deflate
        // container per partition, executor-side; see sources/Avro.write
        graft.sources.Avro.write(applyDeclaredSchema(df, spec),
          resolved(ctx, spec, "path"), spec)
        true

      case "tar" =>
        // WebDataset-style shard export: rolling ustar shards per
        // partition, executor-side; see sources/Tar.write
        graft.sources.Tar.write(df, resolved(ctx, spec, "path"), spec)
        true

      case "zip" =>
        // ZIP shard export (java.util.zip writer — independent of the
        // extractor's own walk); see sources/Zip.write
        graft.sources.Zip.write(df, resolved(ctx, spec, "path"), spec)
        true

      case "jsonl" =>
        val path = resolved(ctx, spec, "path")
        var w = applyDeclaredSchema(df, spec).write
          .mode(spec.strOr("mode", "overwrite"))
        spec.str("compression").foreach(c => w = w.option("compression", c))
        val jParts = spec.strList("partitionBy")
        if (jParts.nonEmpty) w = w.partitionBy(jParts: _*)
        w.json(path)
        true

      case "jdbc" =>
        var w = applyDeclaredSchema(df, spec).write.format("jdbc")
          .option("url", resolved(ctx, spec, "url"))
          .option("dbtable", spec.str("table").get)
          // batchCommit parity (OOrientDBLoader.java:181-194)
          .option("batchsize", spec.int("batchCommit", 1000).toString)
          .option("isolationLevel", "NONE") // wal:false analogue for bulk load
        spec.str("driver").foreach(d => w = w.option("driver", d))
        spec.str("userName").foreach(u => w = w.option("user", u))
        spec.str("userPassword").foreach(p => w = w.option("password", p))
        w.mode(spec.strOr("mode", "append")).save()
        true

      // graph mode of the orientdb loader: persist the two-DataFrame
      // property-graph contract
      case "graph" =>
        val dir = resolved(ctx, spec, "path")
        ctx.vertices.foreach(_.write.mode("overwrite").parquet(s"$dir/vertices"))
        ctx.edges.foreach(_.write.mode("overwrite").parquet(s"$dir/edges"))
        true

      // `orientdb` loader by its reference config surface
      // (OOrientDBLoader.java:48-597): dbURL selects the storage —
      // jdbc:* → the JDBC writer (class = table), anything else
      // (plocal:/memory:/remote: path) → a parquet database directory;
      // dbType=graph writes the vertices/edges table pair. tx/WAL/
      // batchCommit map to writer batching; indexes are a no-op (noted).
      case "orientdb" =>
        val dbUrl = resolved(ctx, spec, "dbURL")
        val cls = spec.strOr("class", "record")
        val (df2, sidecar) = orientSchema(spec, df, cls)
        def writeSidecar(dir: String): Unit =
          sidecar.foreach(TextFiles.write(ctx.spark, s"$dir/_schema.json", _))
        if (dbUrl.startsWith("jdbc:")) {
          // a jdbc target has no database DIRECTORY to carry the sidecar
          // — declared indexes were validated above but have nowhere to
          // land; say so instead of dropping them silently
          if (sidecar.exists(_.contains("\"indexes\"")))
            System.err.println("[graft] orientdb loader: declared indexes " +
              "validated but NOT recorded for a jdbc dbURL (no database " +
              "directory for the _schema.json sidecar); create them on " +
              "the target database directly")
          load(ctx, ComponentSpec("jdbc", (spec.options - "indexes") ++ Map(
            "url" -> dbUrl, "table" -> cls)), df2)
        } else if (spec.strOr("dbType", "document").equalsIgnoreCase("graph")) {
          val dir = dbUrl.replaceFirst("^[a-z]+:", "")
          writeSidecar(dir)
          load(ctx, ComponentSpec("graph", (spec.options - "indexes") ++ Map("path" -> dir)), df2)
        } else {
          val dir = dbUrl.replaceFirst("^[a-z]+:", "")
          writeSidecar(dir)
          load(ctx, ComponentSpec("parquet", (spec.options - "indexes") ++ Map(
            "path" -> s"$dir/$cls")), df2)
        }
    }
  }
}
