package graft.stages

import graft.engine.{EtlContext, EtlHaltException}
import graft.expr.OrientExpr
import graft.sources.Sources
import graft.spec.ComponentSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.util.matching.Regex

/** Row-wise transformer stages (SURVEY.md §2.3).
  *
  * Every stage is `DataFrame => DataFrame` — the whole pipeline composes
  * to ONE lazy Catalyst plan, so chained stages fuse into a single
  * whole-stage-codegen'd projection/filter (the reference's record-at-a-
  * time pipelining, OETLPipeline.java:107-118, for free and vectorized).
  *
  * Common component semantics reproduced here:
  *  - `if` predicate on `field`/`flow`: stage skipped for rows where
  *    false (OAbstractETLComponent.java:453-468) →
  *    `when(cond, new).otherwise(old)`
  *  - null result drops the row (OETLPipeline.java:107-114) → `filter`
  *
  * `output` capture and the `if` guard on every other stage belong to
  * the runner ([[graft.engine.Engine.compile]]), not to the stages.
  */
object Stages {

  /** Serializes temp-view registration + SQL analysis for the `command`/
    * `code` SQL forms: the contract view names (`input`, `__input`) are
    * session-global, so concurrent pipeline builds on one session could
    * cross-wire. Once `spark.sql` returns the plan is bound, so the view
    * can be safely replaced by the next pipeline. */
  private[graft] val sqlViewLock = new Object

  def ifCond(spec: ComponentSpec, ctx: EtlContext): Option[Column] =
    spec.ifExpr.map(OrientExpr.compile(_, ctx.varMap))

  /** Lineage truncation for the iterative stages ([[Iterate]]): by
    * default eager `localCheckpoint` — block-manager storage, fastest,
    * but the blocks die with their executor (fine locally; a lost block
    * fails the job and a retry restarts the loop). With the stage
    * option `checkpointDir` set, a
    * RELIABLE eager `checkpoint` into that directory (HDFS/object store
    * at cluster scale): hundred-round jobs on preemptible fleets
    * survive executor loss, at the cost of one distributed write per
    * truncation. Round structure and plan flatness are identical in
    * both modes. The caller owns the directory's lifecycle (Spark
    * writes per-app subdirectories; clean them with the app). */
  def checkpointerOf(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    spec.str("checkpointDir") match {
      case Some(dir) =>
        ctx.spark.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint(eager = true)
      case None => Iterate.localCheckpoint
    }

  /** LSH band-bucket skew guard (see [[BucketGuard]]): reads the stage's
    * `maxBucket` option (default [[BucketGuard.DefaultMaxBucket]];
    * `0`/negative disables). */
  def guardBuckets(banded: DataFrame, keys: Seq[String], spec: ComponentSpec,
                   ctx: EtlContext, stage: String): DataFrame =
    BucketGuard.capBuckets(banded, keys,
      spec.int("maxBucket", BucketGuard.DefaultMaxBucket), ctx, stage)

  /** `field` (OFieldTransformer.java:64-110): set a field from a dialect
    * expression or literal, or remove it. */
  def field(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val name = spec.str("fieldName").getOrElse(sys.error("field: fieldName required"))
      val cond = ifCond(spec, ctx)
      if (spec.strOr("operation", "set").equalsIgnoreCase("remove")) {
        cond match {
          case None => df.drop(name)
          case Some(c) => // conditional remove → null out where cond holds
            df.withColumn(name, when(c, lit(null)).otherwise(col(name)))
        }
      } else {
        val value: Column = spec.str("expression") match {
          case Some(e) => OrientExpr.compile(e, ctx.varMap)
          case None => spec.options.get("value") match {
            case Some(s: String) if s.startsWith("$") =>
              // keep the context variable's runtime type (a numeric `let`
              // stays numeric — OAbstractETLComponent.java:501-530 resolves
              // to the typed value, not a string)
              lit(ctx.vars.get(s.drop(1)).orNull)
            case Some(v) => lit(v)
            case None => sys.error("field: expression or value required")
          }
        }
        val finalCol = cond match {
          case Some(c) if df.columns.contains(name) => when(c, value).otherwise(col(name))
          case Some(c) => when(c, value)
          case None => value
        }
        df.withColumn(name, finalCol)
      }
    }

  /** Quote-aware single-line CSV split (the reference's smartSplit,
    * OCSVTransformer.java:106): separator hits inside the quote char are
    * literal; surrounding quotes are stripped. Driver-side, header
    * learning only — data rows go through `from_csv`. */
  private[graft] def smartSplit(line: String, sep: String, quote: String): Seq[String] = {
    val q = if (quote.nonEmpty) quote.head else '"'
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line(i)
      // doubled quote inside a quoted region is the standard CSV escape
      // for a literal quote — from_csv honors it for data rows, so header
      // learning must agree or learned names diverge from parsed rows
      if (c == q && inQ && i + 1 < line.length && line(i + 1) == q) {
        cur.append(q); i += 2
      }
      else if (c == q) { inQ = !inQ; i += 1 }
      else if (!inQ && line.startsWith(sep, i)) { out += cur.toString; cur.clear(); i += sep.length }
      else { cur.append(c); i += 1 }
    }
    out += cur.toString
    out.toSeq
  }

  /** `rename` (ORenameTransformer.java:53-68): `{old: new, …}`. The
    * reserved common component options are NOT rename pairs. */
  def rename(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val reserved = Set("if", "output", "log")
      val pairs = spec.options.filter { case (k, v) =>
        v.isInstanceOf[String] && !reserved(k) }
      pairs.foldLeft(df) { case (d, (o, n)) => d.withColumnRenamed(o, n.toString) }
    }

  /** `csv` transformer (OCSVTransformer.java:92-180): parse a string
    * column into typed fields. Mid-pipeline form of the CSV scan —
    * `from_csv` keeps it inside codegen.
    *
    * Stream semantics match the reference (a single Reader): header
    * consumption and skip ranges apply to the ONE numbered line stream.
    * A directory of per-header files belongs on the fused
    * `spark.read.csv` path (Engine.run), which handles headers per
    * file. */
  def csvTransform(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df0 =>
      val sep = spec.strOr("separator", ",")
      val header = spec.bool("columnsOnFirstLine", dflt = true)
      val quote = spec.strOr("stringCharacter", "\"")
      val skipFrom = spec.long("skipFrom")
      val skipTo = spec.long("skipTo")
      val hasNum = df0.columns.contains("_row_num")

      // skipFrom/skipTo: 0-based line-range skip (OCSVTransformer.java:
      // 95-102); a missing bound is open-ended on that side
      val skipRange: Option[(Long, Long)] = (skipFrom, skipTo) match {
        case (Some(f), Some(t)) =>
          require(f <= t, s"csv: skipFrom ($f) must be <= skipTo ($t)")
          Some((f, t))
        case (Some(f), None) =>
          // an open-ended range starting at (or before) line 0 skips the
          // whole stream — header learning would then .head() an empty
          // frame; reject up front instead of a bare NoSuchElementException
          require(f > 0, s"csv: skipFrom ($f) with no skipTo skips every " +
            "line from the start of the file — nothing remains to parse " +
            "(set skipTo, or use skipFrom > 0)")
          Some((f, Long.MaxValue))
        case (None, Some(t)) => Some((0L, t))
        case (None, None) => None
      }
      var df = skipRange match {
        case Some((f, t)) if hasNum =>
          df0.filter(!(col("_row_num") >= f && col("_row_num") <= t))
        case _ => df0
      }

      // header line number: the first line not inside the skip range
      // (OCSVTransformer.java:95-102 skips run before header consumption
      // at :109-119) — pure arithmetic, no plan-time job
      val headerNum: Long = skipRange match {
        case Some((f, t)) if f <= 0 => t + 1
        case _ => 0L
      }
      // first line for header learning / header dropping: read driver-side
      // through the Hadoop FS API (Sources.firstLine) — replaces round 1's
      // TakeOrdered-over-every-partition job. The fast path is valid ONLY
      // when the header really is the file's raw first line (headerNum 0;
      // Sources.build withholds the path when skipFirst shifted the
      // numbering). Falls back to a bounded single-row job otherwise.
      lazy val firstLineValue: String =
        (if (headerNum == 0L) ctx.vars.get("__lastSourcePath").map(_.toString)
         else None)
          .flatMap(p => Sources.firstLine(ctx.spark, p))
          .getOrElse {
            (if (hasNum) df.filter(col("_row_num") === headerNum) else df.limit(1))
              .select("value").head().getString(0)
          }
      val declared = spec.strList("columns")
      val schema: StructType =
        if (declared.nonEmpty) Sources.schemaFromColumns(declared)
        else {
          // learn names from the first line (OCSVTransformer.java:109-119)
          // with a quote-aware split — a naive separator split would keep
          // quote chars in the names and mis-split quoted headers
          val names = smartSplit(firstLineValue, sep, quote).map(_.trim)
          Sources.schemaFromColumns(names.toIndexedSeq)
        }
      if (header) {
        // drop the header record itself (no extra job: line-number
        // arithmetic when numbered, literal match otherwise — the latter
        // also drops data lines identical to the header, so an observe
        // counter surfaces any EXTRA drops beyond the one header line)
        df = if (hasNum) df.filter(col("_row_num") =!= headerNum)
             else {
               val obs = ctx.newObservation("csv_header_dup")
               ctx.registerCheck(ctx.PendingCheck(obs, "extra", "warning",
                 "[graft csv] data lines identical to the header dropped " +
                 "(headerless-source fallback)"))
               df.observe(obs,
                   (sum(when(col("value") === lit(firstLineValue), 1L)
                     .otherwise(0L)) - 1L).as("extra"))
                 .filter(col("value") =!= lit(firstLineValue))
             }
      }
      var opts = Map("sep" -> sep, "quote" -> quote, "mode" -> "PERMISSIVE")
      spec.str("nullValue").foreach(nv => opts += "nullValue" -> nv)
      var parsed = df.withColumn("__parsed",
        from_csv(col("value"), schema, opts))
      // `errorStats: true` — reference per-field conversion-error policy
      // (OCSVTransformer.java:136-140, 171-174): a malformed cell DROPS
      // THE FIELD (PERMISSIVE null, above), bumps the error counter, and
      // keeps the row. Counting needs the raw cells, so the line is
      // parsed a second time with an all-string schema (both parses fuse
      // into one codegen'd projection; the counter itself is an observe
      // metric riding the terminal action — zero extra jobs). A cell is
      // an ERROR only if the raw cell is present and non-empty (empty /
      // nullValue cells are legitimate nulls) but the typed parse
      // nulled it.
      val typedFields = schema.fields
        .filter(_.dataType != org.apache.spark.sql.types.StringType)
      val errorField = spec.str("errorField")
      val needRaw = typedFields.nonEmpty &&
        (spec.bool("errorStats", dflt = false) || errorField.isDefined)
      if (needRaw) {
        val rawSchema = StructType(schema.fields.map(f =>
          f.copy(dataType = org.apache.spark.sql.types.StringType)))
        parsed = parsed.withColumn("__raw",
          from_csv(col("value"), rawSchema, opts))
      }
      def cellBad(f: org.apache.spark.sql.types.StructField): Column =
        col("__raw").getField(f.name).isNotNull &&
          trim(col("__raw").getField(f.name)) =!= "" &&
          col("__parsed").getField(f.name).isNull
      if (spec.bool("errorStats", dflt = false) && typedFields.nonEmpty) {
        val badCells = typedFields.map(f => when(cellBad(f), 1L).otherwise(0L))
          .reduce(_ + _)
        val obs = ctx.newObservation("csv_badcells")
        ctx.registerCheck(ctx.PendingCheck(obs, "badcells", "error",
          "[graft csv] cells dropped on conversion error"))
        parsed = parsed.observe(obs, sum(badCells).as("badcells"))
      }
      // `errorField: "__errors"` — per-ROW error detail for quarantine
      // routing: array of the field names whose cells failed conversion
      // (null when the row is clean). A pure projection over the same
      // raw/typed double parse the counter uses; a loader's
      // `quarantinePath` splits on it (the badRecordsPath pattern).
      val errCol: Option[Column] = errorField.map { _ =>
        if (typedFields.isEmpty) lit(null).cast("array<string>")
        else {
          val named = array(typedFields.toIndexedSeq.map(f =>
            when(cellBad(f), lit(f.name))): _*)
          val compact = filter(named, _.isNotNull)
          when(size(compact) > 0, compact)
        }
      }
      val cols = schema.fieldNames.map(f => col("__parsed").getField(f).as(f)) ++
        errCol.map(_.as(errorField.get))
      val keep = if (hasNum) Seq(col("_row_num")) else Nil
      parsed.select(keep ++ cols: _*)
    }

  /** `json` transformer (OJSONTransformer.java:30-37): string → document. */
  def jsonTransform(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fieldName = spec.strOr("field", "value")
      val schema = spec.str("schema") match {
        case Some(ddl) => StructType.fromDDL(ddl)
        case None => // infer from a sample row at plan time
          val sample = df.select(fieldName).filter(col(fieldName).isNotNull)
            .take(1).headOption.map(_.getString(0))
            .getOrElse(sys.error(s"json transformer: cannot infer a schema — " +
              s"column `$fieldName` has no non-null rows; declare `schema` explicitly"))
          df.sparkSession.range(1).select(
            schema_of_json(lit(sample))).head().getString(0) match {
            case ddl => org.apache.spark.sql.types.DataType.fromDDL(ddl) match {
              case s: StructType => s
              case other => sys.error(s"json: expected object schema, got $other")
            }
          }
      }
      val keepInput = spec.bool("keepInput", dflt = false)
      val parsed = df.withColumn("__doc", from_json(col(fieldName), schema))
      val docCols = schema.fieldNames.map(f => col("__doc").getField(f).as(f))
      val others =
        if (keepInput) df.columns.filterNot(_ == fieldName).map(col).toSeq else Nil
      parsed.select(others ++ docCols: _*)
    }

  /** `flatten`: recursively promote nested STRUCT fields to top-level
    * columns (`parent<sep>child` names — the JSON-normalization pass
    * after a `json` parse with a nested schema), optionally exploding
    * ONE array column first (`explodeField`, with `indexField` for the
    * element position; exploding several arrays at once would be a
    * cross product and is refused by design — chain stages). Options:
    * `separator` (default `_`), `maxDepth` (default 10). A flattened
    * name colliding with an existing column fails loud. Pure
    * projection (+ one `posexplode` when exploding) — no shuffle,
    * fuses into the scan. */
  /** `hint`: attach a Catalyst join-strategy hint to the CURRENT frame
    * so a downstream stage's join (merge/link/command SQL over
    * `__input`) plans it — the explicit cluster knob when the optimizer
    * can't see that a side is small (post-filter dims, fresh temp views
    * with no stats). Names: `broadcast`, `merge`, `shuffle_hash`,
    * `shuffle_replicate_nl`. Result-identical by construction; only the
    * physical plan changes. */
  def hintStage(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val name = spec.strOr("name", "broadcast").toLowerCase
      val allowed = Set("broadcast", "merge", "shuffle_hash", "shuffle_replicate_nl")
      require(allowed.contains(name),
        s"hint: name must be one of ${allowed.mkString("|")}, got '$name'")
      df.hint(name)
    }

  /** `repartition`: explicit layout control — pre-shuffle onto join/agg
    * keys (co-located downstream exchanges), size output files, or
    * `coalesce` without a shuffle. Options: `num` (target partitions),
    * `by` (comma-separated key columns — hash partitioning), `range`
    * (bool — range partitioning instead, for ordered layouts/zipping),
    * `coalesce` (bool — narrow coalesce to `num`, no shuffle). At 100 TB
    * this is the knob that turns two shuffles (groupBy after join on
    * the same key) into one. */
  def repartitionStage(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val num = spec.long("num").map(_.toInt)
      val by = spec.strOr("by", "").split(",").map(_.trim).filter(_.nonEmpty)
      val useRange = spec.bool("range", dflt = false)
      if (spec.bool("coalesce", dflt = false)) {
        require(by.isEmpty && !useRange, "repartition: coalesce takes only num")
        df.coalesce(num.getOrElse(sys.error("repartition: coalesce needs num")))
      } else (num, by.toSeq) match {
        case (Some(n), Nil) =>
          require(!useRange, "repartition: range needs key columns")
          df.repartition(n)
        case (Some(n), cols) =>
          if (useRange) df.repartitionByRange(n, cols.map(col): _*)
          else df.repartition(n, cols.map(col): _*)
        case (None, cols) if cols.nonEmpty =>
          if (useRange) df.repartitionByRange(cols.map(col): _*)
          else df.repartition(cols.map(col): _*)
        case _ => sys.error("repartition: need num and/or by")
      }
    }

  def flatten(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val sep = spec.strOr("separator", "_")
      val maxDepth = spec.int("maxDepth", 10)
      var cur = df
      spec.str("explodeField").foreach { f =>
        require(cur.columns.contains(f), s"flatten: no column '$f'")
        require(cur.schema(f).dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType],
          s"flatten: explodeField '$f' is not an array column")
        val idx = spec.str("indexField")
        val others = cur.columns.filterNot(_ == f).map(c => col(s"`$c`")).toSeq
        cur = idx match {
          case Some(ix) => cur.select(others :+
            posexplode(col(s"`$f`")).as(Seq(ix, f)): _*)
          case None => cur.select(others :+ explode(col(s"`$f`")).as(f): _*)
        }
      }
      var depth = 0
      while (cur.schema.fields.exists(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.StructType])) {
        depth += 1
        require(depth <= maxDepth,
          s"flatten: nesting deeper than maxDepth=$maxDepth")
        val existing = cur.schema.fields.collect {
          case fd if !fd.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
            fd.name
        }.toSet
        cur = cur.select(cur.schema.fields.toSeq.flatMap { fd =>
          fd.dataType match {
            case st: org.apache.spark.sql.types.StructType =>
              st.fieldNames.toSeq.map { n =>
                val out = fd.name + sep + n
                require(!existing.contains(out),
                  s"flatten: flattened name '$out' collides with an existing " +
                  "column — set `separator` or rename upstream")
                col(s"`${fd.name}`").getField(n).as(out)
              }
            case _ => Seq(col(s"`${fd.name}`"))
          }
        }: _*)
      }
      cur
    }

  /** `log` (OLogTransformer.java:57-60): identity on data; counts rows
    * via `observe` so telemetry costs no extra job — the count is
    * collected with the pipeline's terminal action and printed by
    * [[graft.engine.EtlContext.drainChecks]] (throughput parity with
    * OETLProcessor.java:545-585 without a per-record println). */
  def log(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val prefix = spec.strOr("prefix", "stage")
      val obs = ctx.newObservation(s"log_$prefix")
      ctx.registerCheck(ctx.PendingCheck(obs, "rows", "log", s"[graft log] $prefix"))
      df.observe(obs, count(lit(1)).as("rows"))
    }

  /** `flow` (OFlowTransformer.java:56-61): `skip` drops rows matching `if`;
    * `halt` aborts when any row matches. We implement the documented
    * intent — the reference's config validation rejects `skip`
    * (OFlowTransformer.java:45-47, a bug we do not replicate).
    *
    * `halt` is SINGLE-PASS by default: an `observe` metric counts matching
    * rows during the pipeline's terminal action and
    * [[graft.engine.EtlContext.drainChecks]] raises the halt afterwards —
    * no separate probe job re-executing the upstream (round-1 perf fix).
    * `haltMode: "eager"` restores the strict pre-load gate (one extra
    * bounded probe job) for pipelines that must not load anything on halt.
    */
  def flow(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame = { df =>
    val op = spec.strOr("operation", "skip").toLowerCase
    val cond = ifCond(spec, ctx).getOrElse(lit(true))
    op match {
      case "skip" => df.filter(!coalesce(cond, lit(false)))
      case "halt" =>
        val msg = s"flow halt: condition '${spec.ifExpr.getOrElse("true")}' matched"
        if (spec.strOr("haltMode", "deferred").equalsIgnoreCase("eager")) {
          if (!df.filter(cond).isEmpty) throw new EtlHaltException(msg)
          df
        } else {
          val obs = ctx.newObservation("flow_halt")
          ctx.registerCheck(ctx.PendingCheck(obs, "matched", "halt", msg))
          df.observe(obs, sum(when(coalesce(cond, lit(false)), 1L).otherwise(0L)).as("matched"))
        }
      case other => sys.error(s"flow: unknown operation $other")
    }
  }

  /** `code` (OCodeTransformer.java:67-80). Supported forms:
    *  - `language: "sql"`, `code: "SELECT … FROM __input"` — batch SQL
    *  - `expression` + `fieldName` — dialect expression (same as `field`)
    *  - `ref: "name"` — a Scala DataFrame=>DataFrame hook registered in
    *    [[graft.engine.Engine.registerCode]]
    *  - legacy JavaScript configs (the reference's default engine,
    *    OCommandScript): a MIGRATION SHIM ([[jsShim]]) compiles the
    *    script to Columns once per run — `record.x = expr;`
    *    assignments, `var` locals, compound ops, `if`/`else if`/`else`
    *    guarded assignments, `switch`, literal-bounded `for`/`for…of`/
    *    `while` loops, `function` macros, object-literal namespaces,
    *    template and regex literals, ternaries, `Math.*` and JS
    *    string/array methods. Anything else fails with a message naming
    *    the supported forms (full JS is out of parity scope, SURVEY.md
    *    §7.4 — no script engine offline, and per-record JS is the RBAR
    *    pattern the Spark design removes). */
  def code(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      spec.str("ref") match {
        case Some(ref) =>
          // a driver hook is arbitrary code — it may touch the catalog
          graft.engine.EtlContext.invalidateSessionViews(ctx.spark)
          graft.engine.Engine.codeHook(ref)(df)
        case None => spec.str("code") match {
          case Some(c) if looksLikeJs(spec, c) => jsShim(c, ctx)(df)
          case Some(sql) if spec.strOr("language", "sql").equalsIgnoreCase("sql") =>
            sqlViewLock.synchronized {
              df.createOrReplaceTempView("__input")
              ctx.spark.sql(OrientExpr.resolveString(sql, ctx.varMap))
            }
          case _ =>
            val name = spec.str("fieldName").getOrElse(sys.error("code: fieldName or code required"))
            val e = spec.str("expression").getOrElse(sys.error("code: expression required"))
            df.withColumn(name, OrientExpr.compile(e, ctx.varMap))
        }
      }
    }

  /** JS detection for the migration shim: an explicit javascript/js
    * `language`, or an unlabeled `code` body that references `record.`
    * and is clearly not SQL (the reference's DEFAULT engine was
    * JavaScript, so legacy configs often carry no language tag). */
  private def looksLikeJs(spec: ComponentSpec, code: String): Boolean = {
    val lang = spec.strOr("language", "sql").toLowerCase
    if (lang == "javascript" || lang == "js") return true
    if (lang != "sql") return false // explicit non-JS language wins
    // unlabeled (language defaults to sql): only claim JS when EVERY
    // statement is shim-shaped (assignment / var local / if-guarded
    // assignment) with at least one record assignment — a non-SELECT SQL
    // body that merely mentions a `record.` alias must stay on the SQL path
    spec.str("language").isEmpty && code.contains("record.") && {
      val stmts = jsStatements(code)
      stmts.nonEmpty &&
        stmts.exists(s => JsAssign.pattern.matcher(s).matches() ||
          JsIfAssign.pattern.matcher(s).matches()) &&
        stmts.forall(s => JsAssign.pattern.matcher(s).matches() ||
          JsVarDecl.pattern.matcher(s).matches() ||
          JsIfAssign.pattern.matcher(s).matches() ||
          JsElseAssign.pattern.matcher(s).matches())
    }
  }

  private val JsAssign = raw"record\.([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)".r
  private val JsVarDecl = raw"(?:var|let|const)\s+([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)".r
  private val JsIfAssign =
    raw"if\s*\((.+)\)\s*record\.([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)".r
  private val JsElseIfAssign =
    raw"else\s+if\s*\((.+)\)\s*record\.([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)".r
  private val JsElseAssign =
    raw"else\s+record\.([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)".r
  private val JsLocalAssign = raw"([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)".r

  /** `x += e` / `x -= e` / `x *= e` / `x /= e` / `x++` / `x--` (record
    * fields and locals) expand to their plain-assignment form before
    * statement matching. Statement-anchored, so `==`/`<=` comparisons
    * and operators inside string literals never match. */
  private def jsExpandCompound(s: String): String = {
    val Comp = raw"(record\.[A-Za-z_]\w*|[A-Za-z_]\w*)\s*([+\-*/])=\s*(.+)".r
    val Incr = raw"(record\.[A-Za-z_]\w*|[A-Za-z_]\w*)\s*(\+\+|--)\s*".r
    s match {
      case Comp(t, op, rhs) => s"$t = $t $op ($rhs)"
      case Incr(t, op) => s"$t = $t ${if (op == "++") "+" else "-"} 1"
      case _ => s
    }
  }

  /** The ONE literal and bracket scanner behind every JS-shim text pass.
    * A single walk over `text` records, per offset:
    *  - whether it sits inside a `'…'`, `"…"` or `` `…` `` literal — a
    *    backslash inside a literal escapes the next char (the JS escape,
    *    so `'it\'s'` is one literal), and an unterminated literal runs to
    *    the end of the text;
    *  - the offset closing each `(`, `[` or `{` outside literals — a
    *    closer that does not match the innermost open bracket is skipped,
    *    and an opener left open has no close (−1);
    *  - its bracket depth (a bracket sits at the depth outside it), so
    *    offsets at depth 0 outside every literal are top-level.
    * Lookups read the recorded arrays and never rescan. */
  private[graft] final class JsScan(val text: String) {
    private val n = text.length
    private val litOpen = Array.fill(n)(-1) // opening quote of the enclosing literal
    private val depth = new Array[Int](n)
    private val close = Array.fill(n)(-1)
    locally {
      val open = scala.collection.mutable.ArrayBuffer.empty[Int]
      var quote: Char = 0
      var escaped = false
      var start = -1
      for (i <- 0 until n) {
        val c = text.charAt(i)
        if (quote != 0) {
          litOpen(i) = start
          if (escaped) escaped = false
          else if (c == '\\') escaped = true
          else if (c == quote) quote = 0
        } else c match {
          case '\'' | '"' | '`' => quote = c; start = i; litOpen(i) = i
          case '(' | '[' | '{' => depth(i) = open.length; open += i
          case ')' | ']' | '}' if open.nonEmpty &&
              text.charAt(open.last) == "([{".charAt(")]}".indexOf(c)) =>
            close(open.last) = i; open.dropRightInPlace(1); depth(i) = open.length
          case _ => depth(i) = open.length
        }
      }
    }
    def inLiteral(i: Int): Boolean = litOpen(i) >= 0
    /** Is `i` the quote that opens a literal? */
    def opensLiteral(i: Int): Boolean = litOpen(i) == i
    /** The offset closing the bracket at `i`; −1 when unbalanced. */
    def closing(i: Int): Int = close(i)
    def topLevel(i: Int): Boolean = litOpen(i) < 0 && depth(i) == 0
    /** Matches of `re` that start outside every literal. */
    def outside(re: Regex): Iterator[Regex.Match] =
      re.findAllMatchIn(text).filter(m => !inLiteral(m.start))
    /** Maximal runs of `text`, each tagged `isLiteral`. */
    def spans: Seq[(String, Boolean)] = if (n == 0) Nil else {
      val cuts = (1 until n).filter(i => inLiteral(i) != inLiteral(i - 1))
      (0 +: cuts).zip(cuts :+ n).map { case (a, b) => text.substring(a, b) -> inLiteral(a) }
    }
    /** The pieces between `sep` chars outside literals (top-level ones
      * only, unless `anyDepth`), trimmed, empty pieces dropped. */
    def split(sep: Char, anyDepth: Boolean = false): List[String] = {
      val cuts = (0 until n).filter(i => text.charAt(i) == sep &&
        !inLiteral(i) && (anyDepth || depth(i) == 0))
      (-1 +: cuts).zip(cuts :+ n).map { case (a, b) => text.substring(a + 1, b).trim }
        .filter(_.nonEmpty).toList
    }
  }

  /** The first match of `re` in `s` outside every literal. */
  private def jsFirstOutside(s: String, re: Regex): Option[Regex.Match] =
    new JsScan(s).outside(re).nextOption()

  /** The ONE bounded rewrite loop of the JS-shim passes: each round hands
    * the first `head` match outside every literal, with the text's scan,
    * to `splice`, whose `(end, replacement)` replaces the text from the
    * match start to `end`; the loop ends when no head is left. A head in
    * a literal is data and never masks a real one further on. Round
    * `cap + 1` fails with `capMsg` — the pass is nested too deep (or
    * recursive) to expand. */
  private def jsRewriteAll(code: String, head: Regex, cap: Int, capMsg: String)(
      splice: (JsScan, Regex.Match) => (Int, String)): String = {
    @annotation.tailrec def round(cur: String, k: Int): String = {
      require(k <= cap, capMsg)
      val scan = new JsScan(cur)
      scan.outside(head).nextOption() match {
        case None => cur
        case Some(m) =>
          val (end, repl) = splice(scan, m)
          round(cur.substring(0, m.start) + repl + cur.substring(end), k + 1)
      }
    }
    round(code, 1)
  }

  /** Apply `f` to the regions of `s` OUTSIDE string literals — '&&' in
    * a literal is DATA, and a local name inside a literal must not
    * inline. */
  private def outsideJsLiterals(s: String)(f: String => String): String =
    new JsScan(s).spans.map { case (seg, lit) => if (lit) seg else f(seg) }.mkString

  /** `s` with its string literals removed — for guards that must not
    * trip on words inside literal data. */
  private def withoutJsLiterals(s: String): String =
    new JsScan(s).spans.collect { case (seg, false) => seg }.mkString

  /** Split a JS body into shim statements: single-assignment braces
    * (`if (c) { record.x = e; }` and its else) normalize to the
    * brace-free form first; the split skips literals (a ';' inside a
    * string literal is data, not a terminator); bare `record` /
    * `return record` terminators are dropped. */
  private def jsStatements(code: String): Seq[String] = {
    val normalized = code.replaceAll(
        raw"if\s*\(([^)]*)\)\s*\{\s*record\.([A-Za-z_][A-Za-z0-9_]*)\s*=\s*([^;{}]+);\s*\}",
        "if ($1) record.$2 = $3;")
      .replaceAll(
        raw"else\s*\{\s*record\.([A-Za-z_][A-Za-z0-9_]*)\s*=\s*([^;{}]+);\s*\}",
        "else record.$1 = $2;")
    new JsScan(normalized).split(';', anyDepth = true)
      .filterNot(s => s == "record" || s == "return record")
  }

  /** Substitute identifier `name` with `repl` outside literals; the
    * lookbehind keeps dotted access (`record.i`) untouched. */
  private def substIdent(s: String, name: String, repl: String): String =
    outsideJsLiterals(s)(_.replaceAll(
      raw"(?<!\.)\b" + java.util.regex.Pattern.quote(name) + raw"\b",
      java.util.regex.Matcher.quoteReplacement(repl)))

  /** Fold `record["a" + i]`-style CONSTANT bracket access (every `+`
    * part a string literal or integer after loop-var substitution) to
    * `record.ai` — the dynamic-field idiom legacy loop bodies use. A
    * bracket whose parts don't fold stays as-is (and later fails with
    * the named migration error). */
  private[graft] def jsFoldBrackets(code: String): String = {
    val Bracket = raw"record\s*\[([^\]]*)\]".r
    val scan = new JsScan(code)
    Bracket.replaceAllIn(code, m => {
      if (scan.inLiteral(m.start)) java.util.regex.Matcher.quoteReplacement(m.group(0))
      else {
        val parts = m.group(1).split("\\+").map(_.trim)
        val folded = parts.foldLeft(Option(new StringBuilder)) {
          case (None, _) => None
          case (Some(b), p) =>
            if (p.length >= 2 && ((p.head == '\'' && p.last == '\'') ||
                (p.head == '"' && p.last == '"')))
              Some(b.append(p.substring(1, p.length - 1)))
            else if (p.matches(raw"-?\d+")) Some(b.append(p))
            else None
        }
        folded.map(_.toString) match {
          case Some(name) if name.matches(raw"[A-Za-z_][A-Za-z0-9_]*") =>
            java.util.regex.Matcher.quoteReplacement(s"record.$name")
          case _ => java.util.regex.Matcher.quoteReplacement(m.group(0))
        }
      }
    })
  }

  /** Expand JS template literals (`` `a${expr}b` ``) to dialect string
    * concatenation BEFORE any other shim pass:
    * `('' + 'a' + (expr) + 'b')`. The first backtick that opens a
    * [[JsScan]] literal starts a template (a backtick inside '…'/"…" is
    * data); its text is decoded here, each `${}` ends at the brace the
    * scanner matches (nested templates ride as quoted regions) and the
    * interpolated expression recursively expands, and the text after
    * the template expands on a fresh scan. Backslash escapes follow JS:
    * `\n`/`\t`/`\r` are control chars, any other escaped char is itself
    * (`` \` ``, `\$`, `\\`). The `''` seed keeps a bare `${x}` template a
    * STRING — the dialect's `+` concatenates once a side is stringy
    * (OrientExpr.scala's stringy routing). */
  private[graft] def jsExpandTemplates(code: String): String = {
    val scan = new JsScan(code)
    code.indices.find(i => code.charAt(i) == '`' && scan.opensLiteral(i)) match {
      case None => code
      case Some(start) =>
        val parts = scala.collection.mutable.ArrayBuffer.empty[String]
        val text = new StringBuilder
        def flushText(): Unit = if (text.nonEmpty) {
          // control chars re-encode as dialect escapes (OrientExpr
          // decodes \n \t \r inside string literals) — a RAW newline in
          // the emitted literal would break the statement-anchored shim
          // regexes, which never span lines
          parts += "'" + text.toString
            .replace("\\", "\\\\").replace("'", "\\'")
            .replace("\n", "\\n").replace("\t", "\\t").replace("\r", "\\r") + "'"
          text.clear()
        }
        var i = start + 1
        var closed = false
        while (i < code.length && !closed) {
          val t = code.charAt(i)
          if (t == '\\' && i + 1 < code.length) {
            // JS escape semantics: \n/\t/\r are control chars, anything
            // else escapes to the char itself (\` \$ \\ \' …) — dropping
            // the backslash blindly would corrupt `a\nb` to "anb" (r18)
            text.append(code.charAt(i + 1) match {
              case 'n' => '\n'
              case 't' => '\t'
              case 'r' => '\r'
              case c => c
            })
            i += 2
          } else if (t == '`') { closed = true; i += 1 }
          else if (t == '$' && i + 1 < code.length && code.charAt(i + 1) == '{') {
            flushText()
            val close = new JsScan(code.substring(i + 1)).closing(0)
            require(close > 0, "code: unterminated ${…} in JS template literal")
            parts += "(" + jsExpandTemplates(code.substring(i + 2, i + 1 + close)) + ")"
            i += close + 2
          } else { text.append(t); i += 1 }
        }
        require(closed, "code: unterminated JS template literal")
        flushText()
        code.substring(0, start) + (
          if (parts.isEmpty) "''"
          else if (parts.length == 1 && parts.head.startsWith("'")) parts.head
          else ("''" +: parts).mkString("(", " + ", ")")) +
          jsExpandTemplates(code.substring(i))
    }
  }

  /** Expand `switch (sel) { case v: record.x = e; break; … default: … }`
    * to independent guarded assignments:
    * `if (coalesce((sel) === (v), false) && !…earlier cases…) record.x
    * = e;` per case statement, with the default's statements guarded by
    * the conjunction of every case's negation. The coalesce keeps a
    * NULL selector matching no case and running the default (JS: null
    * === v is false); excluding earlier cases keeps JS's
    * first-match-only semantics under duplicate/overlapping values.
    * Contract (named fails for the rest):
    *  - every non-final section must end with `break;` (fall-through
    *    has no one-pass guarded-assignment spelling);
    *  - case bodies hold `record.<field> = expr;` assignments only
    *    (locals/compound ops inside a case would need statement-level
    *    `if` blocks the shim doesn't model);
    *  - neither the selector nor any case-value expression may READ a
    *    column any case assigns (each emitted `if` re-evaluates them
    *    AFTER earlier writes — the same hazard the if/else-chain guard
    *    rejects). */
  private[graft] def jsExpandSwitch(code: String): String =
    jsRewriteAll(code, raw"\bswitch\s*\(".r, 32,
        "code: JS switch nesting too deep to expand") { (scan, m) =>
      val cur = scan.text
      val openParen = m.end - 1
      val closeParen = scan.closing(openParen)
      require(closeParen > openParen, "code: unbalanced switch selector")
      val sel = cur.substring(openParen + 1, closeParen).trim
      val openBrace = cur.indexOf('{', closeParen)
      require(openBrace > 0 &&
        cur.substring(closeParen + 1, openBrace).trim.isEmpty,
        "code: switch body must be a braced block")
      val closeBrace = scan.closing(openBrace)
      require(closeBrace > openBrace, "code: unbalanced switch body")
      val body = cur.substring(openBrace + 1, closeBrace)
      // label positions (case …: / default:), literal-aware. The
      // terminating ':' is found by SCANNING (skipping quoted
      // regions), not a [^:]* regex — `case 'a:b':` keeps its
      // embedded colon, and subset-breaking case values (ternaries,
      // braces) fail NAMED here instead of surfacing downstream as
      // a misleading parse error (r18 advice).
      val bodyScan = new JsScan(body)
      val kws = bodyScan.outside(raw"\b(case|default)\b".r)
        .filterNot(km => km.start > 0 && body.charAt(km.start - 1) == '.')
        .toList
      // (value, labelStart, bodyStart-after-':')
      val labels = kws.map { km =>
        if (km.group(1) == "default") {
          var j = km.end
          while (j < body.length && body.charAt(j).isWhitespace) j += 1
          require(j < body.length && body.charAt(j) == ':',
            "code: `default` in a switch body must be a label (default:)")
          (None: Option[String], km.start, j + 1)
        } else {
          val colon = (km.end until body.length).find { j =>
            val c = body.charAt(j)
            !bodyScan.inLiteral(j) && (c == ':' || {
              require(c != '?',
                "code: ternary case values in a switch are outside " +
                "the shim subset — compute the value into a column " +
                "before the switch or use a Scala hook via `ref`")
              require(c != '{' && c != '}' && c != ';',
                "code: switch case label missing its ':' or holds a " +
                "brace/statement — case values are expressions only")
              false
            })
          }.getOrElse(-1)
          require(colon > 0, "code: switch case label without a ':'")
          (Some(body.substring(km.end, colon).trim), km.start, colon + 1)
        }
      }
      require(labels.nonEmpty,
        "code: switch without case/default labels")
      require(body.substring(0, labels.head._2).trim.isEmpty,
        "code: statements before the first case label in a switch")
      val sections = labels.zipWithIndex.map { case ((value, _, after), k) =>
        val until =
          if (k + 1 < labels.length) labels(k + 1)._2 else body.length
        (value, body.substring(after, until))
      }
      sections.flatMap(_._1).foreach(v => require(v.nonEmpty,
        "code: empty case label in a switch"))
      val parsed = sections.zipWithIndex.map { case ((value, text), k) =>
        var stmts = jsStatements(text)
        val hadBreak = stmts.lastOption.contains("break")
        if (hadBreak) stmts = stmts.dropRight(1)
        require(hadBreak || k == sections.length - 1,
          "code: switch case without a trailing `break;` falls " +
          "through — no one-pass guarded-assignment spelling exists; " +
          "duplicate the shared statements per case or use a Scala " +
          "hook via `ref` (Engine.registerCode)")
        require(stmts.forall(s =>
          JsAssign.pattern.matcher(s).matches()),
          "code: switch case bodies translate record.<field> = expr; " +
          "assignments only — move locals/compound ops outside the " +
          "switch or use a Scala hook via `ref`")
        (value, stmts)
      }
      // read-after-write hazard (the if/else-chain rule): the
      // selector AND every case-value expression re-evaluate in each
      // emitted guard AFTER earlier case writes — any of them
      // reading an assigned column silently diverges from JS
      val assigned = parsed.flatMap(_._2).collect {
        case JsAssign(f, _) => f }.distinct
      val readTexts = withoutJsLiterals(sel) +:
        parsed.collect { case (Some(v), _) => withoutJsLiterals(v) }
      assigned.foreach { f =>
        readTexts.foreach { t =>
          require(!t.matches(raw"(?is).*\b" +
              java.util.regex.Pattern.quote(f) + raw"\b.*"),
            s"code: switch selector or a case value reads record.$f, " +
            "which a case assigns — the emitted guards re-evaluate " +
            "them AFTER earlier writes; switch on a differently-named " +
            "column instead")
        }
      }
      // null-safe matched-tests (a NULL selector matches no case and
      // runs the default, like JS); each case excludes every EARLIER
      // case so duplicate/overlapping values keep JS's
      // first-match-only semantics. A literal `case null:` maps to
      // an IS NULL guard — JS strict equality matches switch(null)
      // to case null, which `=== null` (three-valued) never would
      // (r18 advice).
      val matchedOf = parsed.collect {
        case (Some(v), _) if v == "null" => s"(($sel) IS NULL)"
        case (Some(v), _) => s"coalesce(($sel) === ($v), false)" }
      var caseIdx = 0
      val emitted = parsed.flatMap {
        case (Some(_), stmts) =>
          val cond = (matchedOf(caseIdx) +:
            matchedOf.take(caseIdx).map(c => s"!($c)")).mkString(" && ")
          caseIdx += 1
          stmts.map(s => s"if ($cond) $s;")
        case (None, stmts) =>
          if (matchedOf.isEmpty) stmts.map(_ + ";")
          else {
            val noneMatch = matchedOf.map(c => s"!($c)").mkString(" && ")
            stmts.map(s => s"if ($noneMatch) $s;")
          }
      }.mkString(" ")
      (closeBrace + 1, emitted)
    }

  /** Unroll literal-bounded `for` loops:
    * `for (var i = A; i (<|<=) B; i(++|+= S)) { body }` expands to the
    * body repeated per iteration with `i` substituted as a literal
    * (dotted access like `record.i` untouched), then constant bracket
    * access folds (`record["q" + i]` → `record.q2`). Nested loops
    * expand on the re-scan. Bounds are config LITERALS by contract —
    * data-dependent trip counts have no place in a compiled plan — and
    * a loop past `maxUnroll` iterations fails with the migration error
    * (an unrolled plan column per iteration is the cost model). */
  private[graft] def jsUnrollLoops(code: String, maxUnroll: Int = 64): String = {
    val ForHead = (raw"for\s*\(\s*(?:var|let)\s+([A-Za-z_]\w*)\s*=\s*(-?\d+)\s*;" +
      raw"\s*\1\s*(<=|<)\s*(-?\d+)\s*;\s*\1\s*(?:(\+\+)|\+=\s*(\d+))\s*\)").r
    jsRewriteAll(code, ForHead, 32, "code: JS loop nesting too deep to unroll") { (scan, m) =>
      val cur = scan.text
      val (v, a, cmp, b) = (m.group(1), m.group(2).toLong, m.group(3), m.group(4).toLong)
      val step = Option(m.group(6)).map(_.toLong).getOrElse(1L)
      require(step > 0, s"code: JS for-loop step must be positive ($v += $step)")
      val hi = if (cmp == "<=") b else b - 1
      val values = (a to hi by step).toSeq
      require(values.size <= maxUnroll,
        s"code: JS for-loop over $v unrolls to ${values.size} iterations " +
        s"(cap $maxUnroll) — each iteration becomes plan columns; " +
        "restructure as SQL (language: \"sql\") or a Scala hook (`ref`)")
      val open = cur.indexOf('{', m.end)
      require(open >= 0 && cur.substring(m.end, open).trim.isEmpty,
        s"code: JS for-loop body must be a braced block: `${m.group(0)}`")
      val close = scan.closing(open)
      require(close > open, s"code: unbalanced braces in JS for-loop body")
      val body = cur.substring(open + 1, close)
      val expanded = values.map(i =>
        jsFoldBrackets(substIdent(body, v, i.toString))).mkString(" ")
      (close + 1, expanded)
    }
  }

  /** Unroll `for (var x of [e1, e2, …]) { body }` over a LITERAL array
    * (the bounded-for recipe): the body repeats per element with `x`
    * substituted — quoted-string elements verbatim, other elements
    * parenthesized (the locals-inline rule). A data-dependent iterable
    * (or `for…in`) fails with the migration error: its trip count
    * cannot compile into a plan. */
  private[graft] def jsUnrollForOf(code: String, maxUnroll: Int = 64): String = {
    val Head = raw"for\s*\(\s*(?:var|let|const)\s+([A-Za-z_]\w*)\s+of\b".r
    val out = jsRewriteAll(code, Head, 32,
        "code: JS for…of nesting too deep to unroll") { (scan, m) =>
      val cur = scan.text
      val v = m.group(1)
      var j = m.end
      while (j < cur.length && cur.charAt(j).isWhitespace) j += 1
      require(j < cur.length && cur.charAt(j) == '[',
        "code: JS for…of iterates a LITERAL array only — a variable " +
        "iterable cannot unroll into a plan; use .map/.filter or a " +
        "Scala hook via `ref`")
      val closeBr = scan.closing(j)
      require(closeBr > j, "code: unbalanced [ ] in JS for…of iterable")
      val elems = new JsScan(cur.substring(j + 1, closeBr)).split(',')
      require(elems.nonEmpty, "code: JS for…of over an empty array")
      require(elems.size <= maxUnroll,
        s"code: JS for…of over $v unrolls to ${elems.size} iterations " +
        s"(cap $maxUnroll) — each iteration becomes plan columns; " +
        "restructure as SQL (language: \"sql\") or a Scala hook (`ref`)")
      var p = closeBr + 1
      while (p < cur.length && cur.charAt(p).isWhitespace) p += 1
      require(p < cur.length && cur.charAt(p) == ')',
        "code: expected ')' after the JS for…of iterable")
      val open = cur.indexOf('{', p + 1)
      require(open >= 0 && cur.substring(p + 1, open).trim.isEmpty,
        "code: JS for…of body must be a braced block")
      val close = scan.closing(open)
      require(close > open, "code: unbalanced braces in JS for…of body")
      val body = cur.substring(open + 1, close)
      val expanded = elems.map { e =>
        val repl =
          if ((e.startsWith("'") && e.endsWith("'") && e.length >= 2) ||
              (e.startsWith("\"") && e.endsWith("\"") && e.length >= 2) ||
              e.matches(raw"-?\d+(\.\d+)?")) e
          else s"($e)"
        jsFoldBrackets(substIdent(body, v, repl))
      }.mkString(" ")
      (close + 1, expanded)
    }
    jsFirstOutside(out, raw"\bfor\s*\(\s*(?:var|let|const)\s+\w+\s+(?:of|in)\b".r)
      .foreach { _ =>
        sys.error("code: JS for…of iterates a LITERAL array only " +
          "(`for (var x of ['a', 'b']) { … }`), and for…in has no " +
          "plan spelling — a data-dependent iterable cannot unroll; " +
          "use the dialect's array HOFs (.map/.filter) or a Scala " +
          "hook via `ref` (Engine.registerCode)")
      }
    out
  }

  /** Encode text as a dialect string literal (OrientExpr lexing rules:
    * backslash escapes with \n\t\r decoded, \X → X otherwise). */
  private def dialectQuote(s: String): String =
    "'" + s.flatMap {
      case '\\' => "\\\\"
      case '\'' => "\\'"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case '\r' => "\\r"
      case c => c.toString
    } + "'"

  /** Rewrite JS regex LITERALS in the two supported call positions —
    * `.replace(/re/flags, to)` and `.match(/re/flags)` — to the
    * dialect's quoted-pattern methods (`.regexreplace('re', to)`,
    * `.regexmatches('re')`). Flags map to inline groups ((?i)(?m)(?s));
    * `.replace` REQUIRES `g` (first-match-only replace has no
    * regexp_replace spelling — named fail), `u`/`y` have no JVM
    * translation. The pattern is compile-validated HERE so a bad regex
    * names itself instead of dying inside codegen. `.match` returns
    * plan-level TRUTH (rlike boolean), not JS's match-array — the
    * `if (s.match(/re/))` guard idiom, documented deviation. */
  private[graft] def jsRewriteRegexLiterals(code: String): String =
    jsRewriteAll(code, raw"\.\s*(replace|match)\s*\((?=\s*/)".r, 256,
        "code: too many JS regex literals to rewrite") { (scan, m) =>
      val cur = scan.text
      val method = m.group(1)
      var j = m.end
      while (cur.charAt(j).isWhitespace) j += 1
      val start = j + 1
      var k = start
      var inClass = false
      var closed = -1
      while (k < cur.length && closed < 0) {
        val c = cur.charAt(k)
        if (c == '\\') k += 2
        else if (c == '[' && !inClass) { inClass = true; k += 1 }
        else if (c == ']' && inClass) { inClass = false; k += 1 }
        else if (c == '/' && !inClass) closed = k
        else {
          require(c != '\n' && c != '\r',
            "code: unterminated JS regex literal")
          k += 1
        }
      }
      require(closed > 0, "code: unterminated JS regex literal")
      val pat = cur.substring(start, closed)
      var f = closed + 1
      while (f < cur.length && cur.charAt(f).isLetter) f += 1
      val flags = cur.substring(closed + 1, f)
      flags.find(ch => !"gims".contains(ch)).foreach(ch =>
        sys.error(s"code: JS regex flag '$ch' has no plan translation " +
          "(supported: g, i, m, s)"))
      if (method == "replace" && !flags.contains('g'))
        sys.error("code: .replace(/re/) without the g flag replaces " +
          "the FIRST match only, which regexp_replace cannot spell — " +
          "add the g flag, or use the literal string form " +
          ".replace('from', 'to')")
      val prefix = Seq('i' -> "(?i)", 'm' -> "(?m)", 's' -> "(?s)")
        .collect { case (ch, p) if flags.contains(ch) => p }.mkString
      val full = prefix + pat
      try java.util.regex.Pattern.compile(full)
      catch {
        case e: java.util.regex.PatternSyntaxException =>
          sys.error(s"code: invalid JS regex /$pat/: ${e.getDescription}")
      }
      val newName =
        if (method == "replace") "regexreplace" else "regexmatches"
      (f, s".$newName(${dialectQuote(full)}")
    }

  /** Unroll the bounded-counter `while` idiom:
    * `var i = A; while (i (<|<=) B) { body…; i++ }` — literal init A,
    * literal bound B, and a trailing literal step (`i++`, `i += S`, or
    * `i = i + S`) as the LAST statement of the body. Exactly the `for`
    * unroller's contract in while-clothing: the trip count is known at
    * compile time, the body repeats with `i` substituted per iteration,
    * and a trailing `var i = <final>;` keeps post-loop reads of the
    * counter correct. Any OTHER `while` (data-dependent condition,
    * non-adjacent init, missing step) fails with the migration error —
    * a loop whose trip count depends on data cannot compile to a plan. */
  private[graft] def jsUnrollWhile(code: String, maxUnroll: Int = 64): String = {
    val WhileHead = (raw"(?:var|let)\s+([A-Za-z_]\w*)\s*=\s*(-?\d+)\s*;\s*" +
      raw"while\s*\(\s*\1\s*(<=|<)\s*(-?\d+)\s*\)").r
    val out = jsRewriteAll(code, WhileHead, 32,
        "code: JS while nesting too deep to unroll") { (scan, m) =>
      val cur = scan.text
      val (v, a, cmp, b) =
        (m.group(1), m.group(2).toLong, m.group(3), m.group(4).toLong)
      val open = cur.indexOf('{', m.end)
      require(open >= 0 && cur.substring(m.end, open).trim.isEmpty,
        s"code: JS while body must be a braced block: `${m.group(0)}`")
      val close = scan.closing(open)
      require(close > open, "code: unbalanced braces in JS while body")
      val body0 = cur.substring(open + 1, close)
      val vq = java.util.regex.Pattern.quote(v)
      val Inc = (raw"(?s)(.*?)\s*(?:$vq\s*\+\+|$vq\s*\+=\s*(\d+)|" +
        raw"$vq\s*=\s*$vq\s*\+\s*(\d+))\s*;?\s*$$").r
      val (body, step) = body0 match {
        case Inc(rest, s1, s2) =>
          (rest, Option(s1).orElse(Option(s2)).map(_.toLong).getOrElse(1L))
        case _ => sys.error(s"code: JS while over $v needs a trailing " +
          s"literal step ($v++ / $v += S / $v = $v + S) as the LAST " +
          "statement of the body")
      }
      require(step > 0, s"code: JS while step must be positive ($v += $step)")
      val hi = if (cmp == "<=") b else b - 1
      val values = (a to hi by step).toSeq
      require(values.size <= maxUnroll,
        s"code: JS while over $v unrolls to ${values.size} iterations " +
        s"(cap $maxUnroll) — each iteration becomes plan columns; " +
        "restructure as SQL (language: \"sql\") or a Scala hook (`ref`)")
      val expanded = values.map(i =>
        jsFoldBrackets(substIdent(body, v, i.toString))).mkString(" ")
      val fin = if (values.isEmpty) a else values.last + step
      (close + 1, expanded + s" var $v = $fin; ")
    }
    jsFirstOutside(out, raw"\bwhile\s*\(".r).foreach { _ =>
      sys.error("code: JS `while` must be the bounded counter idiom " +
        "`var i = A; while (i < B) { …; i++; }` — literal init " +
        "IMMEDIATELY before the loop, literal bound, and a trailing " +
        "literal step (i++ / i += S / i = i + S) as the body's last " +
        "statement. A data-dependent trip count cannot compile to a " +
        "plan — use a Scala hook via `ref` (Engine.registerCode)")
    }
    out
  }

  /** Extract `function name(args) { … }` definitions as inline macros;
    * returns (code without the defs, name → (params, body-expression)).
    * Bodies richer than a single `return expr;` compile through
    * [[jsFnBodyToExpr]]: `var` locals inline, `if (cond) return expr;`
    * early returns become ternary arms, the trailing `return` is the
    * default — so guard-clause-style functions translate to one
    * expression. Anything else fails with the migration message. */
  private[graft] def jsExtractFunctions(code: String): (String, Map[String, (Seq[String], String)]) = {
    val FnHead = raw"function\s+([A-Za-z_]\w*)\s*\(([^)]*)\)\s*\{".r
    var fns = Map.empty[String, (Seq[String], String)]
    val out = jsRewriteAll(code, FnHead, 256,
        "code: too many JS functions to extract") { (scan, m) =>
      val close = scan.closing(m.end - 1)
      require(close > 0, s"code: unbalanced braces in function ${m.group(1)}")
      val params = m.group(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val body = scan.text.substring(m.end, close)
      fns += m.group(1) -> ((params, jsFnBodyToExpr(m.group(1), body)))
      (close + 1, " ")
    }
    (out, fns)
  }

  /** Compile a JS function BODY to ONE expression. Supported statement
    * shapes, in any order: `var x = expr;` locals (inlined textually,
    * redefinition chains resolve through their predecessors),
    * `if (cond) return expr;` guard clauses (braces allowed around the
    * single return) → ternary arms over the compiled remainder, and a
    * final `return expr;` default. The result is plain ternary text —
    * [[jsRewriteTernary]] translates it (recursing into the parens)
    * after macro inlining. */
  private[graft] def jsFnBodyToExpr(name: String, body: String): String = {
    // `if (cond) { return e; }` → unbraced, so jsStatements's `;` split
    // doesn't cut inside the braces (condition may nest one paren
    // level). Whole-body regex with a literal guard — a segment-wise
    // rewrite would never match across a quoted return value.
    val IfBrace =
      raw"if\s*\(([^()]*(?:\([^()]*\)[^()]*)*)\)\s*\{\s*return\s+([^;{}]+);\s*\}".r
    val bodyScan = new JsScan(body)
    val normalized = IfBrace.replaceAllIn(body, m =>
      java.util.regex.Matcher.quoteReplacement(
        if (bodyScan.inLiteral(m.start)) m.group(0)
        else s"if (${m.group(1)}) return ${m.group(2)};"))
    val VarDecl = raw"(?s)var\s+([A-Za-z_]\w*)\s*=\s*(.+)".r
    val Return = raw"(?s)return\s+(.+)".r
    def inline(e: String, locals: List[(String, String)]): String =
      locals.foldLeft(e) { case (acc, (n, rhs)) =>
        substIdent(acc, n, "(" + rhs + ")") }
    def go(rest: List[String], locals: List[(String, String)]): String = rest match {
      case VarDecl(v, rhs) :: tail => go(tail, (v, inline(rhs, locals)) :: locals)
      case s :: tail if s.matches(raw"(?s)if\s*\(.*") =>
        val open = s.indexOf('(')
        val close = new JsScan(s).closing(open)
        require(close > open, s"code: unbalanced parens in `$s` (function $name)")
        s.substring(close + 1).trim match {
          case Return(e) =>
            s"((${inline(s.substring(open + 1, close), locals)}) ? " +
              s"(${inline(e, locals)}) : (${go(tail, locals)}))"
          case other => sys.error(s"code: function $name: `if (…) $other` — " +
            "inside a function, `if` must be a guard clause " +
            "`if (cond) return expr;`; assignments belong in the " +
            "top-level script")
        }
      case Return(e) :: tail =>
        require(tail.isEmpty,
          s"code: function $name has unreachable statements after `return`")
        inline(e, locals)
      case Nil => sys.error(s"code: function $name must end with " +
        "`return expr;` on every path (a fall-through path has no value " +
        "to inline)")
      case other :: _ => sys.error(s"code: function $name body statement " +
        s"`$other` is not translatable — supported: `var x = expr;` " +
        "locals, `if (cond) return expr;` guard clauses, and a final " +
        "`return expr;` (use a Scala hook via `ref` for anything richer)")
    }
    go(jsStatements(normalized).toList, Nil)
  }

  /** Inline macro CALLS of the extracted functions into `s`, first call
    * first: arguments split on top-level commas (`f()` has none),
    * parameters substituted into the body, result parenthesized. The
    * rewrite loop's cap bounds the inlines — recursion cannot terminate
    * in a macro expansion and is rejected. */
  private def jsInlineCalls(s: String, fns: Map[String, (Seq[String], String)]): String =
    if (fns.isEmpty) s
    else jsRewriteAll(s, (raw"(?<![\w.])(" + fns.keys.mkString("|") + raw")\s*\(").r, 256,
        "code: JS function calls nest too deep to inline " +
        "(recursive functions cannot inline — use a Scala hook via `ref`)") { (scan, m) =>
      val name = m.group(1)
      val (params, body) = fns(name)
      val open = m.end - 1
      val close = scan.closing(open)
      require(close > open, s"code: unbalanced parens in call to $name(…)")
      val args = new JsScan(scan.text.substring(open + 1, close)).split(',')
      require(args.size == params.size,
        s"code: $name(…) takes ${params.size} argument(s), got ${args.size}")
      // two-phase substitution: params -> opaque placeholders first,
      // THEN placeholders -> argument text. Direct sequential
      // substitution would re-rewrite an argument that happens to
      // contain a LATER parameter's name (scale(f, 10) with params
      // (x, f): x -> "(f)" and then f -> "(10)" corrupts both)
      val withPlaceholders = params.zipWithIndex.foldLeft(body) {
        case (b, (p, i)) => substIdent(b, p, s"\u0001$i\u0001")
      }
      val inlined = args.zipWithIndex.foldLeft(withPlaceholders) {
        case (b, (a, i)) => b.replace(s"\u0001$i\u0001", s"($a)")
      }
      (close + 1, "(" + inlined + ")")
    }

  /** JS `Math.*` calls → dialect free functions (`Math.log` is the
    * NATURAL log in JS → dialect `ln`; `Math.PI` inlines as a literal).
    * An unsupported Math member (`Math.random` above all — it has no
    * deterministic plan translation) fails with the supported list. */
  private[graft] def jsRewriteMath(s: String): String = {
    val fns = Map("abs" -> "abs", "floor" -> "floor", "ceil" -> "ceil",
      "round" -> "round", "sqrt" -> "sqrt", "pow" -> "pow", "min" -> "min",
      "max" -> "max", "exp" -> "exp", "log" -> "ln", "log10" -> "log10",
      "sign" -> "sign")
    outsideJsLiterals(s) { seg =>
      raw"\bMath\s*\.\s*(\w+)".r.replaceAllIn(seg, m => m.group(1) match {
        case "PI" => "3.141592653589793"
        case "E"  => "2.718281828459045"
        case f if fns.contains(f) => fns(f)
        case f => sys.error(s"code: Math.$f has no plan translation — " +
          s"supported: ${fns.keys.toSeq.sorted.mkString(", ")}, PI, E " +
          "(Math.random is nondeterministic by definition; use the " +
          "dialect's uuid()/hash methods or a Scala hook)")
      })
    }
  }

  /** `cond ? a : b` → dialect `if(cond, a, b)`, right-associative,
    * paren/bracket/literal-aware, applied recursively to all three
    * parts (so chained `a ? b : c ? d : e` and nested parenthesized
    * ternaries both translate). */
  private[graft] def jsRewriteTernary(s: String): String = {
    if (!s.contains('?')) return s
    val scan = new JsScan(s)
    val top = s.indices.filter(scan.topLevel)
    top.find(s.charAt(_) == '?') match {
      case Some(q) =>
        var nest = 0 // `?`s opened after q whose `:` is still ahead
        val colon = top.find(i => i > q && (s.charAt(i) match {
          case '?' => nest += 1; false
          case ':' => nest == 0 || { nest -= 1; false }
          case _ => false
        })).getOrElse(-1)
        require(colon > q, s"code: ternary `?` without a matching `:` in `$s`")
        def part(from: Int, until: Int) = jsRewriteTernary(s.substring(from, until)).trim
        s"if((${part(0, q)}), (${part(q + 1, colon)}), (${part(colon + 1, s.length)}))"
      case None =>
        // No top-level `?` — but a ternary may hide one bracket level
        // down (`(b ? c : d)` arriving here as a recursive part):
        // rewrite the interior of every top-level (…)/[…] group
        val sb = new StringBuilder
        var from = 0
        top.filter(i => s.charAt(i) == '(' || s.charAt(i) == '[').foreach { i =>
          val j = scan.closing(i)
          require(j > i, s"code: unbalanced '${s.charAt(i)}' in `$s`")
          sb.append(s.substring(from, i + 1)).append(jsRewriteTernary(s.substring(i + 1, j)))
          from = j
        }
        sb.append(s.substring(from)).toString
    }
  }

  /** Expand `var o = { k1: expr, k2: expr };` OBJECT literals: each
    * later `o.k1` member read inlines as the (parenthesized) member
    * expression — objects are compile-time namespaces, like locals.
    * Guards: a member write (`o.k = …`), an unknown member, or passing
    * the bare object name onward all fail with named errors (an object
    * VALUE has no column translation). A member name inside a string
    * literal is data and stays. */
  private[graft] def jsExpandObjects(code: String): String =
    jsRewriteAll(code, raw"var\s+([A-Za-z_]\w*)\s*=\s*\{".r, 256,
        "code: too many JS object literals to expand") { (scan, m) =>
      val cur = scan.text
      val open = m.end - 1
      val close = scan.closing(open)
      require(close > open,
        s"code: unbalanced braces in object literal var ${m.group(1)}")
      val name = m.group(1)
      val bodyTxt = cur.substring(open + 1, close)
      // members split on top-level commas; a repeated key keeps its
      // first position and its last value
      val members = scala.collection.mutable.LinkedHashMap.from(
        new JsScan(bodyTxt).split(',').map { kv =>
          val colonAt = kv.indexOf(':')
          require(colonAt > 0, s"code: object $name: member `$kv` " +
            "is not a `key: expr` pair")
          val k = kv.substring(0, colonAt).trim
            .stripPrefix("'").stripSuffix("'")
            .stripPrefix("\"").stripSuffix("\"")
          require(k.matches(raw"[A-Za-z_]\w*"),
            s"code: object $name: member name `$k` is not an identifier")
          k -> kv.substring(colonAt + 1).trim
        })
      var rest = cur.substring(close + 1).replaceFirst(raw"^\s*;", "")
      // member writes fail loud BEFORE the read-inline would orphan them
      val q = java.util.regex.Pattern.quote(name)
      jsFirstOutside(rest, (raw"(?<![\w.])$q\s*\.\s*(\w+)\s*(\+\+|--|[+\-*/]?=(?!=))").r)
        .foreach { mm => sys.error(s"code: object $name is a compile-time " +
          s"namespace — `$name.${mm.group(1)} ${mm.group(2)}` mutation has " +
          "no plan translation; assign through record fields or locals") }
      // inline member reads to a FIXPOINT: a member whose value
      // reads another member ({a: 1, b: o.a}) re-introduces `o.a`
      // when `o.b` is inlined, so one pass per member is not enough
      var inlinePass = 0
      var inlineChanged = true
      while (inlineChanged) {
        inlinePass += 1
        require(inlinePass <= 16,
          s"code: object $name: member references are cyclic or " +
            "nested too deeply to inline")
        val before = rest
        members.foreach { case (k, v) =>
          rest = outsideJsLiterals(rest)(_.replaceAll(
            raw"(?<![\w.])$q\s*\.\s*" + java.util.regex.Pattern.quote(k) + raw"\b",
            java.util.regex.Matcher.quoteReplacement(s"($v)")))
        }
        inlineChanged = rest != before
      }
      jsFirstOutside(rest, (raw"(?<![\w.])$q\s*\.\s*(\w+)").r).foreach { mm =>
        sys.error(s"code: object $name has no member " +
          s"`${mm.group(1)}` (members: ${members.keys.mkString(", ")})")
      }
      jsFirstOutside(rest, (raw"(?<![\w.])$q\b(?!\s*\.)").r).foreach { _ =>
        sys.error(s"code: object $name is a compile-time namespace — " +
          "its VALUE cannot flow into the plan; read members " +
          members.keys.headOption.fold("")(h => s"($name.$h) ") +
          "instead")
      }
      (cur.length, " " + rest)
    }

  /** Legacy-JS translation (the reference's default `code` engine was
    * JavaScript — OCodeTransformer.java:67-80). Text passes first
    * rewrite the script into statements over the dialect, each reading
    * literals and brackets through [[JsScan]] and expanding through
    * [[jsRewriteAll]]:
    *  - template literals → string concatenation ([[jsExpandTemplates]]);
    *  - regex literals in `.replace(/re/g, to)` / `.match(/re/)` →
    *    quoted-pattern methods ([[jsRewriteRegexLiterals]]);
    *  - `switch` blocks → guarded assignments ([[jsExpandSwitch]]);
    *  - `var o = { k: expr, … }` object literals → compile-time
    *    namespaces whose member reads inline ([[jsExpandObjects]]);
    *  - `function f(a, b) { … }` defs → inline macros — calls substitute
    *    arguments textually, parenthesized; bodies may hold `var` locals
    *    and `if (cond) return expr;` guard clauses before the final
    *    return ([[jsFnBodyToExpr]]);
    *  - literal-bounded `for (var i = A; i < B; i++)`, `for (var x of
    *    [e1, …])` and `var i = A; while (i < B) { …; i++ }` loops unroll
    *    (≤ 64 iterations — an unrolled plan column per round is the
    *    honest cost), with `record["q" + i]` folding to `record.qN`.
    * The statements then compile to Columns:
    *  - `record.x = expr;` → a dialect-expression column;
    *  - `var x = expr;` → a LOCAL: its (rewritten) expression inlines
    *    into every later reference, so locals cost nothing in the plan;
    *    `x = expr;` reassigning a known local redefines it (the
    *    loop-accumulator idiom); `x += e`, `x++` expand first;
    *  - `if (cond) record.x = expr;` (braces allowed around a single
    *    assignment) → `when(cond, expr)` keeping the existing value
    *    (null for a new column) otherwise; following
    *    `else if (…) record.x = expr;` / `else record.x = expr;` fill the
    *    other branches (a condition must not read the column it
    *    assigns — it is re-evaluated).
    * `record.` prefixes resolve to fields. Expression surface beyond the
    * dialect: ternaries (`c ? a : b` → `if(c, a, b)`, right-associative,
    * nestable), `Math.*` calls ([[jsRewriteMath]] — `Math.log` = natural
    * log, `Math.PI`/`Math.E` inline, `Math.random` rejected as
    * nondeterministic), `&&`/`||`/`!`/`===`/`!==`, `=>` lambdas, the JS
    * `.length` property, and JS string-method chains (toUpperCase,
    * substring, indexOf, startsWith/endsWith/includes, padStart/padEnd,
    * repeat, slice, charAt, replace, split — resolved by the dialect's
    * method table). Array literals, `[idx]` indexing, `.map/.filter`
    * lambdas and `.join` resolve in the dialect (OrientExpr). Anything
    * richer (data-dependent trip counts, recursion, closures, try/catch,
    * object values) fails with a named migration path — full JS is out
    * of parity scope (SURVEY.md §7.4, no script engine offline). */
  private def jsShim(code: String, ctx: EtlContext): DataFrame => DataFrame = { df =>
    // template literals expand to stringy concatenation first, so every
    // later pass sees only '…'/"…" literals; regex literals rewrite
    // BEFORE switch expansion (case bodies then hold only quoted
    // patterns), and switch blocks expand to guarded assignments
    val templated =
      jsExpandSwitch(jsRewriteRegexLiterals(jsExpandTemplates(code)))
    // try/catch NAMED-fail (not a silent mis-parse): per-row error
    // recovery has no plan spelling — the engine's typed policies own
    // it. A 'try {' inside a literal is data.
    jsFirstOutside(templated, raw"\btry\s*\{".r).foreach { _ =>
      sys.error("code: JS try/catch cannot compile to a plan — per-row " +
        "error handling belongs to the engine's typed policies (csv " +
        "per-field errors, link unresolvedLinkAction, flow/expect " +
        "guards); for genuinely imperative recovery use a Scala hook " +
        "via `ref` (Engine.registerCode)")
    }
    val (defree, fns) = jsExtractFunctions(jsExpandObjects(templated))
    // alternate the two unrollers to a fixpoint: a while nested in a for
    // body only becomes literal-bounded after the for substitutes its
    // counter (and vice versa)
    var unrolled = defree
    var pass = 0
    var changed = true
    while (changed) {
      pass += 1
      require(pass <= 16, "code: JS loop nesting too deep to unroll")
      val nxt = jsUnrollWhile(jsUnrollLoops(jsUnrollForOf(unrolled)))
      changed = nxt != unrolled
      unrolled = nxt
    }
    val stmts = jsStatements(jsFoldBrackets(unrolled)).map(jsExpandCompound)
    var locals = List.empty[(String, String)] // insertion order; later wins applied last
    def rewrite(s0: String): String = {
      val s = jsRewriteMath(jsInlineCalls(s0, fns))
      val inlined = outsideJsLiterals(s) { seg0 =>
        // JS boolean operators → dialect keywords (strict ===/!== first,
        // then logical NOT — `!` not followed by `=`); `.length`
        // PROPERTY (no parens — the JS spelling) → the .length() method
        // JS arrow lambdas (`x => expr` in .map/.filter) → the
        // dialect's `->` (no conflict: ===/>=/<= share no `=>` slice)
        var e = seg0.replace("record.", "").replace("=>", "->")
          .replace("&&", " AND ").replace("||", " OR ")
          .replace("===", " == ").replace("!==", " != ")
          .replaceAll(raw"!(?!=)", " NOT ")
          .replaceAll(raw"\.length\b(?!\s*\()", ".length()")
        // inline locals (latest definition first so redefinition chains
        // resolve through their predecessors already being inlined);
        // quoteReplacement: a '$var' or backslash in a local's expression
        // is literal text, not a regex group reference
        locals.foreach { case (n, rhs) =>
          e = e.replaceAll(raw"\b" + java.util.regex.Pattern.quote(n) + raw"\b",
            java.util.regex.Matcher.quoteReplacement("(" + rhs + ")"))
        }
        e
      }
      // ternaries LAST: locals' stored text is already ternary-free
      // (rewrite ran at their declaration), so only the outer
      // statement's own `?:` chains remain
      jsRewriteTernary(inlined)
    }
    // the open if/else-if chain: its conditions so far + assigned column
    var chainConds: List[String] = Nil
    var chainCol: Option[String] = None
    def resetChain(): Unit = { chainConds = Nil; chainCol = None }
    // chain conditions are RE-EVALUATED by later branches AFTER earlier
    // branches wrote the column — a condition reading the assigned
    // column would see the new value; reject rather than silently
    // diverge from JS. Case-INSENSITIVE (Spark resolves columns that
    // way) and literal-blind (the NAME inside a string literal is data).
    def noReadGuard(conds: List[String], name: String): Unit = conds.foreach { c =>
      require(!withoutJsLiterals(rewrite(c))
          .matches(raw"(?is).*\b${java.util.regex.Pattern.quote(name)}\b.*"),
        s"code: an `if/else if/else` chain on record.$name cannot also READ " +
        s"record.$name in an earlier condition (the shim re-evaluates " +
        "conditions); assign through a differently-named column instead")
    }
    def orConds(conds: List[String]): Column =
      conds.map(c => OrientExpr.compile(rewrite(c), ctx.varMap)).reduce(_ || _)
    stmts.foldLeft(df) { (d, s) =>
      s match {
        case JsIfAssign(c, name, rhs) =>
          chainConds = List(c); chainCol = Some(name)
          // untyped null for a new column: NullType adopts the rhs type
          // in when/otherwise coercion (a string-cast null would widen a
          // numeric guarded assignment to string)
          val keep = if (d.columns.contains(name)) col(name) else lit(null)
          d.withColumn(name,
            when(OrientExpr.compile(rewrite(c), ctx.varMap),
              OrientExpr.compile(rewrite(rhs), ctx.varMap)).otherwise(keep))
        case JsElseIfAssign(c, name, rhs) =>
          val ifName = chainCol.getOrElse(sys.error(
            s"code: `else if` without a preceding `if (cond) record.$name = …;`"))
          require(ifName == name, s"code: `else if (…) record.$name = …` must " +
            s"assign the SAME column as its chain (record.$ifName)")
          val prior = chainConds
          noReadGuard(prior, name)
          chainConds = prior :+ c
          // guard: no earlier condition TRUTHY (null-cond rows fall
          // through like JS falsy) and this branch's condition holds
          d.withColumn(name,
            when(!coalesce(orConds(prior), lit(false)) &&
                 OrientExpr.compile(rewrite(c), ctx.varMap),
              OrientExpr.compile(rewrite(rhs), ctx.varMap)).otherwise(col(name)))
        case JsElseAssign(name, rhs) =>
          val ifName = chainCol.getOrElse(sys.error(
            s"code: `else` without a preceding `if (cond) record.$name = …;`"))
          require(ifName == name, s"code: `else record.$name = …` must " +
            s"assign the SAME column as its if branch (record.$ifName)")
          val prior = chainConds
          noReadGuard(prior, name)
          resetChain()
          // some earlier branch held → keep its value; all falsy → else
          d.withColumn(name,
            when(orConds(prior), col(name))
              .otherwise(OrientExpr.compile(rewrite(rhs), ctx.varMap)))
        case JsVarDecl(name, rhs) =>
          resetChain()
          locals = (name, rewrite(rhs)) :: locals
          d
        case JsAssign(name, rhs) =>
          resetChain()
          d.withColumn(name, OrientExpr.compile(rewrite(rhs), ctx.varMap))
        case JsLocalAssign(name, rhs) if locals.exists(_._1 == name) =>
          // reassignment of a KNOWN local (the loop-accumulator idiom):
          // rewrite() inlines the previous definition into the rhs, so
          // `total = total + record.q1` chains correctly
          resetChain()
          locals = (name, rewrite(rhs)) :: locals
          d
        case other => sys.error(
          s"code: JavaScript config not translatable (statement: `$other`). " +
          "The migration shim covers `record.x = expr;` assignments, " +
          "`var x = expr;` locals (+ reassignment of a declared local), " +
          "`if (cond) record.x = expr;` guards with `else if`/`else` " +
          "branches, compound ops (x += e, x++), literal-bounded " +
          "`for (var i = A; i < B; i++) { … }` and " +
          "`var i = A; while (i < B) { …; i++ }` loops, `function` " +
          "macros (locals + `if (cond) return expr;` guard clauses + " +
          "final return), array literals/[idx]/.map/.filter/.join, " +
          "ternaries, Math.*, and JS string-method chains. " +
          "Use language: \"sql\" with `code: \"SELECT ... FROM __input\"`, " +
          "a dialect `expression` + `fieldName`, or a Scala hook via " +
          "`ref` (Engine.registerCode) — full JS is out of parity scope " +
          "(SURVEY.md §7.4).")
      }
    }
  }

  /** `topkpergroup`: the k best rows per group by a score column —
    * "top N per key", the classic analytics ask. Options: `groupBy`
    * (key columns), `scoreField`, `idField` (unique row id for
    * deterministic tie-breaks), `k`. Output: group keys + id + score +
    * `rank` (1-based, score desc / id asc).
    *
    * Runs on [[graft.functions.TopKByScore]] — map-side partial top-k
    * inside ObjectHashAggregate, so the shuffle carries ≤ k rows per
    * (task, group) instead of every row (a `row_number()` window
    * shuffles and sorts the full input). */
  def topkPerGroup(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      graft.functions.VectorExpressions.ensure(ctx.spark)
      val keys = spec.strList("groupBy")
      require(keys.nonEmpty, "topkpergroup: groupBy required")
      val score = spec.str("scoreField").getOrElse(sys.error("topkpergroup: scoreField required"))
      val id = spec.str("idField").getOrElse(sys.error("topkpergroup: idField required"))
      val k = spec.int("k", 10)
      // the bounded-heap aggregate carries (long id, double score);
      // validate at PLAN time instead of letting non-numeric values cast
      // to null and silently vanish from the results
      import org.apache.spark.sql.types._
      def numeric(c: String): Boolean = df.schema(c).dataType match {
        case _: NumericType => true; case _ => false
      }
      require(numeric(id), s"topkpergroup: idField `$id` must be numeric " +
        s"(got ${df.schema(id).dataType.simpleString}) — map string ids to " +
        "a numeric surrogate first (e.g. a field stage with xxhash64)")
      require(numeric(score), s"topkpergroup: scoreField `$score` must be " +
        s"numeric (got ${df.schema(score).dataType.simpleString})")
      df.groupBy(keys.map(col): _*)
        .agg(graft.functions.VectorExpressions.topK(
          col(score).cast("double"), col(id).cast("long"), k).as("__top"))
        .select(keys.map(col) :+
          posexplode(col("__top")).as(Seq("__pos", "__e")): _*)
        .select(keys.map(col) ++ Seq(
          col("__e.id").as(id),
          col("__e.score").as(score),
          (col("__pos") + 1).cast("int").as("rank")): _*)
    }

  /** `histogram`: fixed-width bucket counts of a numeric column over a
    * CONFIGURED range (bounds from config, not from the data — a pure
    * projection + one aggregation, no extra min/max pass). Options:
    * `field`, `min`, `max`, `buckets` (default 10). Values outside
    * [min, max) clamp into the edge buckets. Output (bucket, lo, hi,
    * cnt) for non-empty buckets. */
  def histogram(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = col(spec.str("field").getOrElse(sys.error("histogram: field required")))
      val lo = spec.str("min").getOrElse(sys.error("histogram: min required")).toDouble
      val hi = spec.str("max").getOrElse(sys.error("histogram: max required")).toDouble
      val n = spec.int("buckets", 10)
      require(hi > lo && n > 0, "histogram: max > min and buckets > 0 required")
      val w = (hi - lo) / n
      val b = least(greatest(
        floor((f.cast("double") - lo) / w).cast("bigint"), lit(0L)), lit(n - 1L))
      // nulls are EXCLUDED, not silently clamped into bucket 0
      // (greatest(null, 0) = 0 — Spark's greatest skips nulls)
      df.where(f.isNotNull).groupBy(b.as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("bucket"),
          (lit(lo) + col("bucket") * w).as("lo"),
          (lit(lo) + (col("bucket") + 1) * w).as("hi"),
          col("cnt"))
    }

  /** `command` (OCommandTransformer.java:58-78): SQL over the registered
    * tables; result replaces the stream. Batch-level, not per record —
    * per-record SQL is the RBAR anti-pattern the Spark design removes
    * (SURVEY.md §2.3). A literal Gremlin chain (`g.V()...`, or
    * `language: "gremlin"`) routes through the [[graft.graph.Gremlin]]
    * subset translator — set-oriented joins over the vertices/edges
    * contract, with a named migration error for richer scripts. */
  def command(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val sql = spec.str("command").getOrElse(sys.error("command: command required"))
      val lang = spec.strOr("language", "auto").toLowerCase
      if (lang == "gremlin" || (lang == "auto" && graft.graph.Gremlin.applies(sql)))
        // same ${var} substitution as the SQL branch — a config variable
        // in a has()/hasLabel() argument must resolve, not compare raw
        graft.graph.Gremlin.run(ctx, OrientExpr.resolveString(sql, ctx.varMap))
      else sqlViewLock.synchronized {
        df.createOrReplaceTempView("input")
        ctx.spark.sql(OrientExpr.resolveString(sql, ctx.varMap))
      }
    }

  /** `vertex` (OVertexTransformer.java:54-75): promote rows to labeled
    * vertices in the two-DataFrame graph contract. */
  def vertex(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      // `$var` resolves like in SQL/paths — the shipped config-dbpedia
      // derives the class from a let ({vertex: {class: "$className"}})
      val label = OrientExpr.resolveString(spec.strOr("class", "V"), ctx.varMap)
      val idField = spec.str("idField").getOrElse(df.columns.head)
      val tagged = df
        .withColumn("id", col(idField).cast("string"))
        .withColumn("label", lit(label))
      ctx.addVertices(tagged)
      tagged
    }
}
