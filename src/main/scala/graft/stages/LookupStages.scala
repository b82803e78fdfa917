package graft.stages

import graft.engine.{EtlContext, EtlHaltException}
import graft.expr.OrientExpr
import graft.spec.{ComponentSpec, PipelineSpec}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The lookup-join family: `merge`, `link`, `edge` + the nested `etl`
  * transformer (SURVEY.md §2.3).
  *
  * Reference shape: per-record index point-get or prepared SELECT
  * (OAbstractLookupTransformer.java:70-104). Spark-first shape: ONE join
  * against the dimension — broadcast hash join when the dim is small
  * (Catalyst/AQE decides; we hint via `broadcast()` under a size
  * threshold), sort-merge otherwise. At 100 TB the fact side never
  * re-partitions for a broadcast join; only genuinely large dims shuffle.
  */
object LookupStages {

  /** Unresolved-record policy (OAbstractLookupTransformer.java:44-46,
    * OLinkTransformer.java:131-160). */
  sealed trait Unresolved
  object Unresolved {
    case object Nothing extends Unresolved
    case object Warning extends Unresolved
    case object Error extends Unresolved
    case object Skip extends Unresolved
    case object Halt extends Unresolved
    case object Create extends Unresolved
    def parse(s: String): Unresolved = s.toUpperCase match {
      case "NOTHING" => Nothing
      case "WARNING" => Warning
      case "ERROR" => Error
      case "SKIP" => Skip
      case "HALT" => Halt
      case "CREATE" => Create
      case other => sys.error(s"unknown unresolvedLinkAction $other")
    }
  }

  /** Resolve a `lookup` config — `"Table.column"` (index form) or a
    * `SELECT` statement — to (dimension DataFrame, key column name).
    * The reference's "index" is just a pre-built hash; the Spark analogue
    * is the hash side of a broadcast/shuffled hash join (SURVEY.md §4). */
  def resolveLookup(ctx: EtlContext, lookup: String): (DataFrame, String) = {
    val trimmed = lookup.trim
    if (trimmed.toUpperCase.startsWith("SELECT")) {
      val df = ctx.spark.sql(OrientExpr.resolveString(trimmed, ctx.varMap))
      (df, df.columns.head)
    } else {
      val i = trimmed.lastIndexOf('.')
      require(i > 0, s"lookup must be Table.column or SELECT…: $lookup")
      val (table, key) = (trimmed.substring(0, i), trimmed.substring(i + 1))
      (ctx.table(table), key)
    }
  }

  /** Broadcast the dim when it is comfortably below the driver limit;
    * otherwise let AQE pick. Dim size is estimated from the logical plan
    * stats so no job is triggered. */
  private def maybeBroadcast(dim: DataFrame): DataFrame = {
    val threshold = 64L << 20 // 64 MiB — conservative broadcast budget
    val size = try dim.queryExecution.optimizedPlan.stats.sizeInBytes
               catch { case _: Throwable => BigInt(Long.MaxValue) }
    if (size <= threshold) broadcast(dim) else dim
  }

  private def haltIfAny(df: DataFrame, what: String): Unit =
    if (!df.isEmpty) throw new EtlHaltException(s"$what: unresolved records present")

  /** Apply the non-row-shaping part of an unresolved policy in ONE pass:
    * attach an `observe` metric counting unresolved rows and register the
    * deferred check (halt raise / warning / error counter bump — stats
    * parity with OETLProcessor.java:75-89) collected during the terminal
    * action. `eager` restores the strict probe-job HALT gate. */
  private def observePolicy(spec: ComponentSpec, ctx: EtlContext,
      df: DataFrame, unresolved: Column, action: Unresolved,
      what: String): DataFrame = action match {
    case Unresolved.Halt if spec.strOr("haltMode", "deferred").equalsIgnoreCase("eager") =>
      haltIfAny(df.filter(unresolved), what); df
    case Unresolved.Halt =>
      val obs = ctx.newObservation(s"${what}_halt")
      ctx.registerCheck(ctx.PendingCheck(obs, "unresolved", "halt",
        s"$what: unresolved records present"))
      df.observe(obs, sum(when(unresolved, 1L).otherwise(0L)).as("unresolved"))
    case Unresolved.Warning | Unresolved.Error =>
      val kind = if (action == Unresolved.Warning) "warning" else "error"
      val obs = ctx.newObservation(s"${what}_$kind")
      ctx.registerCheck(ctx.PendingCheck(obs, "unresolved", kind,
        s"$what: unresolved records"))
      df.observe(obs, sum(when(unresolved, 1L).otherwise(0L)).as("unresolved"))
    case _ => df
  }

  /** `merge` (OMergeTransformer.java:44-77): per-record upsert against the
    * lookup table. Matched → existing record updated with incoming fields
    * (existing.merge(input) — input wins per field); unmatched → policy.
    *
    * Output = the record stream after merge (what flows to the loader).
    * Use [[upsertResult]] for the post-load table view.
    */
  def merge(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { incoming =>
      val joinField = spec.str("joinFieldName").getOrElse(sys.error("merge: joinFieldName required"))
      val (dim, key) = resolveLookup(ctx, spec.str("lookup").getOrElse(sys.error("merge: lookup required")))
      val action = Unresolved.parse(spec.strOr("unresolvedLinkAction", "NOTHING"))
      mergeRecords(incoming, dim, joinField, key, action, ctx, spec)
    }

  private[graft] def mergeRecords(incoming: DataFrame, dim: DataFrame,
      joinField: String, key: String, action: Unresolved,
      ctx: EtlContext, spec: ComponentSpec = ComponentSpec("merge", Map.empty)): DataFrame = {
    // rename the whole dim side to avoid reference ambiguity on overlap
    val renamed = dim.columns.foldLeft(dim)((d, c) => d.withColumnRenamed(c, s"__dim_$c"))
    val d = maybeBroadcast(renamed)
    val joined = incoming.join(d, incoming(joinField) === col(s"__dim_$key"), "left")
    val matched = col(s"__dim_$key").isNotNull
    // merged record = existing.merge(input): input fields overwrite,
    // dim-only fields carried over for matched rows (OMergeTransformer:69-73)
    val incomingCols = incoming.columns.toSet
    val dimOnly = dim.columns.filterNot(c => c == key || incomingCols.contains(c))
    val mergedCols =
      incoming.columns.map(c => col(c)) ++ dimOnly.map(c => col(s"__dim_$c").as(c))
    action match {
      case Unresolved.Skip => joined.filter(matched).select(mergedCols.toIndexedSeq: _*)
      case _ =>
        observePolicy(spec, ctx, joined, !matched, action, "merge")
          .select(mergedCols.toIndexedSeq: _*)
    }
  }

  /** The post-load table after a merge run: untouched target rows ∪ the
    * merged/new stream — batch equivalent of the reference's
    * save-per-record upsert effect (SURVEY.md §2.3 merge row). Within-run
    * self-merge (§7.5): last-wins dedup on the key before the union. */
  def upsertResult(target: DataFrame, mergedStream: DataFrame,
                   key: String): DataFrame = {
    val deduped = mergedStream.dropDuplicates(key)
    val untouched = target.join(deduped.select(col(key).as("__k")),
      target(key) === col("__k"), "left_anti")
    untouched.unionByName(deduped.select(target.columns.map(col).toIndexedSeq: _*))
  }

  /** `link` (OLinkTransformer.java:77-174): FK → reference resolution.
    * Writes the resolved dim key into `linkFieldName` as LINK (scalar) or
    * LINKLIST/LINKSET (from a multi-valued join field). CREATE inserts
    * stub dim rows for unresolved keys (id = the key itself) and registers
    * the widened dim back into the context. */
  def link(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val linkField = spec.str("linkFieldName").getOrElse(sys.error("link: linkFieldName required"))
      val (dim0, key) = resolveLookup(ctx, spec.str("lookup").getOrElse(sys.error("link: lookup required")))
      val action = Unresolved.parse(spec.strOr("unresolvedLinkAction", "NOTHING"))
      val linkType = spec.strOr("type", "LINK").toUpperCase
      val joinVal: Column = spec.str("joinValue") match {
        case Some(e) => OrientExpr.compile(e, ctx.varMap)
        case None => col(spec.str("joinFieldName").getOrElse(sys.error("link: joinFieldName or joinValue required")))
      }
      val removeJoin = spec.bool("removeJoinField", dflt = false)

      val multiValued = df.schema.fields.exists(f =>
        spec.str("joinFieldName").contains(f.name) &&
          f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])

      // CREATE: widen the dim with stub rows for unresolved keys
      // (two-pass: dim ∪ (keys ∖ dim), then the join always resolves);
      // multi-valued join fields contribute their ELEMENTS as keys
      // (per-element CREATE, OLinkTransformer.java:94-100, 134-146)
      val dim = if (action == Unresolved.Create) {
        val rawKeys = if (multiValued) df.select(explode(joinVal).as("__k"))
                      else df.select(joinVal.as("__k"))
        val keys = rawKeys
          .select(col("__k").cast(dim0.schema(key).dataType).as(key))
          .where(col(key).isNotNull).distinct()
        val stubs = keys.join(dim0.select(key), Seq(key), "left_anti")
        val widened = dim0.unionByName(stubs, allowMissingColumns = true)
        spec.str("lookup").filter(!_.toUpperCase.startsWith("SELECT")).foreach { lk =>
          val table = lk.trim.substring(0, lk.trim.lastIndexOf('.'))
          ctx.registerTable(table, widened)
        }
        widened
      } else dim0

      val d = maybeBroadcast(dim.select(col(key).as("__lkey")))

      val out =
        if (multiValued && (linkType == "LINKLIST" || linkType == "LINKSET")) {
          // Multi-valued FK resolution (OLinkTransformer.java:94-100),
          // keyed by the ARRAY VALUE itself: resolve each DISTINCT key
          // array once (posexplode keeps element order; unresolved
          // elements are dropped from the list but counted so every
          // policy applies), then join back on array equality. No
          // synthetic row ids — `monotonically_increasing_id` across two
          // plan branches is recomputation-nondeterministic after a
          // shuffle, which scrambled rows in round 1 — and resolving
          // distinct arrays is also strictly less work than per-row.
          val jf = spec.str("joinFieldName").get
          val arrs = df.select(col(jf).as("__arr")).distinct()
          val exploded = arrs.select(col("__arr"),
            posexplode_outer(col("__arr")).as(Seq("__pos", "__jv")))
          val resolved = exploded.join(d, col("__jv") === col("__lkey"), "left")
            .groupBy("__arr")
            .agg(
              // order by original position, then drop unresolved (null) slots
              expr("transform(filter(array_sort(collect_list(struct(__pos as p, __lkey as k)))," +
                " s -> s.k is not null), s -> s.k)").as("__links"),
              sum(when(col("__jv").isNotNull && col("__lkey").isNull, 1L)
                .otherwise(0L)).as("__miss"))
          val links = if (linkType == "LINKSET") array_distinct(col("__links")) else col("__links")
          val joinedBack = df.join(maybeBroadcast(resolved),
              df(jf) <=> col("__arr"), "left")
            .withColumn(linkField, links)
          val unresolvedRec = coalesce(col("__miss"), lit(0L)) > 0
          val policed = action match {
            case Unresolved.Skip => joinedBack.filter(!unresolvedRec)
            case _ => observePolicy(spec, ctx, joinedBack, unresolvedRec, action, "link")
          }
          policed.drop("__arr", "__links", "__miss")
        } else {
          val joined = df.join(d, joinVal === col("__lkey"), "left")
          val base = joined.withColumn(linkField,
            if (linkType == "LINKSET" || linkType == "LINKLIST") array(col("__lkey"))
            else col("__lkey"))
          action match {
            case Unresolved.Skip => base.filter(col("__lkey").isNotNull).drop("__lkey")
            case _ =>
              observePolicy(spec, ctx, base, col("__lkey").isNull, action, "link")
                .drop("__lkey")
          }
        }
      if (removeJoin) spec.str("joinFieldName").map(out.drop(_)).getOrElse(out) else out
    }

  /** `edge` (OEdgeTransformer.java:83-144): emit edges current-vertex →
    * looked-up vertex (direction `out`) or the reverse (`in`). Unresolved
    * CREATE unions stub target vertices first (:102-114). The input
    * stream passes through unchanged (the reference returns the vertex). */
  def edge(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val label = spec.strOr("class", "E")
      val joinField = spec.str("joinFieldName").getOrElse(sys.error("edge: joinFieldName required"))
      val (dim, key) = resolveLookup(ctx, spec.str("lookup").getOrElse(sys.error("edge: lookup required")))
      val action = Unresolved.parse(spec.strOr("unresolvedLinkAction", "NOTHING"))
      val direction = spec.strOr("direction", "out").toLowerCase
      val fromField = spec.strOr("fromField", "id")
      require(df.columns.contains(fromField),
        s"edge: input has no '$fromField' id column — apply a vertex stage first or set fromField")

      val d = maybeBroadcast(dim.select(col(key).as("__ekey")))
      val joined0 = df.join(d, col(joinField) === col("__ekey"),
        if (action == Unresolved.Skip) "inner" else "left")
      if (action == Unresolved.Halt)
        haltIfAny(joined0.filter(col("__ekey").isNull), "edge")
      // WARNING/ERROR: count unresolved targets during the edges action
      val joined = action match {
        case Unresolved.Warning | Unresolved.Error =>
          observePolicy(spec, ctx, joined0, col("__ekey").isNull, action, "edge")
        case _ => joined0
      }
      if (action == Unresolved.Create) {
        val stubs = df.select(col(joinField).cast("string").as("id"))
          .distinct()
          .join(dim.select(col(key).cast("string").as("id")), Seq("id"), "left_anti")
          .withColumn("label", lit(spec.strOr("targetVertexClass", "V")))
        ctx.addVertices(stubs)
      }
      val resolvedDst = coalesce(col("__ekey").cast("string"),
        if (action == Unresolved.Create) col(joinField).cast("string") else lit(null))
      val (src, dst) =
        if (direction == "in") (resolvedDst, col(fromField).cast("string"))
        else (col(fromField).cast("string"), resolvedDst)
      // `weightField` (optional): carry an edge weight column for the
      // weighted graph algorithms (pagerank weighted: true). Unweighted
      // edge sets union with weighted ones null-filled (consumers
      // coalesce to 1.0).
      val weightCol = spec.str("weightField").map { wf =>
        require(df.columns.contains(wf), s"edge: no weight column '$wf'")
        col(wf).cast("double").as("weight")
      }
      val edges = joined.select(
          Seq(src.as("src"), dst.as("dst"), lit(label).as("label")) ++
            weightCol: _*)
        .filter(col("dst").isNotNull && col("src").isNotNull)
      ctx.addEdges(edges)
      df
    }

  /** Nested `etl` (OETLTransformer.java:82-156, a fork addition): the
    * reference launches a full child pipeline PER RECORD and embeds the
    * loaded objects into a field. Spark rewrite (SURVEY.md §2.3 etl row):
    * run the child ONCE, `groupBy(childKey).agg(collect…)`, then one join
    * into the parent — O(N) engine launches become one shuffle + join.
    *
    * fieldType ∈ EMBEDDEDLIST/EMBEDDEDSET/LINKLIST/LINKSET (list/set of
    * `valueFieldName`) or EMBEDDEDMAP (`keyFieldName` → `valueFieldName`).
    * Collections are sorted for deterministic output.
    */
  def nestedEtl(parent: DataFrame, child: DataFrame, parentKey: String,
                childKey: String, fieldName: String, fieldType: String,
                keyFieldName: String = "", valueFieldName: String = ""): DataFrame = {
    val agged = groupToField(child, Seq(col(childKey).as("__ck")), fieldName, fieldType,
      keyFieldName, valueFieldName)
    parent.join(agged, parent(parentKey) === col("__ck"), "left").drop("__ck")
  }

  /** Config-driven form of [[nestedEtl]]: child is an inline pipeline spec
    * or a registered table name. With `parameters` (OETLTransformer.java:
    * 92-115: per-record expressions handed to the child as context vars),
    * the child runs once per DISTINCT parameter tuple — same semantics as
    * the reference's run-per-record, strictly less work — and the results
    * correlate back through one join on the tuple. The distinct-tuple
    * count is capped (`maxParameterTuples`, default 1000): each tuple is
    * a driver-side child-plan build, the inherently non-scalable part of
    * the reference's design, surfaced as an explicit bound. */
  def etl(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { parent =>
      val fieldName = spec.strOr("fieldName", "children")
      val fieldType = spec.strOr("fieldType", "EMBEDDEDLIST")
      val keyF = spec.strOr("keyFieldName", "")
      val valueF = spec.strOr("valueFieldName", "")
      val params = spec.map("parameters")

      if (params.nonEmpty) {
        val inline = spec.map("pipeline")
        require(inline.nonEmpty, "etl: parameters require an inline pipeline")
        val childSpec = PipelineSpec.fromMap(inline)
        val cap = spec.int("maxParameterTuples", 1000)
        val names = params.keys.toSeq
        val parentTagged = params.foldLeft(parent) { case (d, (k, e)) =>
          d.withColumn(s"__p_$k", OrientExpr.compile(e.toString, ctx.varMap))
        }
        val tupleCols = names.map(n => col(s"__p_$n"))
        val unioned = lateralParamTuples(ctx, childSpec, names, parentTagged,
            tupleCols).getOrElse {
          // per-tuple fallback: one child plan per distinct tuple
          val tuples = parentTagged.select(tupleCols: _*).distinct()
            .limit(cap + 1).collect()
          require(tuples.length <= cap,
            s"etl: more than $cap distinct parameter tuples — bound the parent or raise maxParameterTuples")
          // raising the cap is allowed but not free: every tuple becomes a
          // full child PLAN in one union — plan build and optimization are
          // O(tuples), driver-side. Past ~500 that's minutes of Catalyst
          // time; the scalable shape is the lateral rewrite above (a
          // SELECT-only child) or remodeling the parameter as a join key.
          if (tuples.length > 500)
            System.err.println(s"[etl] ${tuples.length} parameter tuples → " +
              s"${tuples.length} unioned child plans; plan build is " +
              "O(tuples) on the driver — consider remodeling the parameter " +
              "as a join key instead of raising maxParameterTuples further")
          if (tuples.isEmpty) {
            // zero distinct tuples (empty parent): there is no child to
            // run — an empty frame carrying the tuple columns plus null
            // key/value columns keeps groupToField and the final left
            // join analyzable, and the join against the empty parent
            // yields zero rows regardless of the placeholder types
            Seq(keyF, valueF).filter(_.nonEmpty).distinct
              .foldLeft(parentTagged.select(tupleCols: _*).limit(0)) {
                (d, c) => d.withColumn(c, lit(null).cast("string"))
              }
          } else {
            val children = tuples.toSeq.map { row =>
              val childCtx = new EtlContext(ctx.spark)
              childCtx.dryRun = ctx.dryRun // a dry parent's pre-flight holds
              ctx.vars.foreach { case (k, v) => childCtx.vars.put(k, v) }
              ctx.tables.foreach { case (k, v) => childCtx.tables.put(k, v) }
              names.zipWithIndex.foreach { case (n, i) => childCtx.vars.put(n, row.get(i)) }
              val child = graft.engine.Engine.run(childCtx, childSpec)
              names.zipWithIndex.foldLeft(child) { case (d, (n, i)) =>
                d.withColumn(s"__p_$n", lit(row.get(i)))
              }
            }
            children.reduce(_.unionByName(_, allowMissingColumns = true))
          }
        }
        val agged = groupToField(unioned, tupleCols, fieldName, fieldType, keyF, valueF)
          .withColumnsRenamed(names.map(n => s"__p_$n" -> s"__pt_$n").toMap)
        val cond = names.map(n => col(s"__p_$n") <=> col(s"__pt_$n"))
          .reduce(_ && _)
        parentTagged.join(agged, cond, "left")
          .drop(names.flatMap(n => Seq(s"__p_$n", s"__pt_$n")): _*)
      } else {
        val child: DataFrame = spec.str("childTable") match {
          case Some(t) => ctx.table(t)
          case None =>
            val inline = spec.map("pipeline")
            require(inline.nonEmpty, "etl: childTable or pipeline required")
            graft.engine.Engine.run(ctx, PipelineSpec.fromMap(inline))
        }
        nestedEtl(parent, child,
          spec.str("joinFieldName").getOrElse(sys.error("etl: joinFieldName required")),
          spec.str("childJoinFieldName").getOrElse(sys.error("etl: childJoinFieldName required")),
          fieldName, fieldType, keyF, valueF)
      }
    }

  /** The parameter-tuple JOIN rewrite: when the inline child pipeline's
    * LAST transformer is a plain `command` SQL SELECT and every
    * `$param` occurrence in the pipeline sits (unquoted) in that SQL,
    * the per-tuple plan-union collapses to ONE plan — the pre-command
    * child builds once, the distinct parameter tuples stay a DataFrame
    * (no driver collect, no maxParameterTuples cap), and the child SQL
    * runs as a LATERAL subquery correlated on the tuple columns.
    * Catalyst decorrelates the lateral into an ordinary join — the
    * scalable shape: O(1) plan build for any number of tuples, and the
    * small tuple side broadcasts under AQE. Returns the child rows
    * tagged with their `__p_*` tuple columns (the same frame the
    * per-tuple union produces), or None when the shape doesn't apply
    * (quoted/early params, non-SELECT command, extra command options) —
    * the caller then falls back to the bounded per-tuple build. */
  private def lateralParamTuples(ctx: EtlContext, child: PipelineSpec,
      names: Seq[String], parentTagged: DataFrame,
      tupleCols: Seq[Column]): Option[DataFrame] = {
    // the child pipeline up to (not including) its last transformer
    val pre = child.copy(transformers = child.transformers.dropRight(1))
    def occurs(name: String, text: String): Boolean =
      (raw"\$$\{" + java.util.regex.Pattern.quote(name) + raw"\}|" +
        raw"\$$" + java.util.regex.Pattern.quote(name) + raw"\b").r
        .findFirstIn(text).isDefined
    child.transformers.lastOption.filter(_.name == "command").map(_.options) match {
      case Some(cmd) if cmd.keySet.subsetOf(Set("command", "language")) &&
          cmd.get("language").forall(l =>
            Set("sql", "auto").contains(l.toString.toLowerCase)) =>
        val sql = cmd.get("command").map(_.toString).getOrElse(return None)
        val head = sql.trim.toUpperCase
        if (!(head.startsWith("SELECT") || head.startsWith("WITH"))) return None
        // every param must live in the SQL only, and never inside a
        // string literal (a quoted '$p' interpolates a VALUE per tuple —
        // a column reference there would silently become literal text).
        // Both quote styles count: Spark SQL's default parser reads
        // "double-quoted" spans as string literals too
        if (names.exists(n => occurs(n, pre.toString))) return None
        val quoted = "'[^']*'|\"[^\"]*\"".r.findAllIn(sql).mkString(" ")
        if (names.exists(n => occurs(n, quoted))) return None
        try {
          val childCtx = new EtlContext(ctx.spark)
          childCtx.dryRun = ctx.dryRun
          ctx.vars.foreach { case (k, v) => childCtx.vars.put(k, v) }
          ctx.tables.foreach { case (k, v) => childCtx.tables.put(k, v) }
          val base = graft.engine.Engine.run(childCtx, pre)
          val resolved = OrientExpr.resolveString(sql,
            ctx.varMap ++ names.map(n => n -> s"__t.__p_$n"))
          val tupleSel = names.map(n => s"__t.`__p_$n`").mkString(", ")
          Some(Stages.sqlViewLock.synchronized {
            base.createOrReplaceTempView("input")
            parentTagged.select(tupleCols: _*).distinct()
              .createOrReplaceTempView("__graft_etl_tuples")
            ctx.spark.sql(
              s"SELECT __c.*, $tupleSel FROM __graft_etl_tuples __t, " +
              s"LATERAL ($resolved) __c")
          })
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[etl] lateral parameter rewrite failed " +
              s"(${e.getMessage}); falling back to per-tuple plans")
            None
        }
      case _ => None
    }
  }

  /** Shared collection builder: group `df` by `keys` into the
    * EMBEDDEDLIST/SET/MAP/LINK* collection shapes (OETLTransformer.java:
    * 122-153 builders). */
  private def groupToField(df: DataFrame, keys: Seq[Column], fieldName: String,
      fieldType: String, keyFieldName: String, valueFieldName: String): DataFrame =
    fieldType.toUpperCase match {
      case "EMBEDDEDLIST" | "LINKLIST" =>
        df.groupBy(keys: _*)
          .agg(sort_array(collect_list(col(valueFieldName))).as(fieldName))
      case "EMBEDDEDSET" | "LINKSET" =>
        df.groupBy(keys: _*)
          .agg(array_distinct(sort_array(collect_list(col(valueFieldName)))).as(fieldName))
      case "EMBEDDEDMAP" =>
        df.groupBy(keys: _*)
          .agg(map_from_entries(sort_array(collect_list(
            struct(col(keyFieldName), col(valueFieldName))))).as(fieldName))
      case other => sys.error(s"etl: unsupported fieldType $other")
    }

  /** `skewjoin`: salted equi-join for HOT keys — the standard cure when
    * one join key carries a disproportionate share of the rows and a
    * plain shuffle join funnels them through one reducer. The LEFT
    * (big, skewed) side gets a per-row salt in [0, saltBuckets) —
    * `xxhash64(key, monotonically_increasing_id)`, so even IDENTICAL
    * duplicate rows of a hot key spread across all buckets (the r16
    * change; the salt is NOT retry-deterministic — see the inline
    * comment — which is safe because the result set is salt-invariant);
    * the RIGHT
    * side replicates once per bucket (explode of a literal sequence —
    * acceptable because the right side is the dimension-sized one);
    * the join runs on (key, salt), splitting each hot key into
    * saltBuckets independent reducers. Result rows are EXACTLY the
    * plain join's (the salt always matches one replica). AQE's skew
    * handling covers sort-merge splits at runtime; this stage is the
    * config-level guarantee for when a pipeline author knows the skew
    * up front (e.g. joining a crawl against a domain dimension where
    * one domain is half the corpus).
    * Options: `right` (table or SELECT, required), `on` (join key,
    * required — must exist on both sides), `saltBuckets` (default 16),
    * `joinType` inner (default) | left, `rightPrefix` (optional,
    * prefixes every attached right column), `maxRightRows` (default
    * 10,000,000 — bounded probe; the right side is REPLICATED
    * saltBuckets×, so an oversized right silently multiplies shuffle
    * volume; past the bound the stage fails loud with the salt-factor
    * math instead). */
  def skewjoin(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val right0 = ctx.tableOrSql(spec.str("right").getOrElse(
        sys.error("skewjoin: `right` (table or SELECT) required")))
      val on = spec.str("on").getOrElse(sys.error("skewjoin: `on` key required"))
      val n = spec.int("saltBuckets", 16)
      require(n >= 2, s"skewjoin: saltBuckets must be >= 2, got $n")
      // Bounded size probe (same pattern as the etl stage's tuple cap
      // above): replication cost is saltBuckets × |right|, so a large
      // right side is a config error, not something to absorb silently.
      val maxRight = spec.long("maxRightRows").getOrElse(10000000L)
      require(maxRight > 0, s"skewjoin: maxRightRows must be > 0, got $maxRight")
      val probeLimit = math.min(maxRight + 1, Int.MaxValue.toLong).toInt
      val probed = right0.limit(probeLimit).count()
      if (probed > maxRight) sys.error(
        s"skewjoin: right side exceeds maxRightRows=$maxRight rows — it is " +
        s"replicated saltBuckets=$n times before the join (> ${n}×$maxRight " +
        "rows shuffled). skewjoin is for a dimension-sized right against a " +
        "hot-keyed left; for two large tables use a plain join with AQE " +
        "skew handling, or raise maxRightRows if the replication cost is " +
        "intended")
      val joinType = spec.strOr("joinType", "inner") match {
        case t @ ("inner" | "left") => t
        case other => sys.error(s"skewjoin: joinType must be inner|left, got '$other'")
      }
      val prefix = spec.strOr("rightPrefix", "")
      val rightCols = right0.columns.filterNot(_ == on)
      rightCols.map(prefix + _).foreach { c =>
        if (df.columns.contains(c)) sys.error(
          s"skewjoin: right column '$c' collides with a left column — " +
          "set `rightPrefix` or alias it in the `right` SELECT")
      }
      val right = right0.select(col(on).as("__sjk") +:
        rightCols.map(c => col(c).as(prefix + c)): _*)
        .withColumn("__salt", explode(sequence(lit(0), lit(n - 1))))
      // Left salt: join key + a per-row disambiguator. Hashing the key
      // alone would co-salt the whole hot key (the skew we're curing);
      // hashing the whole row (pre-r16) co-salted exact-duplicate rows —
      // common after narrow projections of a hot key. The disambiguator
      // (monotonically_increasing_id) spreads duplicates round-robin;
      // the OUTPUT is salt-invariant (every salt value matches exactly
      // one right replica), so non-determinism under retry is harmless.
      val left = df.withColumn("__salt",
        pmod(xxhash64(col(on), monotonically_increasing_id()), lit(n)))
      left.join(right,
          left(on) === col("__sjk") && left("__salt") === right("__salt"),
          joinType)
        .drop(right("__salt")).drop("__salt", "__sjk")
    }
}
