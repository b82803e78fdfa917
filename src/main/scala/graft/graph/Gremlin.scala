package graft.graph

import graft.engine.EtlContext
import graft.stages.Iterate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gremlin-subset translator for the `command` transformer — closes the
  * literal-script gap with the reference's Gremlin commands
  * (OCommandTransformer.java:58-78) for the chains legacy configs
  * actually carry, while keeping execution fully set-oriented: every
  * step compiles to a join/filter over the vertices/edges contract, the
  * same frames the `motif` transformer queries. No per-record traversal.
  *
  * Supported subset (anything richer is a NAMED migration error):
  *  - `g.V()` / `g.V(id, …)` — the vertex frame, optionally restricted
  *    to the named start vertices;
  *  - `.hasLabel('x')` / `.has('col', value)` — filters over the
  *    current frame's columns (property filters bind to the columns
  *    present at that point in the chain); `has` also accepts the
  *    value-predicate forms `.has('col', gt(v)|gte(v)|lt(v)|lte(v)|
  *    eq(v)|neq(v)|within(v, …)|without(v, …))`, plus `.has('col')`
  *    (exists / non-null) and `.hasNot('col')` (null);
  *  - `.out('l1', 'l2', …?)` / `.in(…)` / `.both(…)` — one-hop
  *    traversal along the edges table, optionally constrained to any
  *    of the given labels (no labels = every edge);
  *    bag semantics like Gremlin (one row per path, duplicates kept);
  *    after a hop the frame is the reached ids re-attached to
  *    `(id, label)` of any registered vertices (left join — ids without
  *    a registered vertex survive with a null label);
  *  - `.dedup()` — distinct over the current frame;
  *  - `.limit(n)` — first n rows (like Gremlin, no defined order —
  *    pair with a downstream sort for determinism);
  *  - `.values('col')` — project one column as `value` (later steps
  *    that need `id` will fail analysis, as in Gremlin's value space);
  *  - `.count()` — terminal 1-row count; `.sum()`/`.mean()`/`.min()`/
  *    `.max()` — terminal reducing barriers over value space (project
  *    with `values('col')` first); `.fold()` — the traverser bag as one
  *    sorted comma-joined list;
  *  - `.groupCount()` / `.groupCount().by('col')` — terminal traverser
  *    counts per current element (id in vertex space, `value` in value
  *    space) or per `col`: Gremlin's result map, emitted as
  *    `(key, count)` rows from one hash aggregation;
  *  - `.group().by('k')` / `.group().by('k').by(<agg>)` — terminal
  *    result map as `(key, value)` rows: the value by is `count()` or
  *    `values('p').sum()|mean()|min()|max()` (one hash aggregation);
  *    absent, the group's element list sorted + comma-joined (the
  *    driver-compare list serialization);
  *  - `.project('a', 'b', …).by(…)…` — terminal, one output column per
  *    key: `by('col')`/`by(values('col'))` takes a property,
  *    `by(<hops>.count())` / `by(<hops>.values('p').sum()|…)` runs the
  *    sub-traversal per traverser on the keyedByTid correlation id
  *    (empty sub-traversals count 0 / aggregate null);
  *  - `.as('x')` — bind the CURRENT vertex under tag `x`; bindings ride
  *    along through later hops (a stashed column per tag — the same
  *    bound-vertex mechanism the motif translator uses);
  *  - `.where(eq('x'))` / `.where(neq('x'))` — compare the current
  *    vertex id against the bound tag; `.where(<chain>)` /
  *    `.not(<chain>)` — existence filters: keep traversers whose
  *    anonymous sub-traversal (the union-branch subset) yields at
  *    least one result / none (semi/anti join on a correlation id);
  *  - `.select('x')` / `.select('x', 'y')` — project bound vertices:
  *    one tag re-enters vertex space (id + re-attached label), several
  *    become one column per tag; `.select('x', 'y').by('p1').by('p2')`
  *    projects a PROPERTY of each bound vertex instead (looked up from
  *    the registered vertices; one tag + by lands in value space);
  *  - `.local(<chain>)` — per-traverser sub-traversal scope: stateless
  *    chains inline (they are traverser-scoped already), a trailing
  *    aggregate (`local(out().count())`) yields one value per traverser
  *    (count of an empty sub-traversal is 0, other aggregates emit
  *    nothing — Gremlin's reducing-barrier semantics), and
  *    `local(<hops>.limit(n))` is a per-traverser top-n over the
  *    deterministic all-column order (one row_number window, one
  *    shuffle on the correlation id);
  *  - `.repeat(<chain>).times(k)` — bounded loop, unrolled to k copies
  *    of the inner chain BEFORE planning (k ≤ 12: each iteration is a
  *    join — an explicit bound beats an accidental 50-join plan). The
  *    inner chain may use any of the hop/filter steps above.
  *  - `.repeat(<chain>).until(<filter>)` / `.until(<filter>).repeat(…)`
  *    — traversers exit when the condition (a hasLabel/has/hasNot
  *    chain) holds, checked after each iteration (do-while) or before
  *    (while-do) per the modulator's position. The k ≤ 12 unroll bound
  *    doubles as an implicit `or(loops() == 12)`: traversers still
  *    active at the cap exit with times(k) semantics, never loop on.
  *  - `.emit()` before or after `repeat(…)` — every frontier is
  *    emitted (before includes the starting elements); combines with
  *    until()/times(k). Frontier sub-plans share their hop shuffles
  *    via ReuseExchange, so k frontiers cost k joins, not k²/2. At the
  *    implicit 12 cap (no times(k)) the loop runs EAGERLY — per-round
  *    checkpointed frontiers with a drain check (the shortestPaths
  *    pattern), so a walk that converges in 3 hops plans 3 joins.
  *  - `.optional(<chain>)` — per-traverser: the sub-traversal's results
  *    when it yields any, else the traverser itself (the 2-branch
  *    identity case of coalesce's anti-join precedence machinery).
  *  - `.coalesce(<chain>, <chain>, …)` — per-traverser first-non-empty
  *    branch (branch b's results count exactly for the traversers no
  *    earlier branch matched; left-anti precedence joins on a
  *    correlation id). Branch steps are the union-branch subset.
  *  - `.branch(<selector>).option(v, <chain>)…` — value routing: the
  *    selector (`values('col')` or `label()`) sends each traverser
  *    through the option whose token equals its value;
  *    `option('none', <chain>)` catches unmatched traversers (nulls
  *    included). One filtered sub-frame per option, unioned.
  *  - `.choose(<filter>, <chain>[, <chain>])` — per-traverser if/else:
  *    the predicate (a hasLabel/has/hasNot chain) routes each
  *    traverser through exactly one branch; the 2-arg form keeps
  *    non-matching traversers unchanged.
  *  - `.order().by('col')` / `.order().by('col', decr)` — sort the
  *    frame; consecutive `by`s compose a multi-column sort; `order()`
  *    with no `by` sorts by `value` (value space) or `id`. The sort is
  *    applied lazily so `order().by(..).range(a,b)`/`limit(n)` plans as
  *    a single TakeOrdered (partial per-partition top-k, no full sort);
  *  - `.range(low, high)` — rows [low, high) of the current frame
  *    (Gremlin's traverser slice; pair with `order` for determinism);
  *  - `.path()` — TERMINAL: emit each traverser's visited vertex ids as
  *    `path` (array<id>). Tracked only when the script asks for it — a
  *    per-row array append at V() and each hop, no extra shuffle.
  *  - `.union(<chain>, <chain>, …)` — every traverser flows through
  *    EVERY branch; results concatenate (bag semantics), projected to
  *    the branches' common columns. Branch steps are the stateless
  *    subset (hasLabel/has/hasNot/out/in/both/dedup/values) with
  *    literal arguments; `repeat(..).times(k)` inside a branch unrolls
  *    first (it is a textual pass). Not combinable with `path()`.
  *
  * Scale shape: a K-hop chain is K shuffle equi-joins on vertex ids —
  * exactly the plan the equivalent motif pattern produces; AQE handles
  * broadcast/skew. TRULY unbounded loops (an `until` that needs more
  * than 12 hops) and lambdas are out of scope by design — those migrate
  * to `motif` patterns or the graph stages (BFS/CC/PageRank), which is
  * where the batch engine expresses them well. `withSack(<number>)` /
  * `sack(op).by('prop')` / `sack()` translate as a per-traverser
  * accumulator COLUMN riding the hop stash (numeric seeds and
  * property modulators only — closure sacks have no plan spelling).
  */
object Gremlin {

  /** A literal Gremlin script is recognized by its `g.` head. */
  def applies(script: String): Boolean = script.trim.startsWith("g.")

  // two nesting levels in args: `.until(has('col', gt(5)))` — enough
  // for the translated subset; deeper nesting is caught by the tiling
  // check
  private val Step =
    """\.\s*(\w+)\s*\(((?:[^()]|\((?:[^()]|\([^()]*\))*\))*)\)""".r
  private val RepeatTimes =
    """\.\s*repeat\(\s*((?:[^()]|\((?:[^()]|\([^()]*\))*\))*?)\s*\)\s*\.\s*times\(\s*(\d+)\s*\)""".r
  private val WherePred = """^(eq|neq)\(\s*['"](\w+)['"]\s*\)$""".r

  /** Unroll every `repeat(<chain>).times(k)` into k textual copies of
    * the chain — the loop becomes ordinary steps before planning, so
    * the executed plan is exactly k joins (bounded, like the reference
    * JS transformer's loop unrolling). `times(0)` erases the chain. */
  private def expandRepeats(body: String): String =
    RepeatTimes.replaceAllIn(body, m => {
      // an adjacent emit()/until() modulator (before or after) switches
      // the loop to the frame-level form — leave it for the step
      // translator (textually unrolling would strand the modulator)
      val modAdjacent =
        body.substring(0, m.start)
          .matches("(?s).*\\b(?:emit\\(\\s*\\)|until\\((?:[^()]|\\([^()]*\\))*\\))\\s*$") ||
        body.substring(m.end).matches("(?s)\\s*\\.\\s*(?:emit|until)\\s*\\(.*")
      if (modAdjacent) java.util.regex.Matcher.quoteReplacement(m.matched)
      else {
        val inner0 = m.group(1).trim
        if (inner0.isEmpty) fail("repeat(): empty traversal")
        val inner = if (inner0.startsWith(".")) inner0 else "." + inner0
        val k = m.group(2).toInt
        if (k > 12)
          fail(s"repeat(...).times($k): bounded at 12 — every iteration " +
            "unrolls to a shuffle join; deeper traversals migrate to the " +
            "graph stages (graphbfs)")
        java.util.regex.Matcher.quoteReplacement(inner * k)
      }
    })

  def run(ctx: EtlContext, script: String): DataFrame = {
    val s = script.trim.stripSuffix(";").trim
    val body = expandRepeats(s.drop(1)) // past 'g'
    val steps0 = Step.findAllMatchIn(body)
      .map(m => (m.group(1), parseArgs(m.group(2)))).toList
    // the steps must tile the whole script — a lambda, nested call or
    // stray text means we'd silently drop semantics; refuse instead
    val consumed = Step.findAllMatchIn(body).map(_.matched).mkString
    if (!s.startsWith("g") || consumed != body || steps0.isEmpty)
      fail(s"cannot parse '$script' as a simple step chain")
    // g.withSack(<literal>): per-traverser accumulator seed — the
    // __sack column rides every hop (the __as_* stash contract);
    // sack(op).by('prop') mutates it, bare sack() reads it
    val (sackInit, steps) = steps0.head match {
      case ("withSack", Seq(v)) if v.isInstanceOf[Long] || v.isInstanceOf[Double] =>
        if (steps0.size < 2) fail("withSack() needs a traversal after it")
        (Some(v), steps0.tail)
      case ("withSack", other) =>
        fail(s"withSack(${other.mkString(", ")}): the sack seed must be a " +
          "numeric literal (per-traverser closures have no plan spelling)")
      case _ => (None, steps0)
    }
    val startFromEdges = steps.head == ("E", Nil)
    val startIds: Seq[String] = steps.head match {
      case ("V", Nil) | ("E", Nil) => Nil
      case ("V", ids) if ids.nonEmpty &&
          ids.forall(a => a.isInstanceOf[String] || a.isInstanceOf[Long] ||
            a.isInstanceOf[Double]) =>
        idLiterals(ids)
      case _ =>
        fail(s"traversal must start with g.V(), g.V(id, …) or g.E() " +
          s"(got g.${steps.head._1}(${steps.head._2.mkString(", ")}))")
    }

    val vertices = ctx.vertices.getOrElse(
      fail("no vertices — apply a `vertex` stage first"))
    // re-attachment key: one row per DISTINCT (id, label). An id
    // registered under two classes denotes two class-vertices in the
    // reference's model (each OrientDB class row is its own vertex), so
    // a hop reaching that id legitimately yields one row per class —
    // and `hasLabel` after a hop must match EITHER class, never
    // silently lose one. Duplicate registrations of the SAME (id,
    // label) do collapse (that's re-registration, not a second vertex).
    // (id, label) class-vertex catalog, persisted for the traversal's
    // lifetime: every hop re-attaches labels through this frame (the
    // class-vertex multiplicity contract), and without the persist each
    // attach re-scans + re-aggregates the vertex table — a 3-attach
    // chain paid the aggregation three times (command_gremlin plan
    // audit, r14). Lazy persist: no build-time job, dryRun stays
    // compile-only; Engine.run / the session FIFO release it.
    val idLabel = {
      val d = vertices.select(col("id"), col("label")).distinct()
      // several traversals in one session share a vertex frame: the
      // CacheManager keys by analyzed plan, so Dataset.storageLevel on
      // a fresh-but-plan-identical frame reports the existing entry —
      // re-persisting it only logs "already cached" noise and churns
      // the session FIFO (r14 verdict). First traversal persists and
      // registers; later ones reuse the live entry (its owner's
      // release/FIFO eviction just falls back to recompute — correct,
      // merely slower).
      if (d.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        d.persist()
        ctx.registerPersisted(d)
      }
      d
    }
    // r19 (optimization round): the EDGE table gets the same
    // traversal-lifetime lazy persist as idLabel — it is the other
    // frame every hop joins, and without the persist each hop re-ran
    // the `edge` stage's lookup-join lineage (a 2-hop chain paid the
    // orders×customer join twice; measured in the command_gremlin_local
    // plan audit). Same plan-identity guard: a session's later
    // traversals reuse the live entry instead of re-persisting.
    ctx.edges.foreach { e =>
      if (e.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        e.persist()
        ctx.registerPersisted(e)
      }
    }
    val trackPath = steps.exists(s => s._1 == "path" || s._1 == "simplePath")
    // r19 (optimization round, guide §2.3 — project before the
    // exchange): the START frame is the only full-width vertex frame in
    // a traversal (hops land on (id, label) and re-attach named
    // properties), yet it feeds keyedByTid's whole-row repartition+sort
    // and every pre-hop filter/join. Project it down to the properties
    // the chain can possibly reference — a conservative
    // over-approximation: every quoted literal anywhere in the script
    // (nested by()/union()/match() chains included — they are substrings
    // of the same body text) plus id/label. Value literals that happen
    // to equal a column name only keep an extra column (harmless). A
    // bare valueMap()/elementMap()/properties() reads every property —
    // pruning is skipped when one appears.
    val prunedVertices = {
      val wantsAll =
        """(?:valueMap|elementMap|properties)\s*\(\s*\)""".r
          .findFirstIn(body).isDefined
      if (wantsAll) vertices
      else {
        val quoted = """'([^']*)'|"([^"]*)"""".r.findAllMatchIn(body)
          .map(m => Option(m.group(1)).getOrElse(m.group(2))).toSet
        val keep = vertices.columns.filter(c =>
          c == "id" || c == "label" || quoted.contains(c))
        if (keep.length == vertices.columns.length) vertices
        else vertices.select(keep.map(col).toIndexedSeq: _*)
      }
    }
    // g.V(id, …): start from the named vertices (filter BEFORE path
    // tracking so the path roots at the start set). g.E(): start in
    // EDGE space — one traverser per edge row, __evfrom = src (the
    // out-endpoint convention: otherV then reads dst), so the *V
    // landings and edge-column filters compose exactly as after outE
    val start =
      if (startFromEdges) {
        if (trackPath)
          fail("g.E() together with path()/simplePath() is not in the " +
            "translated subset")
        ctx.edges.getOrElse(
            fail("g.E() needs edges — apply an `edge` stage first"))
          .withColumn("__evfrom", col("src"))
      }
      else if (startIds.isEmpty) prunedVertices
      else prunedVertices.where(col("id").isin(startIds: _*))
    val trackSimple = steps.exists(_._1 == "simplePath")
    var frame =
      if (trackPath) start.withColumn("__path", array(col("id")))
      else start
    if (trackSimple)
      frame = frame.withColumn("__spath",
        array(concat_ws("|", coalesce(col("label"), lit("")), col("id"))))
    sackInit.foreach {
      case v: Long => frame = frame.withColumn("__sack", lit(v))
      case v: Double => frame = frame.withColumn("__sack", lit(v))
      case _ => ()
    }
    // `order().by(..)` accumulates sort keys here and is applied at the
    // next non-`by` step (or chain end) — adjacent `limit`/`range` then
    // plan as TakeOrdered instead of a full sort
    var pendingSort: Option[List[(String, Boolean)]] = None
    // true only within the step iteration right after a flushSort fired
    // — lets an adjacent limit/range keep the user's order as its
    // deterministic row-set pin (TakeOrdered) instead of re-sorting
    var justSorted = false
    // the (column, ascending) keys most recently applied by flushSort —
    // tail(n) inverts them to plan "last n" as a TakeOrdered
    var lastSort: List[(String, Boolean)] = Nil
    // true when the last flushSort's keys included a materialized
    // by(<traversal>) column (dropped after the sort — not re-sortable)
    var sortKeyDropped = false
    // set by skip: its offset preserved the current order, so the NEXT
    // step starts with justSorted still true
    var carryOrder = false
    def flushSort(): Unit = pendingSort.foreach { keys =>
      val eff =
        if (keys.nonEmpty) keys
        else if (frame.columns.contains("value")) List("value" -> true)
        else if (frame.columns.contains("id")) List("id" -> true)
        // edge space: no element id — whole-row order, deterministic
        else frame.columns.sorted.toList.map(_ -> true)
      frame = frame.orderBy(eff.map { case (c, asc) =>
        if (asc) col(c).asc else col(c).desc }: _*)
      // by(<chain>.aggregate) keys ride as materialized __ord_* columns
      // (+ their __tid correlation id) — internal bookkeeping, dropped
      // after the sort (Project over Sort still fuses with an adjacent
      // limit as TakeOrderedAndProject)
      val temps = frame.columns.filter(c =>
        c.startsWith("__ord_") || c == "__tid")
      if (temps.nonEmpty) frame = frame.drop(temps.toIndexedSeq: _*)
      pendingSort = None
      justSorted = true
      // tail() inverts lastSort to plan "last n" — a dropped temp key
      // can't be re-sorted, so tail after an order().by(<traversal>)
      // must fail LOUD (a canonical fallback would silently return the
      // wrong row set)
      lastSort = eff.filterNot(_._1.startsWith("__ord_"))
      if (lastSort.size != eff.size) { lastSort = Nil; sortKeyDropped = true }
      else sortKeyDropped = false
    }
    var skipN = 0
    // subgraph('tag') side-effect collections (edge SETS), read by cap()
    val subgraphs = scala.collection.mutable.Map.empty[String, DataFrame]
    // emit()/until(cond) written BEFORE their repeat() — stashed here
    // and consumed (with while-do semantics for until) by the repeat
    var emitBeforeNext = false
    var untilBeforeNext: Option[String] = None
    steps.tail.zipWithIndex.foreach { case (step, i) =>
      val terminal = i == steps.tail.length - 1
      if (skipN > 0) { skipN -= 1 }
      else {
      if (step._1 != "by") {
        // an order survives an offset (skip) — carry the pin one step
        justSorted = carryOrder; carryOrder = false
        flushSort()
      }
      step match {
        case ("order", Nil) => pendingSort = Some(Nil)
        case ("by", args) =>
          if (pendingSort.isEmpty) fail("by(..) without a preceding order()")
          // by(<chain>.aggregate[, dir]): materialize the per-traverser
          // aggregate as a __ord_* column (keyedByTid correlation, the
          // project() machinery) and sort on it — order().by(out('e')
          // .count(), desc) ranks vertices by degree. flushSort drops
          // the bookkeeping columns after the sort.
          def chainKey(src: String, asc: Boolean): (String, Boolean) =
            parseByMod("order", List(RawChain(src))) match {
              case ByProp(p) => p -> asc
              case b: ByAgg =>
                if (trackPath)
                  fail("order().by(<traversal>) together with path() is " +
                    "not in the translated subset")
                val n = s"__ord_${pendingSort.get.size}"
                val keyed = if (frame.columns.contains("__tid")) frame
                            else keyedByTid(ctx, frame)
                frame = perTraverserAgg(ctx, keyed, idLabel, b, n)
                n -> asc
            }
          val key = args match {
            case Seq(f: String) => f -> true
            case Seq(f: String, d: String)
              if Set("asc", "incr").contains(d.toLowerCase) => f -> true
            case Seq(f: String, d: String)
              if Set("desc", "decr").contains(d.toLowerCase) => f -> false
            case Seq(RawChain(src)) => chainKey(src, asc = true)
            case Seq(RawChain(src), d: String)
              if Set("asc", "incr").contains(d.toLowerCase) =>
              chainKey(src, asc = true)
            case Seq(RawChain(src), d: String)
              if Set("desc", "decr").contains(d.toLowerCase) =>
              chainKey(src, asc = false)
            case _ => fail(s"by(${args.mkString(", ")}): expected " +
              "by('col'[, asc|desc]) or by(<chain>.aggregate[, asc|desc])")
          }
          pendingSort = pendingSort match {
            case Some(keys) => Some(keys :+ key)
            case None => fail("by(..) without a preceding order()")
          }
        case ("range", Seq(lo: Long, hi: Long)) =>
          if (lo < 0 || hi < lo || hi > Int.MaxValue)
            fail(s"range($lo, $hi): need 0 <= low <= high")
          // same deterministic-row-set rule as bare limit
          if (!justSorted)
            frame = frame.orderBy(
              frame.columns.sorted.map(col(_).asc).toIndexedSeq: _*)
          frame = frame.offset(lo.toInt).limit((hi - lo).toInt)
        case ("skip", Seq(n: Long)) =>
          if (n < 0 || n > Int.MaxValue) fail(s"skip($n) out of range")
          if (!justSorted) {
            frame = frame.orderBy(
              frame.columns.sorted.map(col(_).asc).toIndexedSeq: _*)
            lastSort = frame.columns.sorted.map(_ -> true).toList
          }
          frame = frame.offset(n.toInt)
          // offset preserves the sort, so a following limit/tail keeps
          // paging the SAME order instead of re-pinning canonically
          carryOrder = true
        case ("sample", Seq(n: Long)) =>
          if (n <= 0 || n > Int.MaxValue) fail(s"sample($n) out of range")
          // Gremlin's sample is random; a distributed engine needs the
          // REPRODUCIBLE spelling (retries, shared keyed frames) — a
          // hash-ordered pick: uniform-ish over the traverser set,
          // deterministic for a given frame, planned as one TakeOrdered
          frame = frame
            .orderBy((xxhash64(frame.columns.sorted.map(col): _*).asc +:
              frame.columns.sorted.map(col(_).asc)).toIndexedSeq: _*)
            .limit(n.toInt)
        case ("tail", args) =>
          val n = args match {
            case Nil => 1L
            case Seq(v: Long) => v
            case _ => fail(s"tail(${args.mkString(", ")}): expected tail() or tail(n)")
          }
          if (n <= 0 || n > Int.MaxValue) fail(s"tail($n) out of range")
          // "last n under the current order" planned as a TakeOrdered:
          // invert the effective keys (explicit order().by(..) if one
          // just fired, whole-row canonical otherwise), take n, restore
          // forward order. Whole-row tiebreak keeps the set and the
          // restored order deterministic under key ties.
          if (justSorted && sortKeyDropped)
            fail("tail() after order().by(<traversal>) is not translatable " +
              "— the materialized sort key is gone after the sort; invert " +
              "the direction on the order().by and take from the front " +
              "with limit() instead")
          val keys =
            if (justSorted && lastSort.nonEmpty) lastSort
            else frame.columns.sorted.map(_ -> true).toList
          val tiebreak = frame.columns.sorted
            .filterNot(c => keys.exists(_._1 == c)).toList.map(_ -> true)
          val eff = keys ++ tiebreak
          frame = frame
            .orderBy(eff.map { case (c, a) => if (a) col(c).desc else col(c).asc }: _*)
            .limit(n.toInt)
            .orderBy(eff.map { case (c, a) => if (a) col(c).asc else col(c).desc }: _*)
        case ("path", Nil) =>
          if (!terminal) fail("path() must be the last step")
          frame = frame.select(col("__path").as("path"))
        case ("hasLabel", Seq(l: String)) => frame = frame.where(col("label") === l)
        case ("has", args) => frame = frame.where(hasCond(args))
        case ("hasNot", Seq(k: String)) =>
          frame = frame.where(col(k).isNull)
        case ("out", args) if args.forall(_.isInstanceOf[String]) =>
          requireVertexSpace(frame, "out")
          frame = hop(ctx, frame, idLabel, args.map(_.toString), "src", "dst")
        case ("in", args) if args.forall(_.isInstanceOf[String]) =>
          requireVertexSpace(frame, "in")
          frame = hop(ctx, frame, idLabel, args.map(_.toString), "dst", "src")
        case ("both", args) if args.forall(_.isInstanceOf[String]) =>
          requireVertexSpace(frame, "both")
          frame = hop(ctx, frame, idLabel, args.map(_.toString), "src", "dst")
            .unionByName(hop(ctx, frame, idLabel, args.map(_.toString), "dst", "src"))
        case (e @ ("outE" | "inE" | "bothE"), args)
            if args.forall(_.isInstanceOf[String]) =>
          // EDGE space: the frame becomes edge rows (src, dst, label and
          // any edge properties such as `weight`) plus __evfrom, the
          // vertex each traverser arrived from — has()/hasLabel()/
          // values()/order() then apply to edge columns, and
          // inV/outV/otherV/bothV land back in vertex space
          if (trackPath)
            fail(s"$e() together with path()/simplePath() is not in the " +
              "translated subset")
          if (!frame.columns.contains("id"))
            fail(s"$e(): needs vertex space")
          val edges0 = ctx.edges.getOrElse(
            fail("traversal step needs edges — apply an `edge` stage first"))
          val labels = args.map(_.toString)
          val ef = if (labels.isEmpty) edges0
                   else edges0.where(col("label").isin(labels: _*))
          val stash = frame.columns
            .filter(c => c.startsWith("__as_") || c == "__tid" || c == "__sack").toSeq
          def attach(endCol: String) =
            frame.select(col("id").as("__evfrom") +: stash.map(col): _*)
              .join(ef, col("__evfrom") === col(endCol))
          frame = e match {
            case "outE" => attach("src")
            case "inE" => attach("dst")
            case _ => attach("src").unionByName(attach("dst"))
          }
        case (v @ ("inV" | "outV" | "otherV" | "bothV"), Nil) =>
          if (!frame.columns.contains("__evfrom"))
            fail(s"$v(): needs edge space — an outE/inE/bothE step first")
          val stash = frame.columns
            .filter(c => c.startsWith("__as_") || c == "__tid" || c == "__sack").toSeq
          def land(idc: Column) =
            frame.select(idc.as("id") +: stash.map(col): _*)
              .join(idLabel, Seq("id"), "left")
          frame = v match {
            case "inV" => land(col("dst"))
            case "outV" => land(col("src"))
            case "otherV" => land(when(col("__evfrom") === col("src"),
              col("dst")).otherwise(col("src")))
            case _ => land(col("src")).unionByName(land(col("dst")))
          }
        case ("sack", Nil) =>
          // read: the traverser becomes its sack value (value space —
          // terminal aggregates/groupCount compose like values())
          if (!frame.columns.contains("__sack"))
            fail("sack(): no sack — start the traversal with " +
              "g.withSack(<number>)")
          frame = frame.select(col("__sack").as("value"))
        case ("sack", Seq(op: String))
            if Set("sum", "minus", "mult", "div", "assign")(op) =>
          // mutate: sack(op).by('prop') folds the element's property
          // into the per-traverser accumulator
          if (!frame.columns.contains("__sack"))
            fail("sack(" + op + "): no sack — start the traversal with " +
              "g.withSack(<number>)")
          val prop = steps.tail.lift(i + 1) match {
            case Some(("by", List(c: String))) => skipN = 1; c
            case _ => fail(s"sack($op): needs a .by('prop') modulator — " +
              "the traverser-value form has no column to read")
          }
          if (!frame.columns.contains(prop))
            fail(s"sack($op).by('$prop'): no such property on the " +
              "traversed elements")
          val updated = op match {
            case "sum" => col("__sack") + col(prop)
            case "minus" => col("__sack") - col(prop)
            case "mult" => col("__sack") * col(prop)
            case "div" => col("__sack") / col(prop)
            case "assign" => col(prop)
          }
          frame = frame.withColumn("__sack", updated)
        case ("subgraph", Seq(tag: String)) =>
          // side-effect step: collects the traversed EDGE SET (the
          // TinkerPop subgraph step) — translated in EDGE space, where
          // the current elements ARE edge rows; the traverser stream
          // passes through unchanged, cap(tag) emits the collection.
          // Repeated subgraph(tag) steps union into one set.
          if (!frame.columns.contains("src") || !frame.columns.contains("dst"))
            fail(s"subgraph('$tag'): collects edges, so it needs edge " +
              "space (g.E() or an outE/inE/bothE step first) — the " +
              "vertex-space form `out('e').subgraph(..)` spells as " +
              "`outE('e').subgraph(..).inV()`")
          val sg = frame.select("src", "label", "dst").distinct()
          subgraphs(tag) = subgraphs.get(tag)
            .map(_.unionByName(sg).distinct()).getOrElse(sg)
        case ("cap", Seq(tag: String)) =>
          if (!terminal) fail("cap() must be the last step")
          frame = subgraphs.getOrElse(tag,
            fail(s"cap('$tag'): no subgraph('$tag') step upstream"))
        case ("dedup", Nil) =>
          // Gremlin dedup() keys on the CURRENT element, not the path:
          // with path tracking on, an arbitrary traverser's path survives
          // per element (dropDuplicates), matching Gremlin's semantics
          // dedup().by('col'): one traverser per distinct key value,
          // the survivor chosen DETERMINISTICALLY (whole-row order —
          // dropDuplicates would keep an arbitrary row)
          steps.tail.lift(i + 1) match {
            case Some(("by", List(c: String))) =>
              skipN = 1
              if (!frame.columns.contains(c))
                fail(s"dedup().by('$c'): no such column on the traversal")
              val others = frame.columns.filterNot(_ == c).sorted
              frame =
                if (others.isEmpty) frame.distinct() // key IS the row
                else {
                  val w = org.apache.spark.sql.expressions.Window
                    .partitionBy(col(c))
                    .orderBy(others.map(col(_).asc).toIndexedSeq: _*)
                  frame.withColumn("__ddrn", row_number().over(w))
                    .where(col("__ddrn") === 1).drop("__ddrn")
                }
            case Some(("by", other)) =>
              fail(s"dedup().by(${other.mkString(", ")}): only a single " +
                "property-name modulator is in the translated subset")
            case _ =>
          frame =
            if (frame.columns.contains("__evfrom")) {
              // the current ELEMENT is the edge row; __evfrom is
              // traversal state (bothE reaches one edge from both
              // endpoints — dedup must collapse them). Keep the min
              // __evfrom deterministically: dropDuplicates would pick
              // an arbitrary survivor for a later otherV landing
              val keys = frame.columns.filterNot(_ == "__evfrom").toIndexedSeq
              frame.groupBy(keys.map(col): _*)
                .agg(min(col("__evfrom")).as("__evfrom"))
            }
            else if (trackPath)
              frame.dropDuplicates(frame.columns
                .filterNot(c => c == "__path" || c == "__spath").toIndexedSeq)
            else frame.distinct()
          }
        case ("limit", Seq(n: Long)) =>
          if (n < 0 || n > Int.MaxValue) fail(s"limit($n) out of range")
          // a bare limit over an unordered frame is a fetch-order-
          // dependent ROW SET — two consumers of the same frame (branch
          // subtrees via keyedByTid, a retried stage) could otherwise
          // see different rows. A whole-row TakeOrdered pins the set
          // deterministically; an explicit order().by(..) directly
          // before the limit wins instead (justSorted)
          if (!justSorted)
            frame = frame.orderBy(
              frame.columns.sorted.map(col(_).asc).toIndexedSeq: _*)
          frame = frame.limit(n.toInt)
        case ("values", Seq(c: String)) =>
          frame = frame.select(col(c).as("value"))
        // id()/label(): the traverser becomes the element id / label —
        // the values() shape, so terminal aggregates and groupCount
        // compose identically
        case ("id", Nil) =>
          if (!frame.columns.contains("id"))
            fail("id(): no element id in scope (value/aggregate space)")
          frame = frame.select(col("id").as("value"))
        case ("label", Nil) =>
          if (!frame.columns.contains("label"))
            fail("label(): no element label in scope")
          frame = frame.select(col("label").as("value"))
        // constant(v): every traverser maps to the literal
        case ("constant", Seq(v)) =>
          frame = frame.select(lit(v).as("value"))
        case ("hasId", ids) if ids.nonEmpty && ids.forall(a =>
            a.isInstanceOf[String] || a.isInstanceOf[Long] ||
            a.isInstanceOf[Double]) =>
          frame = frame.where(col("id").isin(idLiterals(ids): _*))
        case ("simplePath", Nil) =>
          // keep traversers whose path revisits no vertex — the
          // canonical cull is the origin-return two-hop
          // (order → customer → same order). Pure per-row array
          // arithmetic over the tracked path: no shuffle
          frame = frame.where(
            size(array_distinct(col("__spath"))) === size(col("__spath")))
        case (vm @ ("valueMap" | "elementMap"), keys)
            if keys.forall(_.isInstanceOf[String]) =>
          // property-map projection, rendered as a DETERMINISTIC JSON
          // string (map columns crash the driver compare's pandas sort;
          // to_json over map_from_arrays keeps the given key order).
          // valueMap: {"k":["v"],…} list-valued, no id/label;
          // elementMap: {"id":…,"label":…,"k":"v",…} flat. Values are
          // string-rendered — the property graph carries one value per
          // key, and the textual form is what the driver compares
          if (!frame.columns.contains("id"))
            fail(s"$vm(): needs element space (a vertex frame), not values")
          val ks =
            if (keys.nonEmpty) keys.map(_.toString)
            else vertices.columns.filterNot(c => c == "id" || c == "label" ||
              c.startsWith("__")).toSeq.sorted
          ks.find(k => !frame.columns.contains(k) &&
              !vertices.columns.contains(k)).foreach(k =>
            fail(s"$vm('$k'): no such property on the traversed elements"))
          // a hop lands on (id, label) only — re-attach the landed
          // vertices' requested properties (the select().by() pattern)
          val missing = ks.filterNot(frame.columns.contains)
          if (missing.nonEmpty)
            frame = frame.join(
              vertices.select(("id" +: "label" +: missing).map(col): _*)
                .dropDuplicates("id", "label"),
              Seq("id", "label"), "left")
          frame =
            if (vm == "valueMap")
              frame.select(to_json(map_from_arrays(
                array(ks.map(lit): _*),
                array(ks.map(k => array(col(k).cast("string"))): _*)))
                .as("value"))
            else
              frame.select(to_json(map_from_arrays(
                array(("id" :: "label" :: ks.toList).map(lit): _*),
                array(("id" :: "label" :: ks.toList)
                  .map(k => col(k).cast("string")): _*))).as("value"))
        case ("count", Nil) =>
          if (!terminal) fail("count() must be the last step")
          frame = frame.agg(count(lit(1)).as("count"))
        case (a, Nil) if ByAggs(a) && a != "count" =>
          // terminal reducing barriers over value space: sum/mean/min/max
          if (!terminal) fail(s"$a() must be the last step")
          if (!frame.columns.contains("value"))
            fail(s"$a(): needs value space — project with values('col') first")
          val v = a match {
            case "sum" => sum(col("value"))
            case "mean" | "avg" => avg(col("value"))
            case "min" => min(col("value"))
            case "max" => max(col("value"))
          }
          frame = frame.agg(v.as(a))
        case ("fold", Nil) =>
          // terminal: the traverser bag as ONE list — emitted sorted +
          // comma-joined (the driver-compare list serialization)
          if (!terminal) fail("fold() must be the last step")
          val felem =
            if (frame.columns.contains("value")) col("value") else col("id")
          frame = frame.agg(array_join(
            array_sort(collect_list(felem)).cast("array<string>"), ",")
            .as("folded"))
        case ("groupCount", Nil) =>
          // terminal: traverser counts per current element (Gremlin's
          // result map, emitted as rows). `.by('col')` groups by that
          // column instead of the element itself.
          val keyC: Column = steps.tail.lift(i + 1) match {
            case Some(("by", List(c: String))) =>
              if (i + 1 != steps.tail.length - 1)
                fail("groupCount().by(..) must end the traversal")
              skipN = 1
              col(c)
            case None =>
              if (!terminal) fail("groupCount() must be the last step " +
                "(optionally followed by .by('col'))")
              if (frame.columns.contains("value")) col("value")
              else if (frame.columns.contains("id")) col("id")
              else fail("groupCount() in EDGE space needs an explicit " +
                ".by('col') — edge rows have no element id")
            case Some(_) => fail("groupCount() must be the last step " +
              "(optionally followed by .by('col'))")
          }
          frame = frame.groupBy(keyC).agg(count(lit(1)).as("count"))
        case ("group", Nil) =>
          // terminal: Gremlin's result map as (key, value) rows. First
          // by(..) picks the key (a property), second the value — an
          // aggregate over each group's elements (count() or
          // values('p').sum()/mean()/min()/max()); absent, the default
          // is the group's element list, emitted sorted + comma-joined
          // (the driver-compare list serialization contract)
          val mods = scala.collection.mutable.ArrayBuffer.empty[List[Any]]
          while (mods.size < 2 &&
              steps.tail.lift(i + 1 + skipN).exists(_._1 == "by")) {
            mods += steps.tail(i + 1 + skipN)._2; skipN += 1
          }
          if (i + skipN != steps.tail.length - 1)
            fail("group() and its by(..) modulators must end the traversal")
          val keyC2 = mods.headOption.map(parseByMod("group", _)) match {
            case Some(ByProp(k)) => col(k)
            case None => fail("group() needs a key: .by('col')")
            case Some(_: ByAgg) =>
              fail("group(): the KEY by(..) must be a property — " +
                "by('col') or by(values('col'))")
          }
          frame = mods.lift(1).map(parseByMod("group", _)) match {
            case None =>
              val elem =
                if (frame.columns.contains("value")) col("value") else col("id")
              frame.groupBy(keyC2.as("key")).agg(
                array_join(array_sort(collect_list(elem)).cast("array<string>"),
                  ",").as("value"))
            case Some(ByAgg("", agg, prop)) =>
              val v = agg match {
                case "count" => count(lit(1))
                case "sum" => sum(col(prop.get))
                case "mean" | "avg" => avg(col(prop.get))
                case "min" => min(col(prop.get))
                case "max" => max(col(prop.get))
              }
              frame.groupBy(keyC2.as("key")).agg(v.as("value"))
            case Some(ByAgg(hops, agg, prop)) =>
              // nested by(<traversal>) with hops: TinkerPop group-stream
              // semantics — the value traversal reduces over the UNION
              // of the group's elements' sub-results (group().by('k')
              // .by(out('e').count()) = total out-edges per key group).
              // keyedByTid correlates each element's sub-results back to
              // its group key; a left join keeps keys whose elements
              // yield NOTHING (count → 0; sum/mean/min/max → null, the
              // empty-stream reduce)
              val tid = keyedByTid(ctx, frame)
              val chainSrc = (Seq(hops).filter(_.nonEmpty) ++
                prop.map(p => s"values('$p')")).mkString(".")
              val sub = applyBranch(ctx, tid, idLabel, chainSrc)
              // count with values('p'): count property EMISSIONS (null
              // re-attached properties emit nothing, Gremlin parity);
              // element-space count(): count matched rows via a marker
              val subV =
                if (prop.isDefined) sub.select(col("__tid"), col("value"))
                else sub.select(col("__tid"), lit(1).as("value"))
              val joined = tid.select(col("__tid"), keyC2.as("key"))
                .join(subV, Seq("__tid"), "left")
              val v = agg match {
                case "count" => count(col("value"))
                case "sum" => sum(col("value"))
                case "mean" | "avg" => avg(col("value"))
                case "min" => min(col("value"))
                case "max" => max(col("value"))
              }
              joined.groupBy("key").agg(v.as("value"))
            case Some(ByProp(p)) =>
              // by('p') as the value by: the group's p-values, sorted +
              // comma-joined (Gremlin's value list)
              frame.groupBy(keyC2.as("key")).agg(
                array_join(array_sort(collect_list(col(p)))
                  .cast("array<string>"), ",").as("value"))
          }
        case ("project", keys) if keys.nonEmpty &&
            keys.forall(_.isInstanceOf[String]) =>
          // terminal: one output column per key, each filled by its
          // by(..) modulator — a property directly, or a sub-traversal
          // ending in an aggregate, evaluated per traverser on the
          // keyedByTid correlation id (missing sub-results count 0 /
          // aggregate null, like an empty Gremlin sub-traversal)
          val names = keys.map(_.asInstanceOf[String])
          val mods = scala.collection.mutable.ArrayBuffer.empty[List[Any]]
          while (mods.size < names.size &&
              steps.tail.lift(i + 1 + skipN).exists(_._1 == "by")) {
            mods += steps.tail(i + 1 + skipN)._2; skipN += 1
          }
          if (mods.size != names.size)
            fail(s"project(${names.mkString(", ")}): needs exactly " +
              s"${names.size} by(..) modulators, got ${mods.size}")
          if (i + skipN != steps.tail.length - 1)
            fail("project() and its by(..) modulators must end the traversal")
          val bys = mods.map(parseByMod("project", _)).toList
          val needTid = bys.exists(_.isInstanceOf[ByAgg])
          var out = if (needTid) keyedByTid(ctx, frame) else frame
          bys.zip(names).foreach {
            case (ByProp(c), n) => out = out.withColumn(s"__pr_$n", col(c))
            case (b: ByAgg, n) =>
              out = perTraverserAgg(ctx, out, idLabel, b, s"__pr_$n")
          }
          frame = out.select(names.map(n => col(s"__pr_$n").as(n)): _*)
        case ("union", chains) if chains.nonEmpty &&
            chains.forall(_.isInstanceOf[RawChain]) =>
          // each traverser flows through EVERY branch; results
          // concatenate (bag semantics). Branches are projected to
          // their common columns — Gremlin's element space — so a
          // hop branch and a filter branch land compatibly.
          if (trackPath)
            fail("union() together with path() is not in the translated subset")
          val branches = chains.map(c =>
            applyBranch(ctx, frame, idLabel, c.asInstanceOf[RawChain].src))
          val common = branches.map(_.columns.toSeq)
            .reduce((a, b) => a.filter(b.contains))
          if (!common.exists(Set("id", "value")))
            fail("union(): branches share no id/value column — every " +
              "branch must land in the same element space")
          frame = branches.map(b => b.select(common.map(col): _*))
            .reduce(_ unionByName _)
        case ("emit", Nil) =>
          if (steps.tail.lift(i + 1).exists(s => Set("repeat", "until")(s._1)))
            emitBeforeNext = true
          else fail("emit() only modulates repeat() — place it directly " +
            "before or after a repeat step")
        case ("until", Seq(c: RawChain)) =>
          if (steps.tail.lift(i + 1).exists(s => Set("repeat", "emit")(s._1)))
            untilBeforeNext = Some(c.src)
          else fail("until(cond) only modulates repeat() — place it " +
            "directly before or after a repeat step")
        case ("repeat", Seq(chain: RawChain)) =>
          // frame-level loop (until/emit forms — plain times(k) unrolls
          // textually in expandRepeats). Gather trailing modulators:
          var untilAfter: Option[String] = None
          var emitAfter = false
          var timesK: Option[Int] = None
          var more = true
          while (more) steps.tail.lift(i + 1 + skipN) match {
            case Some(("until", Seq(c: RawChain))) if untilAfter.isEmpty =>
              untilAfter = Some(c.src); skipN += 1
            case Some(("emit", Nil)) if !emitAfter =>
              emitAfter = true; skipN += 1
            case Some(("times", Seq(n: Long))) if timesK.isEmpty =>
              if (n < 0 || n > 12)
                fail(s"repeat(...).times($n): bounded at 12 — every " +
                  "iteration is a shuffle join; deeper traversals migrate " +
                  "to the graph stages (graphbfs)")
              timesK = Some(n.toInt); skipN += 1
            case _ => more = false
          }
          if (untilBeforeNext.isDefined && untilAfter.isDefined)
            fail("until(cond) given both before and after repeat()")
          val preCheck = untilBeforeNext.isDefined // while-do vs do-while
          val condSrc = untilBeforeNext.orElse(untilAfter)
          val emitAll = emitAfter || emitBeforeNext
          val emitStart = emitBeforeNext // emit BEFORE repeat includes F0
          untilBeforeNext = None; emitBeforeNext = false
          if (condSrc.isEmpty && !emitAll && timesK.isEmpty)
            fail("repeat(chain) needs a terminator: times(k), until(cond) " +
              "or emit() — an unmodulated repeat never stops")
          val cond = condSrc.map(filterCond("until", _))
          def not(c: Column): Column = !coalesce(c, lit(false))
          var active = frame
          val emitted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
          if (emitStart) emitted += active
          cond.filter(_ => preCheck).foreach { c =>
            // while-do: traversers satisfying at ENTRY exit immediately
            if (!emitStart) emitted += active.where(c)
            active = active.where(not(c))
          }
          // one round: step the frontier, emit what the modulators ask
          // for, and return the traversers that keep looping
          def absorb(stepped: DataFrame): DataFrame = cond match {
            case Some(c) =>
              emitted += (if (emitAll) stepped else stepped.where(c))
              stepped.where(not(c))
            case None =>
              if (emitAll) emitted += stepped
              stepped
          }
          timesK match {
            // No times(k): the k <= 12 unroll bound doubles as an implicit
            // or(loops() == 12) — traversers still active at the cap exit
            // (times(k) semantics). The loop runs eagerly: each stepped
            // frontier is a checkpointed round whose count of still-
            // looping traversers rides the checkpoint job, so an until()
            // that converges in 3 hops plans 3 joins, not 12 fixed
            // stages. Dropped rounds were empty frames — the unioned
            // result is unchanged.
            case None =>
              Iterate.fixpoint(active, Iterate.Budget.quiet(12),
                  counting = cond.fold(lit(true))(not)) { (_, _) =>
                applyBranch(ctx, active, idLabel, chain.src)
              } { round =>
                active = absorb(round.state)
                round.count == 0L
              }
            // an explicit times(k): the user bounded the plan; keep it lazy
            case Some(k) =>
              active = Iterate.rounds(active, k)(a =>
                absorb(applyBranch(ctx, a, idLabel, chain.src)))
          }
          // until without emit: cap survivors exit like times(k); with
          // emit they were already in the last frontier
          if (cond.isDefined && !emitAll) emitted += active
          if (cond.isEmpty && !emitAll) emitted += active // bare times(k)
          // times(0) with emit(): zero iterations — the traverser exits
          // immediately and emit() emits it (TinkerPop's short-circuit);
          // without this the frames list would be empty and un-unionable
          if (emitted.isEmpty) emitted += active
          // frontiers land in the common element space (the start frame
          // carries raw vertex properties that a hopped frontier does
          // not); identical hop sub-plans across frontiers share their
          // shuffle via Spark's ReuseExchange — frontier i's joins are
          // not re-executed for every deeper frontier
          val fcommon = emitted.map(_.columns.toSeq)
            .reduce((a, b) => a.filter(b.contains))
          if (!fcommon.contains("id"))
            fail("repeat(): frontiers share no id column — the repeat " +
              "chain must stay in vertex space")
          frame = emitted.map(e => e.select(fcommon.map(col): _*))
            .reduce(_ unionByName _)
        case ("coalesce", chains) if chains.nonEmpty &&
            chains.forall(_.isInstanceOf[RawChain]) =>
          // per-traverser first-non-empty branch: branch b's results are
          // taken for exactly the traversers no earlier branch matched
          // (left-anti precedence on a synthetic traverser id). The id
          // must bind to the SAME row in every subtree that re-evaluates
          // `keyed` (branches AND the anti-joins) — a bare
          // monotonically_increasing_id over a shuffle output is not
          // re-evaluation-stable (fetch order varies), so the frame is
          // hash-partitioned and sorted on ALL its columns first: the
          // row→id binding is then deterministic up to swaps between
          // IDENTICAL rows, which are interchangeable by definition
          if (trackPath)
            fail("coalesce() together with path() is not in the translated subset")
          val keyed = keyedByTid(ctx, frame)
          var rest = keyed
          val picked = chains.map { c =>
            val b = applyBranch(ctx, rest, idLabel, c.asInstanceOf[RawChain].src)
            rest = rest.join(b.select("__tid").distinct(), Seq("__tid"), "left_anti")
            b
          }
          val common = picked.map(_.columns.toSeq)
            .reduce((a, b) => a.filter(b.contains)).filterNot(_ == "__tid")
          if (!common.exists(Set("id", "value")))
            fail("coalesce(): branches share no id/value column — every " +
              "branch must land in the same element space")
          frame = picked.map(b => b.select(common.map(col): _*))
            .reduce(_ unionByName _)
        case ("optional", Seq(chain: RawChain)) =>
          // per-traverser: the sub-traversal's results where it yields
          // any, else the traverser itself — coalesce(chain, identity),
          // via the same left-anti precedence on the correlation id
          if (trackPath)
            fail("optional() together with path() is not in the translated subset")
          val keyed = keyedByTid(ctx, frame)
          val took = applyBranch(ctx, keyed, idLabel, chain.src)
          val kept = keyed.join(took.select("__tid").distinct(), Seq("__tid"), "left_anti")
          val ocommon = Seq(took, kept).map(_.columns.toSeq)
            .reduce((a, b) => a.filter(b.contains)).filterNot(_ == "__tid")
          if (!ocommon.exists(Set("id", "value")))
            fail("optional(): the branch must land in the same id/value " +
              "element space as its start")
          frame = Seq(took, kept).map(b => b.select(ocommon.map(col): _*))
            .reduce(_ unionByName _)
        case ("choose", args) if args.length >= 2 && args.length <= 3 &&
            args.forall(_.isInstanceOf[RawChain]) =>
          // per-traverser if/else: the predicate (a filter chain) routes
          // each traverser through exactly one branch; 2-arg form keeps
          // non-matching traversers as-is (identity false branch)
          if (trackPath)
            fail("choose() together with path() is not in the translated subset")
          val cond = filterCond("choose", args.head.asInstanceOf[RawChain].src)
          val tSide = applyBranch(ctx, frame.where(cond), idLabel,
            args(1).asInstanceOf[RawChain].src)
          val fFrame = frame.where(!coalesce(cond, lit(false)))
          val fSide =
            if (args.length == 3)
              applyBranch(ctx, fFrame, idLabel, args(2).asInstanceOf[RawChain].src)
            else fFrame
          val ccommon = Seq(tSide, fSide).map(_.columns.toSeq)
            .reduce((a, b) => a.filter(b.contains))
          if (!ccommon.exists(Set("id", "value")))
            fail("choose(): branches share no id/value column — both " +
              "branches must land in the same element space")
          frame = Seq(tSide, fSide).map(b => b.select(ccommon.map(col): _*))
            .reduce(_ unionByName _)
        case ("branch", Seq(sel: RawChain)) =>
          // branch(<selector>).option(v, <chain>)… — the selector
          // (values('col'), or label()) routes each traverser to the
          // option whose token equals its value; option('none', <chain>)
          // catches the rest. Set-oriented: one filtered sub-frame per
          // option, results unioned over the common element space.
          if (trackPath)
            fail("branch() together with path() is not in the translated subset")
          val selCol = {
            val sbody = "." + sel.src.trim
            Step.findAllMatchIn(sbody)
              .map(m => (m.group(1), parseArgs(m.group(2)))).toList match {
              case List(("values", List(p: String))) => col(p)
              case List(("label", Nil)) => col("label")
              case _ => fail(s"branch(${sel.src}): the selector is " +
                "values('col') or label() in the translated subset")
            }
          }
          val opts = scala.collection.mutable.ArrayBuffer
            .empty[(Option[Any], RawChain)]
          var moreOpts = true
          while (moreOpts) steps.tail.lift(i + 1 + skipN) match {
            case Some(("option", List(tok, c: RawChain)))
                if !tok.isInstanceOf[RawChain] =>
              val key = if (tok == "none") None else Some(tok)
              opts += ((key, c)); skipN += 1
            case _ => moreOpts = false
          }
          if (opts.isEmpty)
            fail("branch(<selector>): needs at least one " +
              ".option(value, <chain>) modulator")
          val tokens: Seq[Any] = opts.collect { case (Some(t), _) => t }.toSeq
          val routed = opts.map {
            case (Some(t), c) =>
              applyBranch(ctx, frame.where(selCol === lit(t)), idLabel, c.src)
            case (None, c) =>
              // Pick.none: traversers no token matched (null included)
              val noMatch =
                if (tokens.isEmpty) lit(true)
                else !coalesce(selCol.isin(tokens: _*), lit(false))
              applyBranch(ctx, frame.where(noMatch), idLabel, c.src)
          }
          val bcommon = routed.map(_.columns.toSeq)
            .reduce((a, b) => a.filter(b.contains))
          if (!bcommon.exists(Set("id", "value")))
            fail("branch(): options share no id/value column — every " +
              "option must land in the same element space")
          frame = routed.map(b => b.select(bcommon.map(col): _*))
            .reduce(_ unionByName _)
        case ("as", Seq(tag: String)) =>
          frame = frame.withColumn(s"__as_$tag", col("id"))
        case ("where", Seq(Pred(op, tag))) =>
          val bound = s"__as_$tag"
          if (!frame.columns.contains(bound))
            fail(s"where($op('$tag')): no as('$tag') binding upstream")
          frame = frame.where(
            if (op == "eq") col("id") === col(bound) else col("id") =!= col(bound))
        case ("where", Seq(a: String, Pred(op, tag))) =>
          // two-tag compare — where('a', neq('b')): the de-mirror /
          // distinctness filter over match()/as() bindings
          Seq(a, tag).foreach { t =>
            if (!frame.columns.contains(s"__as_$t"))
              fail(s"where('$a', $op('$tag')): no as('$t') binding upstream")
          }
          frame = frame.where(
            if (op == "eq") col(s"__as_$a") === col(s"__as_$tag")
            else col(s"__as_$a") =!= col(s"__as_$tag"))
        case ("where", Seq(chain: RawChain)) =>
          // existence filter: keep traversers whose anonymous
          // sub-traversal yields at least one result — a LEFT SEMI on
          // the same re-evaluation-stable correlation id coalesce uses
          frame = existenceFilter(ctx, frame, idLabel, chain.src,
            trackPath, semi = true)
        case ("not", Seq(chain: RawChain)) =>
          // the anti form: keep traversers whose sub-traversal is EMPTY
          frame = existenceFilter(ctx, frame, idLabel, chain.src,
            trackPath, semi = false)
        case ("select", tags) if tags.nonEmpty && tags.forall(_.isInstanceOf[String]) =>
          val names = tags.map(_.asInstanceOf[String])
          names.foreach { t =>
            if (!frame.columns.contains(s"__as_$t"))
              fail(s"select('$t'): no as('$t') binding upstream")
          }
          // optional by(..) modulators — one per tag, in order: each
          // projects a PROPERTY of that bound vertex (looked up from
          // the registered vertices; a two-class id yields one row per
          // distinct property value, the reference's class-vertex model)
          val selMods = scala.collection.mutable.ArrayBuffer.empty[List[Any]]
          while (selMods.size < names.size &&
              steps.tail.lift(i + 1 + skipN).exists(_._1 == "by")) {
            selMods += steps.tail(i + 1 + skipN)._2; skipN += 1
          }
          if (selMods.isEmpty) {
            frame = names match {
              // one tag re-enters vertex space: id + re-attached label
              case Seq(t) => frame.select(col(s"__as_$t").as("id"))
                .join(idLabel, Seq("id"), "left")
              case many => frame.select(many.map(t => col(s"__as_$t").as(t)): _*)
            }
          } else {
            if (selMods.size != names.size)
              fail(s"select(${names.mkString(", ")}): needs 0 or " +
                s"${names.size} by(..) modulators, got ${selMods.size}")
            val withBys = names.zip(selMods.map(parseByMod("select", _)))
              .foldLeft(frame) {
                case (f, (t, ByProp(p))) =>
                  val look = vertices
                    .select(col("id").as(s"__sel_$t"), col(p).as(s"__selv_$t"))
                    .distinct()
                  f.join(look, col(s"__as_$t") === col(s"__sel_$t"), "left")
                    .drop(s"__sel_$t")
                case (_, (t, _: ByAgg)) =>
                  fail(s"select('$t').by(..): only a property modulator " +
                    "— per-traverser sub-traversal aggregates belong to " +
                    "project()")
              }
            frame = names match {
              // one tag with a by: its property, in value space
              case Seq(t) => withBys.select(col(s"__selv_$t").as("value"))
              case many => withBys.select(
                many.map(t => col(s"__selv_$t").as(t)): _*)
            }
          }
        case ("local", Seq(chain: RawChain)) =>
          // per-traverser sub-traversal scope. A stateless chain is
          // traverser-scoped already (hops/filters apply per row) and
          // inlines; a trailing aggregate yields one value per
          // traverser; a trailing limit(n) becomes a per-traverser
          // top-n over the deterministic all-column order.
          val lbody = "." + chain.src.trim
          val lst = Step.findAllMatchIn(lbody)
            .map(m => (m.group(1), m.group(2).trim, m.matched)).toList
          val lcons = lst.map(_._3).mkString
          if (lcons != lbody || lst.isEmpty)
            fail(s"local(${chain.src}): cannot parse as a step chain")
          lst.last match {
            case (a, "", _) if ByAggs(a) =>
              if (trackPath)
                // a faithful translation does not exist in this model:
                // path() tracks a TYPED id array per traverser, while a
                // local aggregate appends a VALUE (count/sum/avg…) of a
                // different type to the path — Gremlin's heterogeneous
                // path is not representable as one Spark array column
                fail("local(<aggregate>) together with path() is not in " +
                  "the translated subset — compute the aggregate without " +
                  "path() (e.g. project('p','n').by(path()).by(out()." +
                  "count()) keyed per traverser), or migrate to the " +
                  "`motif` transformer / graphdegree stage")
              parseByMod("local", List(chain)) match {
                case ByAgg(hops, agg, prop) =>
                  // the keyed id must be retry-stable even when ONE
                  // subtree consumes it: the groupBy below shuffles on
                  // __tid, and a shuffle-map retry that re-enumerates a
                  // fetched partition in a different order would rebind
                  // rows to new ids while other reducers already
                  // aggregated the old binding — so every local() keying
                  // goes through keyedByTid (deterministic sort before
                  // numbering, lazily checkpointed)
                  val keyed = keyedByTid(ctx, frame)
                  val chainSrc = (Seq(hops).filter(_.nonEmpty) ++
                    prop.map(p => s"values('$p')")).mkString(".")
                  val sub = if (chainSrc.isEmpty) keyed
                            else applyBranch(ctx, keyed, idLabel, chainSrc)
                  val v = agg match {
                    case "count" => count(lit(1))
                    case "sum" => sum(col("value"))
                    case "mean" | "avg" => avg(col("value"))
                    case "min" => min(col("value"))
                    case "max" => max(col("value"))
                  }
                  val per = sub.groupBy(col("__tid")).agg(v.as("value"))
                  // count() of an empty sub-traversal emits 0 (Gremlin's
                  // reducing barrier); other aggregates emit nothing
                  frame =
                    if (agg == "count")
                      keyed.select(col("__tid")).join(per, Seq("__tid"), "left")
                        .select(coalesce(col("value"), lit(0L)).as("value"))
                    else per.select(col("value"))
                case _ => fail(s"local(${chain.src}): unreachable modulator")
              }
            case ("limit", nTxt, _) if nTxt.matches("\\d+") && lst.size > 1 =>
              if (trackPath)
                // same representability gap as local(<aggregate>): the
                // per-traverser top-n re-keys rows by __tid, and the
                // sub-chain's hops would have to extend __path inside
                // the keyed scope — run the limited expansion without
                // path(), or track paths with an explicit repeat().emit()
                fail("local(<chain>.limit(n)) together with path() is not " +
                  "in the translated subset — drop path() around the " +
                  "per-traverser top-n, or expand hops with " +
                  "repeat(..).emit().path() and cap afterwards; richer " +
                  "traversals migrate to the `motif` transformer")
              val n = nTxt.toInt
              // retry-stable traverser key (see the ByAgg case above —
              // the window below shuffles on __tid, so a bare monotonic
              // id could rebind rows mid-retry)
              val keyed = keyedByTid(ctx, frame)
              val prefixSrc = lst.dropRight(1).map(_._3).mkString.stripPrefix(".")
              val sub = applyBranch(ctx, keyed, idLabel, prefixSrc)
              // deterministic per-traverser order: ALL columns, sorted.
              // `id` alone is NOT a total order — one id registered
              // under two labels yields one row per label (the
              // class-vertex model above), and which of the tied rows
              // row_number would keep under limit(1) must not depend on
              // shuffle fetch order
              val ordCols = sub.columns.filterNot(_ == "__tid").toSeq.sorted
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(col("__tid")).orderBy(ordCols.map(col): _*)
              frame = sub.withColumn("__rn", row_number().over(w))
                .where(col("__rn") <= n).drop("__rn", "__tid")
            case _ =>
              // stateless: identical to inlining the chain
              frame = applyBranch(ctx, frame, idLabel, chain.src)
          }
        case ("match", pats) if pats.nonEmpty &&
            pats.forall(_.isInstanceOf[RawChain]) =>
          // match() (r18): pattern-join of traversal fragments sharing
          // as() tags. Pattern = as('t1').<hasLabel/has/hasNot/out/in/
          // both>*[.as('t2')] — a trailing as binds the landing, a
          // filter-only pattern constrains its start tag, and
          // as('a')…as('a') closes a cycle. Semantics: the SOLUTION set
          // (DISTINCT tag bindings — the relational reading a SQL
          // oracle mirrors with joins); the TinkerPop solver's
          // traverser-bag multiplicities are out of subset. The
          // incoming traversers bind the FIRST pattern's start tag;
          // afterwards the traverser sits at that binding with every
          // tag in scope for select()/where(eq)/groupCount().
          // Scale shape: each pattern is one edges-join relation,
          // deduped to bindings BEFORE the pattern-join, and the join
          // order is the greedy connected chain — never a cartesian.
          requireVertexSpace(frame, "match")
          if (trackPath)
            fail("match() together with path()/simplePath() is not in " +
              "the translated subset")
          // pre-existing as() bindings: TinkerPop's solver would JOIN
          // against them; this translation re-binds the first pattern's
          // start tag to the incoming traversers, which would silently
          // change the answer — fail loud instead (r18 review)
          locally {
            val preBound = frame.columns.filter(_.startsWith("__as_"))
              .map(_.stripPrefix("__as_"))
            if (preBound.nonEmpty)
              fail(s"match() after as(${preBound.mkString("'", "', '", "'")}) " +
                "bindings is not in the translated subset — TinkerPop " +
                "joins the patterns against existing bindings; place the " +
                "match directly after the start/hops (its first pattern's " +
                "start tag binds the incoming traversers) or migrate to " +
                "the motif transformer")
          }
          case class MPat(startTag: String, endTag: Option[String],
                          mids: List[(String, List[Any])], src: String)
          val parsed = pats.map { raw =>
            val src = raw.asInstanceOf[RawChain].src
            val body = "." + src.trim
            val st = Step.findAllMatchIn(body)
              .map(m => (m.group(1), parseArgs(m.group(2)))).toList
            val consumed = Step.findAllMatchIn(body).map(_.matched).mkString
            if (consumed != body || st.isEmpty)
              fail(s"match pattern '$src': cannot parse as a step chain")
            st.head match {
              case ("as", List(t: String)) =>
                val rest = st.tail
                rest.lastOption match {
                  case Some(("as", List(e: String))) =>
                    MPat(t, Some(e), rest.dropRight(1), src)
                  case _ => MPat(t, None, rest, src)
                }
              case _ => fail(s"match pattern '$src' must start with as('tag')")
            }
          }
          def propGuard(p: MPat, f: DataFrame, k: String): Unit =
            if (!f.columns.contains(k))
              fail(s"match pattern '${p.src}': '$k' is not a column after " +
                "a hop — properties live on the start element; move the " +
                "filter before the hops or re-anchor the pattern")
          def relation(p: MPat): DataFrame = {
            // pattern relations reference properties by quoted name only
            // — the pruned start frame carries all of those (see above)
            var f = prunedVertices.withColumn(s"__as_${p.startTag}", col("id"))
            p.mids.foreach {
              case ("hasLabel", Seq(l: String)) => f = f.where(col("label") === l)
              case ("has", args2) =>
                args2.headOption.foreach {
                  case k: String => propGuard(p, f, k)
                  case _ => ()
                }
                f = f.where(hasCond(args2))
              case ("hasNot", Seq(k: String)) =>
                propGuard(p, f, k); f = f.where(col(k).isNull)
              case ("out", args2) if args2.forall(_.isInstanceOf[String]) =>
                f = hop(ctx, f, idLabel, args2.map(_.toString), "src", "dst")
              case ("in", args2) if args2.forall(_.isInstanceOf[String]) =>
                f = hop(ctx, f, idLabel, args2.map(_.toString), "dst", "src")
              case ("both", args2) if args2.forall(_.isInstanceOf[String]) =>
                f = hop(ctx, f, idLabel, args2.map(_.toString), "src", "dst")
                  .unionByName(
                    hop(ctx, f, idLabel, args2.map(_.toString), "dst", "src"))
              case (o2, a2) =>
                fail(s"match pattern step '$o2(${a2.mkString(", ")})' is " +
                  "not in the match subset (hasLabel/has/hasNot/out/in/" +
                  "both between the as() anchors)")
            }
            val startC = col(s"__as_${p.startTag}")
            p.endTag match {
              case Some(e) if e == p.startTag => // cycle closes on itself
                f.where(startC === col("id"))
                  .select(startC.as(p.startTag)).distinct()
              case Some(e) =>
                f.select(startC.as(p.startTag), col("id").as(e)).distinct()
              case None => f.select(startC.as(p.startTag)).distinct()
            }
          }
          var sol = frame.select(col("id").as(parsed.head.startTag)).distinct()
          var bound = Set(parsed.head.startTag)
          var remaining = parsed.toList
          while (remaining.nonEmpty) {
            remaining.find(p => bound(p.startTag) || p.endTag.exists(bound)) match {
              case None => fail("match(): patterns " +
                remaining.map(p => s"'${p.src}'").mkString(", ") +
                s" share no tag with {${bound.toSeq.sorted.mkString(", ")}} " +
                "— a disconnected pattern set is a cartesian binding " +
                "space; chain the patterns through shared as() tags")
              case Some(p) =>
                remaining = remaining.filterNot(_ eq p)
                val rel = relation(p)
                val shared = rel.columns.filter(bound).toSeq
                sol = sol.join(rel, shared)
                bound ++= rel.columns
            }
          }
          val tagCols = bound.toSeq.sorted.map(t => col(t).as(s"__as_$t"))
          frame = sol
            .select(tagCols :+ col(parsed.head.startTag).as("id"): _*)
            .join(idLabel, Seq("id"), "left")
        case (other, args) =>
          fail(s"unsupported step '$other(${args.mkString(", ")})' — the " +
            "translated subset is V/E/hasLabel/has/hasId/out/in/both/" +
            "outE/inE/bothE (+ inV/outV/otherV/bothV)/dedup/" +
            "limit/range/skip/tail/sample/id/label/constant/" +
            "values/valueMap/elementMap/simplePath/" +
            "count/sum/mean/min/max/fold/groupCount[.by('col')]/" +
            "group().by('k')[.by(<aggregate>)]/" +
            "project('a', …).by(<prop|chain.aggregate>)…/" +
            "local(<chain[.aggregate|.limit(n)]>)/" +
            "as/where(eq|neq)/where('a', eq|neq('b'))/select[.by('prop')…]/" +
            "repeat(..) with times(k)/until(filter)/emit()/" +
            "order().by(..)/range(lo,hi)/path()/" +
            "union(chain, …)/coalesce(chain, …)/optional(chain)/" +
            "choose(filter, chain[, chain])/" +
            "branch(selector).option(v, chain)…/" +
            "match(as('a').<hops>.as('b'), …)(solution-set semantics); " +
            "richer traversals migrate to the `motif` transformer " +
            "(pattern \"(a)-[e:label]->(b); …\") or the graph stages " +
            "(graphdegree/graphneighbors/pagerank)")
      }
      }
    }
    flushSort()
    if (emitBeforeNext || untilBeforeNext.isDefined)
      fail("emit()/until(cond) modulate a repeat() step — none followed")
    // as(..) bindings are traversal state, not output columns; __path
    // survives only a terminal path() (as `path`) — a simplePath()-only
    // traversal drops the tracking column here
    frame.drop(frame.columns
      .filter(c => c.startsWith("__as_") || c == "__path" || c == "__spath" ||
        c == "__evfrom" || c == "__sack")
      .toIndexedSeq: _*)
  }

  /** Vertex-id literals as the string id space — shared by g.V(id, …)
    * and hasId(id, …) so both render the same literal identically
    * (whole doubles collapse to their integral spelling). */
  private def idLiterals(ids: Seq[Any]): Seq[String] = ids.map {
    case d: Double if d.isWhole => d.toLong.toString
    case other => other.toString
  }

  /** An edge-space frame (outE/inE/bothE) must return to vertex space
    * through inV/outV/otherV/bothV before vertex steps apply. */
  private def requireVertexSpace(frame: DataFrame, step: String): Unit =
    if (frame.columns.contains("__evfrom"))
      fail(s"$step(): the traversal is in EDGE space — land back on " +
        "vertices with inV()/outV()/otherV()/bothV() first")

  /** `has(...)` filter condition — shared by the main chain and union
    * branches. eq/neq on a quoted name parse as bound-tag Preds
    * (where()'s grammar wins); inside has() they compare the VALUE. */
  private def hasCond(args: List[Any]): Column = args match {
    case Seq(k: String, Cmp(op, vs)) =>
      val c = col(k)
      def two(): Unit = if (vs.length != 2)
        fail(s"$op(a, b): needs exactly two values, got ${vs.length}")
      op match {
        case "gt" => c > lit(vs.head)
        case "gte" => c >= lit(vs.head)
        case "lt" => c < lit(vs.head)
        case "lte" => c <= lit(vs.head)
        case "neq" => c =!= lit(vs.head)
        case "within" => c.isin(vs: _*)
        case "without" => !c.isin(vs: _*) || c.isNull
        // P range predicates (TinkerPop bounds: inside exclusive both,
        // between lower-inclusive upper-exclusive)
        case "inside" => two(); c > lit(vs(0)) && c < lit(vs(1))
        case "outside" => two(); c < lit(vs(0)) || c > lit(vs(1))
        case "between" => two(); c >= lit(vs(0)) && c < lit(vs(1))
        // TextP string predicates
        case "containing" => c.contains(lit(vs.head))
        case "notContaining" => !c.contains(lit(vs.head)) || c.isNull
        case "startingWith" => c.startsWith(vs.head.toString)
        case "endingWith" => c.endsWith(vs.head.toString)
        case "notStartingWith" => !c.startsWith(vs.head.toString) || c.isNull
        case "notEndingWith" => !c.endsWith(vs.head.toString) || c.isNull
      }
    case Seq(k: String, Pred("eq", v)) => col(k) === lit(v)
    case Seq(k: String, Pred("neq", v)) => col(k) =!= lit(v)
    // TinkerPop 3-arg form: has(label, key, valueOrP) = hasLabel + has
    case Seq(l: String, k: String, v) =>
      col("label") === lit(l) && hasCond(List(k, v))
    case Seq(k: String, v) => col(k) === lit(v)
    case Seq(k: String) => col(k).isNotNull // has('col'): property exists
    case other => fail(s"has(${other.mkString(", ")}): unsupported argument shape")
  }

  /** The re-evaluation-stable traverser correlation id used by
    * coalesce/optional/where/not/project/local. Stability is BY
    * CONSTRUCTION, not by materialization: the hash-partition +
    * full-column sort happens in the same stage as the numbering, so
    * any compute of this frame — a second subtree, a cache miss, a
    * shuffle-map retry whose fetch order varies — sorts that variance
    * away before ids are assigned and reproduces the identical
    * (row → id) binding, up to swaps between identical rows, which are
    * interchangeable by definition. The persist() is purely a
    * shared-read optimization (branch subtrees and the semi/anti joins
    * read the computed frame instead of re-running the exchange); it
    * schedules NOTHING at plan-build time, so a dryRun pre-flight
    * stays compile-and-analyze only — unlike checkpoint variants:
    * eager localCheckpoint runs the whole upstream at build, and even
    * a lazy one forces AQE to materialize every intermediate query
    * stage when it resolves the final RDD. The construction assumes a
    * deterministic upstream ROW SET, which the translator guarantees:
    * every step is a deterministic relational op, and the one
    * historically nondeterministic case — a bare limit()/range() over
    * an unordered frame — is pinned by the whole-row TakeOrdered in
    * its step arm. AQE stays free to size
    * every downstream shuffle. (Round-13 adjudication of the round-12
    * pinned-shuffle variant: the sorted-persist shape is faster on
    * every keyed driver query — coalesce 0.98→0.91 s, optional
    * 0.85→0.75, not 0.60→0.53 at sf0.1 — and needs no partition-count
    * pin.) */
  private def keyedByTid(ctx: EtlContext, frame: DataFrame): DataFrame = {
    val allCols = frame.columns.map(col).toSeq
    val keyed = frame.repartition(allCols: _*)
      .sortWithinPartitions(allCols: _*)
      .withColumn("__tid", monotonically_increasing_id())
      .persist()
    // lifetime bookkeeping: Engine.run unpersists after the pipeline's
    // action (or hands off to the bounded session registry for
    // plan-handoff pipelines) — CacheManager entries are never
    // GC-reclaimed, so an unregistered persist would leak per traversal
    ctx.registerPersisted(keyed)
    keyed
  }

  /** Evaluate a `by(<chain>.aggregate)` modulator PER TRAVERSER: `keyed`
    * must already carry the [[keyedByTid]] correlation id; returns the
    * frame with one new column `name` holding the sub-traversal's
    * aggregate for each traverser (count coalesces to 0 on an empty
    * sub-result, like an empty Gremlin sub-traversal; other aggregates
    * are null). Shared by project(), order().by(<chain>) and the
    * group() value modulator. */
  private def perTraverserAgg(ctx: EtlContext, keyed: DataFrame,
                              idLabel: DataFrame, b: ByAgg,
                              name: String): DataFrame = {
    val chainSrc = (Seq(b.hops).filter(_.nonEmpty) ++
      b.prop.map(p => s"values('$p')")).mkString(".")
    val sub =
      if (chainSrc.isEmpty) keyed else applyBranch(ctx, keyed, idLabel, chainSrc)
    val v = b.agg match {
      case "count" => byCountCol(b.prop)
      case "sum" => sum(col("value"))
      case "mean" | "avg" => avg(col("value"))
      case "min" => min(col("value"))
      case "max" => max(col("value"))
    }
    val per = sub.groupBy(col("__tid")).agg(v.as(name))
    val joined = keyed.join(per, Seq("__tid"), "left")
    if (b.agg == "count") joined.withColumn(name, coalesce(col(name), lit(0L)))
    else joined
  }

  /** The count column for a by-chain aggregate: `values('p').count()`
    * counts property EMISSIONS (a landed element whose re-attached
    * property is NULL emits nothing in Gremlin — count over the value
    * column skips those); element-space count() counts rows. */
  private def byCountCol(prop: Option[String]): org.apache.spark.sql.Column =
    prop.map(_ => count(col("value"))).getOrElse(count(lit(1)))

  /** `where(<chain>)` / `not(<chain>)`: keep traversers whose anonymous
    * sub-traversal yields ≥ 1 result (semi) or none (anti) — joined on
    * a re-evaluation-stable correlation id (hash-partition + sort on
    * all columns before numbering; identical rows are interchangeable). */
  private def existenceFilter(ctx: EtlContext, frame: DataFrame,
                              idLabel: DataFrame, src: String,
                              trackPath: Boolean, semi: Boolean): DataFrame = {
    if (trackPath)
      fail(s"${if (semi) "where" else "not"}(<traversal>) together with " +
        "path() is not in the translated subset")
    val keyed = keyedByTid(ctx, frame)
    val matched = applyBranch(ctx, keyed, idLabel, src)
      .select("__tid").distinct()
    keyed.join(matched, Seq("__tid"), if (semi) "left_semi" else "left_anti")
      .drop("__tid")
  }

  /** An anonymous FILTER chain (`until(...)`'s condition): hasLabel /
    * has / hasNot steps, conjoined. Hops or terminals inside a
    * condition have no set-oriented translation here — fail loudly. */
  private def filterCond(step: String, src: String): Column = {
    val body = "." + src.trim
    val steps = Step.findAllMatchIn(body)
      .map(m => (m.group(1), parseArgs(m.group(2)))).toList
    val consumed = Step.findAllMatchIn(body).map(_.matched).mkString
    if (consumed != body || steps.isEmpty)
      fail(s"$step($src): cannot parse as a filter chain")
    steps.map {
      case ("hasLabel", Seq(l: String)) => col("label") === l
      case ("has", args) => hasCond(args)
      case ("hasNot", Seq(k: String)) => col(k).isNull
      case (other, _) =>
        fail(s"$step($src): condition steps are hasLabel/has/hasNot only " +
          s"(got '$other') — a hop-dependent condition migrates to " +
          "the graph stages (graphbfs)")
    }.reduce(_ && _)
  }

  /** Translate one `union(...)` branch — a sub-chain of the stateless
    * hop/filter steps — against the given frame. Richer steps inside a
    * branch (as/select/order/path/terminal aggregations/nested union)
    * fail loudly with the migration pointer, like the main chain. */
  private def applyBranch(ctx: EtlContext, frame0: DataFrame,
                          idLabel: DataFrame, src: String): DataFrame = {
    val body = "." + src.trim
    val steps = Step.findAllMatchIn(body)
      .map(m => (m.group(1), parseArgs(m.group(2)))).toList
    val consumed = Step.findAllMatchIn(body).map(_.matched).mkString
    if (consumed != body || steps.isEmpty)
      fail(s"union branch '$src': cannot parse as a step chain")
    steps.foldLeft(frame0) { case (frame, step) =>
      step match {
        case ("hasLabel", Seq(l: String)) => frame.where(col("label") === l)
        case ("has", args) => frame.where(hasCond(args))
        case ("hasNot", Seq(k: String)) => frame.where(col(k).isNull)
        case ("out", args) if args.forall(_.isInstanceOf[String]) =>
          hop(ctx, frame, idLabel, args.map(_.toString), "src", "dst")
        case ("in", args) if args.forall(_.isInstanceOf[String]) =>
          hop(ctx, frame, idLabel, args.map(_.toString), "dst", "src")
        case ("both", args) if args.forall(_.isInstanceOf[String]) =>
          hop(ctx, frame, idLabel, args.map(_.toString), "src", "dst")
            .unionByName(hop(ctx, frame, idLabel, args.map(_.toString), "dst", "src"))
        case ("dedup", Nil) => frame.distinct()
        case ("values", Seq(c: String)) =>
          // the coalesce correlation id must survive a value projection
          val keep = if (frame.columns.contains("__tid")) Seq(col("__tid")) else Nil
          // a hop lands on (id, label) only — re-attach the requested
          // property from the vertex table (the valueMap/select().by()
          // re-attachment contract)
          val f2 =
            if (frame.columns.contains(c)) frame
            else ctx.vertices match {
              case Some(vs) if vs.columns.contains(c) &&
                  frame.columns.contains("id") && frame.columns.contains("label") =>
                frame.join(vs.select(col("id"), col("label"), col(c))
                  .dropDuplicates("id", "label"), Seq("id", "label"), "left")
              case _ => fail(s"branch values('$c'): no such property on " +
                "the traversed elements")
            }
          f2.select(col(c).as("value") +: keep: _*)
        case (other, args) =>
          fail(s"union branch step '$other(${args.mkString(", ")})' is not " +
            "in the branch subset (hasLabel/has/hasNot/out/in/both/dedup/" +
            "values) — lift richer steps out of the union or migrate to " +
            "two `command` stages over the same graph")
      }
    }
  }

  /** One traversal hop: join the current frame's ids against the edges
    * table, land on the far endpoint, re-attach registered vertex
    * labels. Bag semantics (no distinct) — Gremlin's traverser count.
    * `as(..)` bindings (the `__as_*` stash columns) ride along. */
  private def hop(ctx: EtlContext, frame: DataFrame, idLabel: DataFrame,
                  elabels: Seq[String], from: String, to: String): DataFrame = {
    val edges0 = ctx.edges.getOrElse(
      fail("traversal step needs edges — apply an `edge` stage first"))
    val edges =
      if (elabels.isEmpty) edges0
      else edges0.where(col("label").isin(elabels: _*))
    val stash = frame.columns
      .filter(c => c.startsWith("__as_") || c == "__path" || c == "__spath" ||
        c == "__tid" || c == "__sack").toSeq
    val landed0 = frame.select(col("id").as("__from") +: stash.map(col): _*)
      .join(edges, col("__from") === col(from))
      .select(col(to).as("id") +: stash.map(col): _*)
      .join(idLabel, Seq("id"), "left")
    // path tracking: append the landed vertex id (per-row array concat);
    // __spath carries the CLASS-QUALIFIED form simplePath compares —
    // in the class-vertex model an order id and a customer id with the
    // same string are different vertices
    val landed =
      if (stash.contains("__path"))
        landed0.withColumn("__path", concat(col("__path"), array(col("id"))))
      else landed0
    if (stash.contains("__spath"))
      landed.withColumn("__spath", concat(col("__spath"),
        array(concat_ws("|", coalesce(col("label"), lit("")), col("id")))))
    else landed
  }

  /** A `by(..)` modulator of group()/project(): a plain property, or a
    * sub-chain ending in a terminal aggregate (optional hops, optional
    * `values('p')`, then count/sum/mean/min/max). */
  private sealed trait ByMod
  private final case class ByProp(colName: String) extends ByMod
  private final case class ByAgg(hops: String, agg: String,
                                 prop: Option[String]) extends ByMod

  private val ByAggs = Set("count", "sum", "mean", "avg", "min", "max")

  private def parseByMod(owner: String, args: List[Any]): ByMod = args match {
    case List(s: String) => ByProp(s)
    case List(RawChain(src)) =>
      val body = "." + src.trim
      val st = Step.findAllMatchIn(body)
        .map(m => (m.group(1), m.group(2).trim, m.matched)).toList
      val consumed = st.map(_._3).mkString
      if (consumed != body || st.isEmpty)
        fail(s"$owner().by($src): cannot parse the modulator chain")
      st.last match {
        case (a, "", _) if ByAggs(a) =>
          val prefix = st.dropRight(1)
          val (hopSteps, prop) = prefix.lastOption match {
            case Some(("values", pArg, _)) =>
              val p = parseArgs(pArg) match {
                case List(x: String) => x
                case _ => fail(s"$owner().by($src): values(..) takes one " +
                  "property name")
              }
              (prefix.dropRight(1), Some(p))
            case _ => (prefix, None)
          }
          if (prop.isEmpty && a != "count")
            fail(s"$owner().by($src): $a() needs values('prop') before it " +
              "(count() is the only element-space aggregate)")
          ByAgg(hopSteps.map(_._3).mkString.stripPrefix("."), a, prop)
        case ("values", pArg, _) if st.size == 1 =>
          parseArgs(pArg) match {
            case List(x: String) => ByProp(x)
            case _ => fail(s"$owner().by($src): values(..) takes one " +
              "property name")
          }
        case _ => fail(s"$owner().by($src): the modulator must be " +
          "by('col'), by(values('col')), or a chain ending in " +
          "count()/sum()/mean()/min()/max()")
      }
    case other => fail(s"$owner().by(${other.mkString(", ")}): expected " +
      "by('col') or by(<chain>.<aggregate>())")
  }

  /** A bound-vertex predicate argument: `eq('x')` / `neq('x')`. */
  private final case class Pred(op: String, tag: String)

  /** A value-comparison predicate argument (Gremlin `P` / `TextP`):
    * `gt(5)` / `gte(5)` / `lt(5)` / `lte(5)` / `neq('x')` /
    * `within('a', 'b')` / `without('a')` / `inside(a, b)` /
    * `outside(a, b)` / `between(a, b)` / `containing('s')` /
    * `notContaining('s')` / `startingWith('s')` / `endingWith('s')` /
    * `notStartingWith('s')` / `notEndingWith('s')`. */
  private final case class Cmp(op: String, values: List[Any])
  private val CmpPred =
    ("""^(gt|gte|lt|lte|neq|within|without|inside|outside|between|""" +
     """containing|notContaining|startingWith|endingWith|""" +
     """notStartingWith|notEndingWith)\(\s*(.+?)\s*\)$""").r

  /** An anonymous sub-traversal argument (a `union` branch) — any
    * `step(...)...` chain that is not a recognized predicate. One
    * nesting level of parentheses (the Step regex's arg grammar), so
    * branch steps take literal arguments only. */
  private final case class RawChain(src: String)
  private val ChainArg = """^[a-zA-Z_]\w*\s*\(.*\)\s*$""".r

  private def parseScalar(a: String): Any =
    if ((a.startsWith("'") && a.endsWith("'") && a.length >= 2) ||
        (a.startsWith("\"") && a.endsWith("\"") && a.length >= 2))
      a.substring(1, a.length - 1)
    else scala.util.Try(a.toLong).getOrElse(
      scala.util.Try(a.toDouble).getOrElse(
        fail(s"cannot parse argument '$a' (quoted string or number)")))

  private def parseArgs(raw: String): List[Any] =
    splitTopLevel(raw).map { a =>
      if ((a.startsWith("'") && a.endsWith("'") && a.length >= 2) ||
          (a.startsWith("\"") && a.endsWith("\"") && a.length >= 2))
        a.substring(1, a.length - 1)
      else a match {
        case WherePred(op, tag) => Pred(op, tag)
        case CmpPred(op, inner) =>
          // quote-aware: containing('Smith, J') is ONE value
          val vs = splitTopLevel(inner).map(parseScalar)
          // `eq`/`neq` on a TAG belong to where(); a P-predicate in
          // has() compares VALUES. neq('x') is ambiguous in the
          // grammar — WherePred wins above (has() never sees tags in
          // the translated subset, so a string neq in has() means the
          // value; accept it here when WherePred didn't match)
          if (vs.isEmpty) fail(s"$op(): no values")
          else Cmp(op, vs)
        // Gremlin Order tokens arrive bare (`Order.decr` shortened form);
        // sack Operator tokens likewise
        case "asc" | "desc" | "incr" | "decr" => a
        case "sum" | "minus" | "mult" | "div" | "assign" => a
        // an anonymous sub-traversal (union branch / match pattern) —
        // kept raw and translated by the step that consumes it; the
        // canonical `__.` spelling strips to the bare chain
        case chain if chain.startsWith("__.") &&
            ChainArg.pattern.matcher(chain.stripPrefix("__.")).matches() =>
          RawChain(chain.stripPrefix("__."))
        case chain if ChainArg.pattern.matcher(chain).matches() => RawChain(chain)
        case _ => parseScalar(a)
      }
    }

  /** Split on top-level commas only — `within('a', 'b')` is ONE
    * argument of `has`, not three. */
  private def splitTopLevel(raw: String): List[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    raw.foreach { c =>
      if (quote != 0) { cur.append(c); if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c; cur.append(c)
        case '(' => depth += 1; cur.append(c)
        case ')' => depth -= 1; cur.append(c)
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case other => cur.append(other)
      }
    }
    out += cur.toString
    out.toList.map(_.trim).filter(_.nonEmpty)
  }

  private def fail(why: String): Nothing = sys.error(s"gremlin: $why")
}
