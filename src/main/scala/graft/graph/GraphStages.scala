package graft.graph

import graft.engine.EtlContext
import graft.spec.ComponentSpec
import graft.stages.{Iterate, Stages}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over the engine's property-graph contract
  * (`ctx.vertices` / `ctx.edges`, built by the `vertex`/`edge`
  * transformers — SURVEY.md §1.1, §2.3). The reference exposes graph
  * traversal via per-record Gremlin commands (OCommandTransformer.java:
  * 58-78, documented out of parity scope §2.7); these stages are the
  * Spark-native batch equivalents: set-oriented joins/aggregations over
  * the edges table, never per-record traversal.
  */
object GraphStages {

  /** `graphdegree`: vertex degrees from the accumulated edges table.
    * Options: `direction` ∈ out|in|both (default out), `label`
    * (optional edge-label filter). Output: (id, degree) — a query
    * stage (replaces the stream, like `command`). One hash aggregation;
    * map-side combine makes it shuffle one row per (partition, vertex). */
  def graphDegree(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { _ =>
      val edges0 = ctx.edges.getOrElse(
        sys.error("graphdegree: no edges — apply an `edge` stage first"))
      val edges = spec.str("label").fold(edges0)(l => edges0.where(col("label") === l))
      val keyed = spec.strOr("direction", "out") match {
        case "out" => edges.select(col("src").as("id"))
        case "in" => edges.select(col("dst").as("id"))
        case "both" => edges.select(col("src").as("id"))
          .union(edges.select(col("dst").as("id")))
        case other => sys.error(s"graphdegree: unknown direction $other")
      }
      keyed.groupBy("id").agg(count(lit(1)).as("degree"))
    }

  /** `pagerank`: fixed-iteration PageRank over the edges table
    * (simplified form without dangling-mass redistribution — rank mass
    * at sinks decays, which keeps the per-iteration computation a plain
    * join+aggregate and the result exactly reproducible by an unrolled
    * SQL oracle). Options: `iterations` (default 5), `damping`
    * (default 0.85), `weighted` (default false — out-rank splits
    * proportionally to the `edge` stage's `weightField` instead of
    * uniformly), `sourceIds` (optional, comma-separated — PERSONALIZED
    * PageRank: the teleport mass concentrates uniformly on the listed
    * seed vertices instead of spreading over all n, and ranks
    * initialize to the same seeded reset vector. This is the
    * crawl-frontier / seed-expansion primitive: scores measure
    * proximity to the seeds, pairing with `htmllinks`→`edge`. Unknown
    * seed ids fail loud — silent mass loss otherwise). Output:
    * (id, rank).
    *
    * Scale shape: each iteration is one equi-join of the edge list with
    * the rank vector plus a hash aggregation on dst — the canonical
    * distributed PageRank step. Rank lineage grows LINEARLY per round
    * (each rank vector is referenced once — unlike connected
    * components' pointer jumping), so the loop is [[Iterate.rounds]]:
    * a checkpoint every `checkpointEvery` rounds (default 5) bounds
    * analysis cost on long runs. The edge list (pinned on src, the key
    * of both per-round joins) and the degree table are checkpointed
    * ONCE, so rounds exchange only the node-sized rank vector.
    * `checkpointDir` switches every truncation to a reliable
    * `checkpoint` into that directory (see
    * [[graft.stages.Stages.checkpointerOf]]) — same rounds, same plan
    * shape, executor-loss-safe. */
  def pageRank(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { _ =>
      val ckpt = Stages.checkpointerOf(spec, ctx)
      val edges0 = ctx.edges.getOrElse(
        sys.error("pagerank: no edges — apply an `edge` stage first"))
      // `weighted: true`: out-rank splits proportionally to edge weight
      // (the `edge` stage's `weightField`; edges from unweighted stages
      // coalesce to 1.0). Same plan shape — the degree aggregation sums
      // weights instead of counting, contributions scale by the weight.
      val weighted = spec.bool("weighted", dflt = false)
      if (weighted) require(edges0.columns.contains("weight"),
        "pagerank: weighted requires edges built with `weightField`")
      val scope = Iterate.pinned(ckpt, ckpt(
        if (weighted) edges0.select(col("src"), col("dst"),
          coalesce(col("weight"), lit(1.0)).as("__w"))
        else edges0.select(col("src"), col("dst"))), "src")
      val edges = scope.frame
      if (weighted) {
        // non-positive weights make Σw degrees zero/negative — silent
        // null contributions or negative ranks; fail loud instead (one
        // bounded job on the already-checkpointed edges)
        val minW = edges.agg(min(col("__w"))).head()
        require(minW.isNullAt(0) || minW.getDouble(0) > 0.0,
          "pagerank: weighted requires strictly positive edge weights")
      }
      val iters = spec.int("iterations", 5)
      val ckptEvery = spec.int("checkpointEvery", 5)
      val dampStr = spec.strOr("damping", "0.85")
      val d = dampStr.toDouble
      // (1 - d) via decimal arithmetic: the binary expression
      // 1.0 - 0.85 is 0.15000000000000002, NOT the double literal 0.15
      // a SQL oracle writes — the 2e-17 offset systematically breaks
      // round-to-ppm on ranks that land exactly on .5 boundaries
      val teleport = (BigDecimal(1) - BigDecimal(dampStr)).toDouble
      val (nodes, n) = Iterate.counted(ckpt,
        edges.select(col("src").as("id"))
          .union(edges.select(col("dst").as("id")))
          .distinct())
      val deg = ckpt(edges.groupBy("src").agg(
        (if (weighted) sum("__w") else count(lit(1)).cast("double"))
          .as("__deg")))
      // Personalized reset vector: uniform 1/|S| over the seed set when
      // `sourceIds` is given, else the classic uniform 1/n. The reset
      // column rides the (already tiny) per-node select — no extra
      // shuffle; the seed membership test is an `isin` over a literal
      // list (seed sets are human-sized; a frontier-sized seed TABLE
      // would be a different stage contract).
      val seeds = spec.str("sourceIds")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .filter(_.nonEmpty)
      val reset: org.apache.spark.sql.Column = seeds match {
        case Some(ss) =>
          // unknown seeds would silently lose teleport mass — fail loud
          // (one bounded job over the checkpointed node set)
          val found = nodes.where(col("id").isin(ss: _*)).count()
          require(found == ss.size,
            s"pagerank: sourceIds lists ${ss.size} seeds but only $found " +
            "are vertices of the graph — check ids (personalized " +
            "teleport mass must sum to 1)")
          when(col("id").isin(ss: _*), lit(1.0 / ss.size)).otherwise(lit(0.0))
        case None => lit(1.0 / n)
      }
      // classic path keeps the single-rounded `teleport / n` double the
      // unrolled SQL oracle spells; the seeded path multiplies the reset
      // column (oracle mirrors the same two-step arithmetic)
      val teleportTerm: org.apache.spark.sql.Column =
        if (seeds.isDefined) lit(teleport) * reset else lit(teleport / n)
      val contrib =
        if (weighted) col("rank") * col("__w") / col("__deg")
        else col("rank") / col("__deg")
      scope {
        val ranks0 = nodes.select(col("id"), reset.as("rank"))
        Iterate.rounds(ranks0, iters, ckptEvery, ckpt) { ranks =>
          val contribs = edges
            .join(ranks.select(col("id").as("__rid"), col("rank")),
              col("src") === col("__rid"))
            .join(deg, Seq("src"))
            .select(col("dst").as("__cid"), contrib.as("__c"))
            .groupBy("__cid").agg(sum("__c").as("__csum"))
          nodes.join(contribs, col("id") === col("__cid"), "left")
            .select(col("id"),
              (teleportTerm + lit(d) * coalesce(col("__csum"), lit(0.0))).as("rank"))
        }
      }
    }

  /** `shortestpaths`: single-source-set WEIGHTED shortest paths —
    * bounded Bellman–Ford over the edges contract (weights from the
    * `edge` stage's `weightField`, missing weights count 1.0), the
    * weighted companion of [[bfs]]'s hop distances. dist(v) = min over
    * ≤ `maxHops`-edge paths of Σ weights. Options: `source` (required,
    * comma-separated vertex ids), `maxHops` (default 10), `direction`
    * ∈ out|in|both (default out), `label` (optional edge filter).
    * Output: (id, dist) for every vertex reached (sources at 0.0;
    * unreached absent). A query stage (replaces the stream).
    *
    * Scale shape: Pregel-style FRONTIER relaxation — each round joins
    * only the vertices whose distance IMPROVED last round against the
    * edge table (never all-edges × all-rounds), min-aggregates
    * candidates, and left-joins the running distances to keep true
    * improvements; early exit when a round improves nothing. The
    * oriented edge list is checkpointed ONCE, pinned on the probe key,
    * so only the (tiny) frontier moves per round; state is
    * (id, double), never paths. Negative weights are rejected
    * (with a hop bound they would make "shortest within k hops"
    * ill-behaved under the early exit). */
  def shortestPaths(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { _ =>
      val edges0 = ctx.edges.getOrElse(
        sys.error("shortestpaths: no edges — apply an `edge` stage first"))
      val edges1 = spec.str("label").fold(edges0)(l => edges0.where(col("label") === l))
      val sources = spec.str("source")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
        .getOrElse(sys.error("shortestpaths: `source` (comma-separated vertex ids) required"))
      val maxHops = spec.int("maxHops", 10)
      val spark = ctx.spark
      import spark.implicits._
      val w = if (edges1.columns.contains("weight"))
        coalesce(col("weight"), lit(1.0)) else lit(1.0)
      def oriented(from: String, to: String) =
        edges1.select(col(from).as("__from"), col(to).as("__to"), w.as("__w"))
      val step = spec.strOr("direction", "out") match {
        case "out" => oriented("src", "dst")
        case "in" => oriented("dst", "src")
        case "both" => oriented("src", "dst").union(oriented("dst", "src"))
        case other => sys.error(s"shortestpaths: unknown direction $other")
      }
      val ckpt = Stages.checkpointerOf(spec, ctx)
      val scope = Iterate.pinned(ckpt, ckpt(step), "__from")
      val stepC = scope.frame
      // negative weights break the bounded-relaxation early exit (one
      // bounded job over the checkpointed edges)
      val minW = stepC.agg(min(col("__w"))).head()
      require(minW.isNullAt(0) || minW.getDouble(0) >= 0.0,
        "shortestpaths: negative edge weights are not supported")
      scope {
        val dists0 = ckpt(sources.toDF("id").distinct()
          .select(col("id"), lit(0.0).as("dist")))
        var dists = dists0
        Iterate.fixpoint(dists0, Iterate.Budget.quiet(maxHops), ckpt) { (frontier, _) =>
          val best = stepC
            .join(frontier.select(col("id").as("__from"), col("dist")), Seq("__from"))
            .select(col("__to").as("id"), (col("dist") + col("__w")).as("__cand"))
            .groupBy("id").agg(min(col("__cand")).as("__cand"))
          best.join(dists.select(col("id"), col("dist").as("__old")), Seq("id"), "left")
            .where(col("__old").isNull || col("__cand") < col("__old"))
            .select(col("id"), col("__cand").as("dist"))
        } { improved =>
          if (improved.count > 0)
            dists = ckpt(dists.join(improved.state.select(col("id").as("__iid")),
                col("id") === col("__iid"), "left_anti")
              .unionByName(improved.state))
          improved.count == 0
        }
        dists.select(col("id"), col("dist"))
      }
    }

  /** `motif`: declarative graph-pattern matching compiled to joins over
    * the edges table — the batch answer to the reference's Gremlin
    * `command` traversals (OCommandTransformer.java:58-78): a
    * GraphFrames-style pattern instead of a per-record script.
    *
    * Options:
    *  - `pattern` (required): semicolon-separated edge terms
    *    `(a)-[e]->(b)`, where `a`/`b` name vertex columns of the result,
    *    `e` optionally names the edge (emitting an `e_label` column) and
    *    an optional `:label` constrains the edge label —
    *    `(a)-[:placed]->(c); (b)-[:placed]->(c)` finds V-shapes.
    *    Repeating a vertex name expresses the join; `(a)-[]->(a)` is a
    *    self-loop constraint. `(a)-[e]-(b)` (no arrow head) matches the
    *    edge in EITHER direction. `!(a)-[]->(b)` is a NEGATED term —
    *    keeps only rows where no such edge exists (anti-join); a negated
    *    term must be directed, unnamed, and reference vertices bound by
    *    a positive term.
    *  - `where` (optional): SQL boolean over the result columns, e.g.
    *    `"a < b"` to de-mirror symmetric patterns.
    *  - `allowDisconnected` (default false): a pattern whose vertex
    *    groups share no vertex is rejected (its result is a cartesian
    *    product — at crawl scale a config typo becomes a scale-killer);
    *    set true when the cross product is really intended.
    *
    * Output: one string column per named vertex (first-appearance
    * order) + `<e>_label` per named edge. Replaces the stream (a query
    * stage, like `command`).
    *
    * Scale shape: each term is a projection of the edges table; terms
    * combine by equi-joins on shared vertex names — shuffle-on-key
    * self-joins that AQE plans (broadcast when a filtered term is small,
    * skew-split on hot vertices). No driver-side traversal state; the
    * pattern's cardinality is the true result size, as with any motif
    * engine. */
  def motif(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { _ =>
      val edges = ctx.edges.getOrElse(
        sys.error("motif: no edges — apply an `edge` stage first"))
      val patternStr = spec.str("pattern")
        .getOrElse(sys.error("motif: pattern required, e.g. \"(a)-[e]->(b); (b)-[]->(c)\""))
      val Term =
        """(!?)\s*\(\s*(\w+)\s*\)\s*-\s*\[\s*(\w*)\s*(?::\s*(\w+)\s*)?\]\s*(->|-)\s*\(\s*(\w+)\s*\)""".r
      // (negated, src, edgeName, edgeLabel, directed, dst)
      val terms = patternStr.split(";").map(_.trim).filter(_.nonEmpty).map {
        case Term(neg, src, ename, elabel, arrow, dst) =>
          (neg == "!", src, Option(ename).filter(_.nonEmpty),
            Option(elabel).filter(_.nonEmpty), arrow == "->", dst)
        case bad => sys.error(s"motif: cannot parse term '$bad' " +
          "(expected (a)-[e:label]->(b) / (a)-[e]-(b) / !(a)-[]->(b) " +
          "with named vertices)")
      }.toSeq
      require(terms.nonEmpty, "motif: empty pattern")
      val (negTerms, posTerms) = terms.partition(_._1)
      require(posTerms.nonEmpty, "motif: pattern needs at least one positive term")
      negTerms.foreach { case (_, src, ename, _, directed, dst) =>
        require(ename.isEmpty && directed,
          s"motif: a negated term must be directed and unnamed (!($src)-[]->($dst))")
      }
      val enames = posTerms.flatMap(_._3)
      require(enames.distinct.size == enames.size,
        s"motif: duplicate edge names in '$patternStr'")
      def termFrame(src: String, ename: Option[String], elabel: Option[String],
                    directed: Boolean, dst: String): DataFrame = {
        val filtered = elabel.fold(edges)(l => edges.where(col("label") === l))
        def oriented(from: String, to: String) =
          if (src == dst) // self-loop term: one vertex column
            filtered.where(col("src") === col("dst"))
              .select(col(from).as(src) +:
                ename.map(e => col("label").as(s"${e}_label")).toSeq: _*)
          else filtered.select(Seq(col(from).as(src), col(to).as(dst)) ++
            ename.map(e => col("label").as(s"${e}_label")): _*)
        if (directed || src == dst) oriented("src", "dst")
        else {
          // undirected = both orientations; a self-loop edge (src==dst in
          // the DATA) yields the same row either way — emit it once, from
          // the forward orientation only
          val back = filtered.where(col("src") =!= col("dst"))
            .select(Seq(col("dst").as(src), col("src").as(dst)) ++
              ename.map(e => col("label").as(s"${e}_label")): _*)
          oriented("src", "dst").union(back)
        }
      }
      // connectivity guard: a pattern whose terms share no vertex is a
      // cartesian product — almost always a config typo, and a
      // scale-killer at crawl size. Union-find over vertex names; >1
      // group requires an explicit allowDisconnected: true.
      locally {
        val parent = scala.collection.mutable.Map.empty[String, String]
        def find(x: String): String = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        posTerms.foreach { t => parent(find(t._2)) = find(t._6) }
        val groups = posTerms.flatMap(t => Seq(t._2, t._6)).distinct
          .groupBy(find).values.map(_.sorted.mkString("{", ",", "}")).toSeq.sorted
        if (groups.size > 1 && !spec.bool("allowDisconnected", dflt = false))
          sys.error(s"motif: pattern '$patternStr' is DISCONNECTED — vertex " +
            s"groups ${groups.mkString(" ")} share no vertex, so the result " +
            "is their cartesian product. Set allowDisconnected: true if the " +
            "cross product is really intended.")
      }
      // greedy join order: always join a term that shares a vertex with
      // the frame built so far, so a connected pattern never pays an
      // intermediate cartesian regardless of term order; genuinely
      // disconnected groups (opted in above) cross-join at the end
      val joined = locally {
        val frames = posTerms.map { case (_, src, ename, elabel, directed, dst) =>
          termFrame(src, ename, elabel, directed, dst)
        }.toBuffer
        var acc = frames.remove(0)
        while (frames.nonEmpty) {
          val i = frames.indexWhere(_.columns.intersect(acc.columns).nonEmpty)
          val next = frames.remove(math.max(i, 0))
          val common = acc.columns.intersect(next.columns).toSeq
          acc = if (common.isEmpty) acc.crossJoin(next) else acc.join(next, common)
        }
        acc
      }
      // negated terms: anti-join away rows for which the edge EXISTS —
      // both endpoints must already be bound by the positive pattern
      val filtered = negTerms.foldLeft(joined) {
        case (acc, (_, src, _, elabel, _, dst)) =>
          require(acc.columns.contains(src) && acc.columns.contains(dst),
            s"motif: negated term !($src)-[]->($dst) references a vertex " +
            "not bound by any positive term")
          acc.join(termFrame(src, None, elabel, directed = true, dst),
            if (src == dst) Seq(src) else Seq(src, dst), "left_anti")
      }
      // stable column order: vertices by first appearance (positive
      // terms first — negated terms add no columns), then edges
      val vcols = (posTerms.flatMap(t => Seq(t._2, t._6)) ++
        negTerms.flatMap(t => Seq(t._2, t._6))).distinct
      val ecols = enames.map(e => s"${e}_label")
      val result = filtered.select((vcols ++ ecols).map(col): _*)
      spec.str("where").fold(result)(w => result.where(expr(w)))
    }

  /** `connectedcomponents`: label every vertex with its connected
    * component — the transitive closure a per-record traversal engine
    * cannot express in bounded passes. Undirected semantics (edge
    * direction ignored, as in every CC definition). Component id = the
    * MINIMUM vertex id in the component (string order — ids are the
    * vertex contract's strings), so output is fully deterministic and
    * SQL-oracle-checkable. Vertices registered by `vertex` stages but
    * touching no edge form singleton components. Options: `label`
    * (optional edge-label filter), `maxIter` (default 20),
    * `localFinishEdges` (default 200000 — star-contraction remainders
    * at or under this edge count finish in a driver union–find instead
    * of distributed rounds; 0 forces the rounds). Output:
    * (id, component) — a query stage (replaces the stream).
    *
    * Scale shape: delegates to the dedup family's pointer-jumping CC
    * (DedupStages.connectedComponents — alternating 1-hop min-
    * propagation and comp := comp(comp) jumps): O(log diameter) rounds,
    * each ONE equi-join + aggregation, per-round checkpoints
    * truncating the self-referencing lineage. The same loop the
    * near-dup keeper already runs at crawl scale. */
  def connectedComponentsStage(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { _ =>
      // NOTE (r19 session 4): a lazy persist of the pass-through frame
      // was tried here to share one evaluation between the pair
      // checkpoint and the singleton-vertex union (the terminal action
      // re-evaluates the upstream once) — and REVERTED: the cache
      // fill's own plan misbehaves (geo_cluster 11 -> 80+ task-SECONDS
      // warm), the same lazy-cache pathology as ccLoop's; both
      // measurements are in OPTIMIZATION_r19.md § "connectedComponents
      // — investigated, second change REVERTED". Wall clock hid it
      // behind idle cores; task time is the metric that counts at
      // scale. The duplicate evaluation is the cheaper shape.
      val edges0 = ctx.edges.getOrElse(
        sys.error("connectedcomponents: no edges — apply an `edge` stage first"))
      val edges = spec.str("label").fold(edges0)(l => edges0.where(col("label") === l))
      val pairs = edges.select(col("src").as("a"), col("dst").as("b"))
      val comps = graft.dedup.DedupStages
        .connectedComponents(pairs, spec.int("maxIter", 20),
          Stages.checkpointerOf(spec, ctx),
          localFinishEdges = spec.long("localFinishEdges").getOrElse(200000L))
        .select(col("id"), col("comp").as("component"))
      ctx.vertices match {
        case None => comps
        case Some(vs) => // singleton components for edge-less vertices —
          // UNION with the edge-endpoint components (a lookup-created
          // endpoint need not be a registered vertex)
          val ids = vs.select(col("id").cast("string").as("id"))
            .union(comps.select(col("id"))).distinct()
          ids.join(comps, Seq("id"), "left")
            .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      }
    }

  /** `kcore`: the k-core of the undirected graph — the maximal subgraph
    * in which every vertex keeps degree ≥ k — by iterative peeling:
    * repeatedly drop vertices whose CURRENT degree is below k until a
    * fixed point (Seidman 1983, the standard cohesion filter; in a
    * data-curation graph it isolates the densely-interlinked page/host
    * cores spam farms and link deserts fall out of). Direction is
    * ignored (edges symmetrize); parallel edges and self-loops dedup
    * away (a self-loop is not cohesion).
    *
    * Options: `k` (required, ≥ 1), `label` (optional edge-label
    * filter), `maxIter` (default 50 — peeling a path of length L at
    * k=2 takes ~L/2 rounds; the bound fails LOUD rather than silently
    * returning a non-core), `checkpointDir` (reliable checkpoints for
    * the per-round truncation; default localCheckpoint). Output:
    * (`id`, `degree`) of surviving vertices — degree measured INSIDE
    * the core.
    *
    * Scale shape: each round is one hash-aggregated degree count over
    * the surviving edge set + two anti-joins against the (shrinking)
    * drop set, checkpointed per round with the surviving-edge count
    * observed on the same job. Exchanges carry (id, id) pairs only; no
    * data-path collect. */
  def kcore(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { _ =>
      val edges0 = ctx.edges.getOrElse(
        sys.error("kcore: no edges — apply an `edge` stage first"))
      val mode = spec.strOr("mode", "core")
      require(Set("core", "coreness")(mode),
        s"kcore: mode must be core|coreness, got '$mode'")
      val k =
        if (mode == "core") spec.long("k").map(_.toInt).getOrElse(
          sys.error("kcore: `k` required (>= 1)"))
        else spec.long("k").map(_.toInt).getOrElse(Int.MaxValue)
      require(k >= 1, s"kcore: k must be >= 1, got $k")
      val checkpoint = Stages.checkpointerOf(spec, ctx)
      val edges1 = spec.str("label").fold(edges0)(l => edges0.where(col("label") === l))
      // symmetrize + dedup, drop self-loops; everything downstream is
      // (a, b) string pairs
      val sym0 = edges1.select(col("src").cast("string").as("a"),
                               col("dst").cast("string").as("b"))
      var (live, liveN) = Iterate.counted(checkpoint,
        sym0.union(sym0.select(col("b").as("a"), col("a").as("b")))
          .where(col("a") =!= col("b")).distinct())
      // one budget across every peel: coreness sums rounds over k levels
      val budget = Iterate.Budget.loud("kcore", spec.int("maxIter", 50),
        "raise maxIter (a long path peels one layer per round; coreness " +
        "mode sums rounds across every k level)")
      /** Peel at threshold `kk` to the fixed point: the anti-join removed
        * nothing (or everything). A round is ONE job — the surviving-edge
        * count rides its checkpoint; the final no-drop round costs a
        * no-op row-block copy instead of a separate degree probe. */
      def peel(kk: Int): Unit =
        if (liveN != 0L) live = Iterate.fixpoint(live, budget, checkpoint) { (cur, _) =>
          val low = cur.groupBy(col("a")).agg(count(lit(1)).as("__d"))
            .where(col("__d") < kk).select(col("a").as("__drop"))
          cur.join(low, col("a") === col("__drop"), "left_anti")
            .join(low, col("b") === col("__drop"), "left_anti")
        } { r =>
          val done = r.count == liveN || r.count == 0L
          liveN = r.count
          done
        }
      // no co-partition pin: the two anti-joins alternate keys a/b
      val scope = Iterate.sized(live)
      if (mode == "core") scope {
        peel(k)
        live.groupBy(col("a").as("id")).agg(count(lit(1)).as("degree"))
      } else scope {
        // full decomposition (Batagelj–Zaveršnik level order, set form):
        // peel at level = 1, 2, … — a vertex removed while processing
        // level L has coreness L − 1; survivors of the final level
        // (capped by `k` when given) keep that level's value. The
        // survivor set is the level loop's state: `removed` anti-joins
        // against its materialized blocks, and the drained check rides
        // its checkpoint.
        var parts = List.empty[DataFrame]
        var remaining = live.select(col("a").as("id")).distinct()
        if (!remaining.limit(1).isEmpty)
          Iterate.fixpoint(remaining, Iterate.Budget.quiet(k), checkpoint) { (_, level) =>
            peel(level)
            live.select(col("a").as("id")).distinct()
          } { after =>
            parts ::= remaining.join(after.state, Seq("id"), "left_anti")
              .withColumn("coreness", lit(after.index - 1).cast("long"))
            remaining = after.state
            val drained = after.count == 0L
            if (!drained && after.index == k) // k-cap: survivors hold level k
              parts ::= remaining.withColumn("coreness", lit(k).cast("long"))
            drained
          }
        if (parts.isEmpty)
          remaining.withColumn("coreness", lit(0L)) // edgeless input
        else parts.reduce(_ unionByName _)
      }
    }

  /** `clusteringcoef`: per-vertex triangle count + local clustering
    * coefficient `2·T(v) / (deg(v)·(deg(v)−1))` — the standard local
    * cohesion signal (Watts–Strogatz 1998); in a crawl link graph it
    * separates genuinely interlinked communities (coef → 1) from
    * star-shaped spam hubs (coef → 0). Direction ignored, self-loops
    * and parallel edges dedup away.
    *
    * Scale shape — the compact-forward / degree-ordered algorithm
    * (Latapy 2008): orient every edge from the (degree, id)-smaller
    * endpoint to the larger, form wedges only at each edge's LOW-rank
    * center, and close them against the oriented edge list. Per-vertex
    * wedge fan-out is bounded by the graph's degeneracy, not its max
    * degree — a celebrity hub contributes its edges as wedge TIPS, not
    * as a quadratic center. Exchanges carry id/degree pairs only; the
    * per-vertex expansion is one explode of the found triangles.
    * Output: (`id`, `degree`, `triangles`, `clustering_coef`) for every
    * vertex with at least one (non-self-loop) edge; degree < 2 → 0.0.
    * Options: `label` (optional edge-label filter). */
  def clusteringCoef(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { _ =>
      val edges0 = ctx.edges.getOrElse(
        sys.error("clusteringcoef: no edges — apply an `edge` stage first"))
      val edges1 = spec.str("label").fold(edges0)(l => edges0.where(col("label") === l))
      val sym0 = edges1.select(col("src").cast("string").as("a"),
                               col("dst").cast("string").as("b"))
      val sym = sym0.union(sym0.select(col("b").as("a"), col("a").as("b")))
        .where(col("a") =!= col("b")).distinct()
      // deg is read three times (both withD attaches + the final join)
      // and oriented three times (e1, e2, the closing join): without a
      // persist the whole symmetrize+distinct lineage re-runs for each
      // (r14 verdict #5 — two redundant shuffle passes at crawl scale).
      // Lazy persists through the run-scoped lifecycle: no build-time
      // job, Engine.run / the session FIFO release them.
      val deg = sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("d"))
        .persist()
      ctx.registerPersisted(deg)
      // degree-ordered orientation: keep each undirected edge once, as
      // lo → hi with (d, id) rank(lo) < rank(hi)
      val withD = sym
        .join(deg.select(col("id").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("id").as("b"), col("d").as("db")), Seq("b"))
      val oriented = withD.where(
          col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")))
        .select(col("a").as("lo"), col("b").as("hi"),
                col("db").as("dhi"))
        .persist()
      ctx.registerPersisted(oriented)
      // wedges at the low-rank center v: two oriented edges v→x, v→y,
      // pair canonicalized by the SAME rank so the closing edge is
      // already oriented x→y
      val e1 = oriented.select(col("lo").as("v"), col("hi").as("x"),
        col("dhi").as("dx"))
      val e2 = oriented.select(col("lo").as("v"), col("hi").as("y"),
        col("dhi").as("dy"))
      val wedges = e1.join(e2, Seq("v"))
        .where(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
      val triangles = wedges.join(
        oriented.select(col("lo").as("x"), col("hi").as("y")), Seq("x", "y"))
        .select(col("v"), col("x"), col("y"))
      val perVertex = triangles
        .select(explode(array(col("v"), col("x"), col("y"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("triangles"))
      deg.join(perVertex, Seq("id"), "left")
        .select(col("id"), col("d").as("degree"),
          coalesce(col("triangles"), lit(0L)).as("triangles"),
          when(col("d") < 2, lit(0.0)).otherwise(
            (coalesce(col("triangles"), lit(0L)) * 2).cast("double") /
              (col("d") * (col("d") - 1)).cast("double"))
            .as("clustering_coef"))
    }

  /** `bfs`: minimum-hop distances from a source vertex set — bounded
    * breadth-first expansion over the edges table (the set-oriented form
    * of a Gremlin `repeat(out()).times(k)` traversal). Options:
    * `source` (required: comma-separated vertex id(s)), `maxHops`
    * (default 10), `direction` ∈ out|in|both (default both), `label`
    * (optional edge-label filter). Output: (id, dist) for every vertex
    * within `maxHops` of a source (sources at dist 0; unreached
    * vertices absent). A query stage (replaces the stream).
    *
    * Scale shape: classic frontier BFS — each round joins the CURRENT
    * frontier (shrinking set) against the edge table (checkpointed once,
    * pinned on the hop key) and anti-joins the visited set, a lazy union
    * of the checkpointed frontiers (depth ≤ maxHops). Rounds are bounded
    * by `maxHops`; state is (visited ids × 1 long), never paths. A
    * celebrity vertex fans the frontier wide in one round — that is the
    * true result size; no driver-side queue exists to overflow. */
  def bfs(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { _ =>
      val edges0 = ctx.edges.getOrElse(
        sys.error("bfs: no edges — apply an `edge` stage first"))
      val edges1 = spec.str("label").fold(edges0)(l => edges0.where(col("label") === l))
      val sources = spec.str("source")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
        .getOrElse(sys.error("bfs: `source` (comma-separated vertex ids) required"))
      val maxHops = spec.int("maxHops", 10)
      val spark = ctx.spark
      import spark.implicits._
      val step = spec.strOr("direction", "both") match {
        case "out" => edges1.select(col("src").as("__from"), col("dst").as("__to"))
        case "in" => edges1.select(col("dst").as("__from"), col("src").as("__to"))
        case "both" => edges1.select(col("src").as("__from"), col("dst").as("__to"))
          .union(edges1.select(col("dst").as("__from"), col("src").as("__to")))
        case other => sys.error(s"bfs: unknown direction $other")
      }
      val ckpt = Stages.checkpointerOf(spec, ctx)
      val scope = Iterate.pinned(ckpt, ckpt(step), "__from")
      scope {
        val frontier0 = ckpt(sources.toDF("id").distinct())
        var visited = frontier0.select(col("id"), lit(0L).as("dist"))
        Iterate.fixpoint(frontier0, Iterate.Budget.quiet(maxHops), ckpt) { (frontier, _) =>
          scope.frame
            .join(frontier.select(col("id").as("__from")), Seq("__from"))
            .select(col("__to").as("id")).distinct()
            .join(visited, Seq("id"), "left_anti")
        } { next =>
          if (next.count > 0) visited = visited
            .union(next.state.select(col("id"), lit(next.index.toLong).as("dist")))
          next.count == 0
        }
        visited.select(col("id"), col("dist"))
      }
    }

  /** `graphmetrics`: one-row structural profile of the accumulated
    * edges table — the sanity gate before running the iterative stages
    * (a density or max-degree surprise here predicts a pagerank/kcore
    * blow-up). Parallel edges dedupe first (structure, not
    * multiplicity). Output: `n_vertices`, `n_edges` (distinct directed
    * pairs), `max_out_degree`, `max_in_degree`, `avg_degree`
    * (2E/V, one IEEE division), `density` (E/(V·(V−1)), directed
    * convention, null for V < 2). Self-loops count as one out- and one
    * in-edge.
    *
    * Options: `label` (optional edge-label filter), `assortativity`
    * (default false — append the DIRECTED degree assortativity: the
    * Pearson correlation over edges between the source's out-degree
    * and the destination's in-degree, positive = hubs link to hubs.
    * Exact-decimal co-moment sums with one double finishing tree, the
    * `correlate` determinism recipe; degenerate → null).
    *
    * Scale shape: ONE distinct over (src,dst) feeding three hash
    * aggregations (out-degrees, in-degrees, totals) — degree frames are
    * vertex-sized, the closing combine is three one-row aggregates; the
    * assortativity pass re-joins the degree frames onto the edge list
    * (vertex-keyed) and adds one more one-row aggregate. */
  def graphMetrics(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { _ =>
      val edges0 = ctx.edges.getOrElse(
        sys.error("graphmetrics: no edges — apply an `edge` stage first"))
      val edges = spec.str("label").fold(edges0)(l => edges0.where(col("label") === l))
      val e = edges.select(col("src").as("__s"), col("dst").as("__d")).distinct()
      val outDeg = e.groupBy("__s").agg(count(lit(1)).as("__od"))
      val inDeg = e.groupBy("__d").agg(count(lit(1)).as("__id"))
      val outMax = outDeg.agg(max("__od").as("max_out_degree"))
      val inMax = inDeg.agg(max("__id").as("max_in_degree"))
      val base = e.agg(count(lit(1)).as("n_edges"))
      val verts = e.select(col("__s").as("id")).union(e.select(col("__d").as("id")))
        .distinct().agg(count(lit(1)).as("n_vertices"))
      val v = col("n_vertices")
      val metrics = base.crossJoin(broadcast(verts))
        .crossJoin(broadcast(outMax)).crossJoin(broadcast(inMax))
        .withColumn("avg_degree",
          (col("n_edges") * 2L).cast("double") / v.cast("double"))
        .withColumn("density", when(v >= 2,
          col("n_edges").cast("double") / (v * (v - 1L)).cast("double")))
        .select("n_vertices", "n_edges", "max_out_degree", "max_in_degree",
          "avg_degree", "density")
      if (!spec.bool("assortativity", dflt = false)) metrics
      else {
        import org.apache.spark.sql.types.DecimalType
        val x = col("__od").cast(DecimalType(38, 0))
        val y = col("__id").cast(DecimalType(38, 0))
        val agg = e.join(outDeg, Seq("__s")).join(inDeg, Seq("__d"))
          .groupBy()
          .agg(count(lit(1)).as("__n"),
            sum(x).as("__sx"), sum(y).as("__sy"), sum(x * y).as("__sxy"),
            sum(x * x).as("__sxx"), sum(y * y).as("__syy"))
        val n = col("__n").cast("double")
        def d(c: String) = col(c).cast("double")
        val cov = n * d("__sxy") - d("__sx") * d("__sy")
        val vx = n * d("__sxx") - d("__sx") * d("__sx")
        val vy = n * d("__syy") - d("__sy") * d("__sy")
        val r = agg.select(
          when(vx > 0 && vy > 0, cov / (sqrt(vx) * sqrt(vy)))
            .as("assortativity"))
        metrics.crossJoin(broadcast(r))
      }
    }

  /** `toposort`: DAG layer assignment (longest-path layering) over the
    * accumulated directed edges — layer(v) = 0 for sources, else
    * 1 + max(layer of predecessors). The batch scheduling/lineage
    * primitive: every vertex in layer k depends only on layers < k, so
    * the layers ARE the parallel execution waves of a dependency
    * graph. Doubles as CYCLE DETECTION: on a cyclic input the layers
    * grow without bound and the stage fails LOUD at `maxIter` naming
    * the cycle possibility (a silent wrong answer on a cyclic "DAG" is
    * the worst outcome). Output: (id, layer) — a query stage.
    * Registered edge-less vertices surface as layer-0 isolates.
    *
    * Options: `label` (optional edge-label filter), `maxIter` (default
    * 50 — must exceed the DAG depth), `checkpointDir` like pagerank.
    *
    * Scale shape: each round is ONE equi-join of the (deduplicated)
    * edge list against the (id, layer) vector + ONE hash aggregation
    * (max per destination) — (id, layer)-only exchanges, per-round
    * checkpoints truncating lineage; rounds = DAG depth (the
    * propagation frontier advances one layer per round). */
  def topoSort(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { _ =>
      val edges0 = ctx.edges.getOrElse(
        sys.error("toposort: no edges — apply an `edge` stage first"))
      val edges = spec.str("label").fold(edges0)(l => edges0.where(col("label") === l))
      val maxIter = spec.int("maxIter", 50)
      require(maxIter >= 1, s"toposort: maxIter must be >= 1, got $maxIter")
      val ckpt = Stages.checkpointerOf(spec, ctx)
      val scope = Iterate.pinned(ckpt, ckpt(edges
        .select(col("src").as("__s"), col("dst").as("__d")).distinct()), "__s")
      val e = scope.frame
      val endpointIds = e.select(col("__s").as("id"))
        .union(e.select(col("__d").as("id")))
      val nodes = ckpt(ctx.vertices match {
        case None => endpointIds.distinct()
        case Some(vs) => vs.select(col("id").cast("string").as("id"))
          .union(endpointIds).distinct()
      })
      scope {
        Iterate.fixpoint(ckpt(nodes.select(col("id"), lit(0L).as("layer"))),
            Iterate.Budget.loud("toposort", maxIter, "the graph has a cycle, " +
              "or its depth exceeds maxIter (raise it for genuinely deep DAGs)"),
            ckpt, col("__chg")) { (layer, _) =>
          val cand = e
            .join(layer.select(col("id").as("__s"), col("layer").as("__pl")),
              Seq("__s"))
            .groupBy(col("__d").as("id"))
            .agg(max(col("__pl") + 1L).as("__nl"))
          layer.join(cand, Seq("id"), "left")
            .select(col("id"),
              greatest(col("layer"), coalesce(col("__nl"), lit(0L))).as("layer"),
              (coalesce(col("__nl"), lit(0L)) > col("layer")).as("__chg"))
        }(_.count == 0L).drop("__chg")
      }
    }

  /** `labelprop`: community detection by synchronous label propagation
    * (LPA) — every vertex starts labeled with its own id; each
    * iteration relabels every vertex with the label most frequent among
    * its (undirected, deduplicated) neighbors, ties broken to the
    * LEXICOGRAPHICALLY SMALLEST label; isolated vertices keep their
    * own id. The min-tie-break + fixed iteration count make the result
    * fully deterministic (plain LPA is run-order dependent — that
    * variant cannot be oracle-locked or reproduced across runs).
    * Options: `iterations` (default 5), `label` (optional edge-label
    * filter), `checkpointEvery` (default 5), `checkpointDir` (reliable
    * checkpoints, like pagerank). Output: (id, community).
    *
    * Scale shape: each iteration is one equi-join of the undirected
    * edge list with the label vector + two hash aggregations (vote
    * counts, then per-vertex argmax via a `min(struct(-count, label))`
    * — an aggregate, NOT a window: nothing sorts the full vote set).
    * Label lineage grows linearly per round; `checkpointEvery` bounds
    * analysis cost like pagerank's. */
  def labelPropagation(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { _ =>
      val edges0 = ctx.edges.getOrElse(
        sys.error("labelprop: no edges — apply an `edge` stage first"))
      val edges = spec.str("label").fold(edges0)(l => edges0.where(col("label") === l))
      val iters = spec.int("iterations", 5)
      val ckptEvery = spec.int("checkpointEvery", 5)
      val ckpt = Stages.checkpointerOf(spec, ctx)
      // undirected neighbor SET (parallel edges vote once), pinned on the
      // vote join key
      val scope = Iterate.pinned(ckpt, ckpt(
        edges.select(col("src").as("__a"), col("dst").as("__b"))
          .union(edges.select(col("dst").as("__a"), col("src").as("__b")))
          .distinct()), "__b")
      val u = scope.frame
      val endpointIds = u.select(col("__a").as("id"))
      val nodes = ckpt(ctx.vertices match {
        case None => endpointIds.distinct()
        case Some(vs) => // registered edge-less vertices become singletons
          vs.select(col("id").cast("string").as("id"))
            .union(endpointIds).distinct()
      })
      scope {
        Iterate.rounds(nodes.select(col("id"), col("id").as("community")),
            iters, ckptEvery, ckpt) { labels =>
          val votes = u
            .join(labels.select(col("id").as("__b"), col("community")), Seq("__b"))
            .groupBy(col("__a"), col("community")).agg(count(lit(1)).as("__c"))
          // argmax by (count desc, label asc) as ONE struct-min aggregate
          val winners = votes.groupBy("__a")
            .agg(min(struct((-col("__c")).as("nc"), col("community").as("l"))).as("__w"))
            .select(col("__a").as("id"), col("__w.l").as("__next"))
          nodes.join(winners, Seq("id"), "left")
            .select(col("id"), coalesce(col("__next"), col("id")).as("community"))
        }
      }
    }

  /** `graphneighbors`: one-hop neighbor expansion — for each vertex id
    * in the input stream (column `idField`), the sorted distinct
    * neighbor ids along `direction`. The batch form of a Gremlin
    * `g.v(x).out()` step: ONE join against the edges table instead of
    * per-record traversal. Output: input columns + `neighbors`
    * (array<string>).
    *
    * By default the arrays are UNBOUNDED — a celebrity vertex in a
    * crawl-scale graph yields a single row holding millions of entries
    * (row-size risk, hot-key task). `maxNeighbors` (optional, > 0) caps
    * each array to its `maxNeighbors` SMALLEST neighbor ids —
    * deterministic sorted truncation, enforced BEFORE the array is
    * built (per-key `row_number` window), so the aggregation buffer is
    * bounded too, not just the output row. */
  def graphNeighbors(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val edges0 = ctx.edges.getOrElse(
        sys.error("graphneighbors: no edges — apply an `edge` stage first"))
      val edges = spec.str("label").fold(edges0)(l => edges0.where(col("label") === l))
      val idField = spec.strOr("idField", "id")
      val maxN = spec.int("maxNeighbors", 0)
      val (from, to) = spec.strOr("direction", "out") match {
        case "out" => ("src", "dst")
        case "in" => ("dst", "src")
        case other => sys.error(s"graphneighbors: unknown direction $other")
      }
      val pairs = edges.select(col(from).as("__gk"), col(to).as("__gn"))
      val capped =
        if (maxN <= 0) pairs
        else pairs.distinct()
          .withColumn("__rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("__gk").orderBy("__gn")))
          .where(col("__rn") <= maxN).drop("__rn")
      val nbrs = capped.groupBy("__gk")
        .agg(array_distinct(sort_array(collect_list(col("__gn")))).as("neighbors"))
      df.join(nbrs, col(idField).cast("string") === col("__gk"), "left")
        .drop("__gk")
    }

  /** `scc`: strongly connected components of the DIRECTED edge set —
    * the directed companion to `connectedcomponents` (which
    * symmetrizes). Forward-backward min-label coloring (Orzan's
    * coloring algorithm; the Pregel-style SCC of Slota et al. 2014):
    * each outer round propagates the minimum id along OUT-edges to a
    * fixed point (F(v) = min id in v's forward closure) and along
    * IN-edges (B(v) = min of the backward closure); F(v) == B(v) == c
    * means c is reachable from v in BOTH directions, so v ∈ SCC(c) —
    * and c, being the minimum of a superset of SCC(c) that contains
    * it, IS that SCC's smallest member. The coincident vertices emit
    * with `scc_id = c` (always ≥ 1 per round: the remaining global
    * minimum's SCC), leave the graph, and the rest repeats.
    *
    * Scale shape: every exchange carries (id, label) string pairs
    * only; each propagation round is one hash join + one min
    * aggregate (map-side partial) and checkpoints, so the logical
    * plan never grows with the iteration count. Total rounds ∝
    * graph diameter × SCC-DAG depth — bounded by LOUD `maxIter`
    * (default 50) that names itself when a pathological chain
    * exceeds it. Ids compare as STRINGS (scc_id = lexicographically
    * smallest member) — zero-pad numeric ids when numeric order
    * matters.
    *
    * Options: `label` (optional edge-label filter), `maxIter`.
    * Output: (`id`, `scc_id`) for every vertex incident to an edge.
    * The reference has no SCC (its graph surface is per-record
    * vertex/edge creation, OEdgeTransformer.java:40-47); this extends
    * the graph family the same way kcore/clusteringcoef do. */
  def scc(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { _ =>
      val edges0 = ctx.edges.getOrElse(
        sys.error("scc: no edges — apply an `edge` stage first"))
      val checkpoint = Stages.checkpointerOf(spec, ctx)
      val edges1 = spec.str("label").fold(edges0)(l => edges0.where(col("label") === l))
      val liveC = checkpoint(edges1
        .select(col("src").cast("string").as("s"), col("dst").cast("string").as("d"))
        .where(col("s") =!= col("d")).distinct())
      // one budget across every closure pass of the outer loop
      val budget = Iterate.Budget.loud("scc", spec.int("maxIter", 50),
        "raise maxIter (rounds grow with graph diameter and with the " +
        "depth of the condensation DAG; a long directed chain pays one " +
        "round per hop)")
      // the live edge set is kept as TWO checkpointed copies, partitioned
      // and sorted by d (forward step) and by s (backward step), so only
      // the node-sized label frame moves per round
      var liveByD: DataFrame = liveC
      var liveByS: DataFrame = liveC
      /** BOTH closure minima of `remaining` in one fixed-point loop — F
        * (min over the forward closure) and B (backward) ride the same
        * label frame, so rounds run to max(diam_F, diam_B) instead of
        * their SUM. The old labels ride the union into the min-aggregate
        * as `__of`/`__ob` carrier columns (one row per id exists in the
        * label frame, so min() recovers exactly the old value), so the
        * change count needs no next-vs-old join. */
      def closureMins(remaining: DataFrame): DataFrame =
        Iterate.fixpoint(remaining.select(col("id"), col("id").as("f"), col("id").as("b")),
            budget, checkpoint, col("f") < col("__of") || col("b") < col("__ob")) { (lbl0, _) =>
          val lbl = lbl0.select(col("id"), col("f"), col("b"))
          val l2 = lbl.select(col("id").as("__n"), col("f"), col("b"))
          val nulls = lit(null).cast("string")
          // edge s→d: F(s) ← F(d) (forward closure), B(d) ← B(s)
          val candF = liveByD.join(l2, col("d") === col("__n"))
            .select(col("s").as("id"), col("f"), nulls.as("b"),
              nulls.as("__of"), nulls.as("__ob"))
          val candB = liveByS.join(l2, col("s") === col("__n"))
            .select(col("d").as("id"), nulls.as("f"), col("b"),
              nulls.as("__of"), nulls.as("__ob"))
          lbl.select(col("id"), col("f"), col("b"), col("f").as("__of"), col("b").as("__ob"))
            .unionByName(candF).unionByName(candB)
            .groupBy("id").agg(min("f").as("f"), min("b").as("b"),
              min("__of").as("__of"), min("__ob").as("__ob"))
        }(_.count == 0L).select(col("id"), col("f"), col("b"))
      var parts = List.empty[DataFrame]
      // no pin of liveC itself: the two copies above are keyed differently
      val rem0 = Iterate.sized(liveC) {
        liveByD = checkpoint(liveC.repartition(col("d")).sortWithinPartitions("d"))
        liveByS = checkpoint(liveByD.repartition(col("s")).sortWithinPartitions("s"))
        val (rem, remN) = Iterate.counted(checkpoint,
          liveByD.select(col("s").as("id"))
            .union(liveByD.select(col("d").as("id"))).distinct())
        // each pass emits at least the remaining minimum's SCC and spends
        // at least one round of `budget`, so the pass loop needs no cap
        if (remN != 0L)
          Iterate.fixpoint(rem, Iterate.Budget.quiet(Int.MaxValue),
              checkpoint) { (remaining, _) =>
            val emitted = checkpoint(closureMins(remaining)
              .where(col("f") === col("b")).select(col("id"), col("f").as("scc_id")))
            parts ::= emitted
            remaining.join(emitted, Seq("id"), "left_anti")
          } { pass =>
            val emitted = parts.head
            liveByD = checkpoint(liveByD
              .join(emitted.select(col("id").as("s")), Seq("s"), "left_anti")
              .join(emitted.select(col("id").as("d")), Seq("d"), "left_anti")
              .repartition(col("d")).sortWithinPartitions("d"))
            liveByS = checkpoint(liveByS
              .join(emitted.select(col("id").as("s")), Seq("s"), "left_anti")
              .join(emitted.select(col("id").as("d")), Seq("d"), "left_anti")
              .repartition(col("s")).sortWithinPartitions("s"))
            pass.count == 0L
          }
        rem
      }
      if (parts.isEmpty) rem0.withColumn("scc_id", col("id"))
      else parts.reduce(_ unionByName _)
    }

  /** `linkpredict`: neighborhood-overlap link prediction over the
    * accumulated edges table — the crawl-frontier / recommendation
    * primitive ("which NOT-yet-connected pairs look like edges?").
    * Treats the graph as undirected. For every candidate pair (u, v)
    * with ≥ `minCommon` common neighbors and (by default) no existing
    * edge, emits the classic scores:
    * `common_neighbors`; `jaccard` = cn / (deg_u + deg_v − cn);
    * `pref_attach` = deg_u · deg_v; and `adamic_adar` in the codebase's
    * INTEGER-BITS convention — Σ over common neighbors w of
    * 1 / bits(deg(w)) where bits = length(bin(deg)) = ⌊log2 deg⌋ + 1
    * (the log2 analog of 1/ln deg; no libm, and the sum is evaluated
    * as a FIXED-ORDER chain over the 63 possible bit values, so the
    * doubles hash-match any engine spelling the same chain).
    *
    * Options: `label` (optional edge filter), `minCommon` (default 1),
    * `excludeExisting` (default true — anti-join candidates against
    * the edge set), `maxDegree` (default 100000) with `hubAction` ∈
    * drop (default) | error: a hub of degree d generates d² candidate
    * pairs, so wedge CENTERS above the cap are excluded (drop — the
    * standard production approximation: scores lose only the hub's
    * contribution) or the stage fails loud (error, bounded one-row
    * probe). Output: (u, v) with u < v — a query stage.
    *
    * Scale shape: wedges come from ONE self-join of the center-capped
    * adjacency on the center id (candidate volume bounded by
    * Σ min(d, maxDegree)² — the cap is the knob); the score
    * aggregation is ONE hash agg on (u, v); degree/edge joins are
    * id-keyed frames that AQE broadcasts when small. Exchanges carry
    * (id, id, long) rows — never neighbor lists. */
  def linkPredict(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { _ =>
      val edges0 = ctx.edges.getOrElse(
        sys.error("linkpredict: no edges — apply an `edge` stage first"))
      val edges1 = spec.str("label").fold(edges0)(l => edges0.where(col("label") === l))
      val minCommon = spec.long("minCommon").getOrElse(1L)
      val maxDegree = spec.long("maxDegree").getOrElse(100000L)
      require(maxDegree >= 1, s"linkpredict: maxDegree must be >= 1, got $maxDegree")
      val sym0 = edges1.select(col("src").cast("string").as("a"),
                               col("dst").cast("string").as("b"))
      val sym = sym0.union(sym0.select(col("b").as("a"), col("a").as("b")))
        .where(col("a") =!= col("b")).distinct()
        .persist()
      ctx.registerPersisted(sym)
      val deg = sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("d"))
        .persist()
      ctx.registerPersisted(deg)
      spec.strOr("hubAction", "drop") match {
        case "drop" => ()
        case "error" => // bounded probe: ONE row decides, never a full scan
          if (!deg.where(col("d") > maxDegree).limit(1).isEmpty)
            sys.error(s"linkpredict: a vertex exceeds maxDegree=$maxDegree " +
              "(hubAction=error); raise maxDegree or use hubAction=drop")
        case other => sys.error(
          s"linkpredict: hubAction must be drop|error, got '$other'")
      }
      // wedge centers w carry their degree's bit-length for adamic_adar
      val centers = sym
        .join(deg.where(col("d") <= maxDegree)
          .select(col("id").as("a"), length(bin(col("d"))).cast("int").as("__wb")),
          Seq("a"))
      val e1 = centers.select(col("a").as("__w"), col("b").as("u"), col("__wb"))
      val e2 = centers.select(col("a").as("__w"), col("b").as("v"))
      val wedges = e1.join(e2, Seq("__w")).where(col("u") < col("v"))
      // ONE hash agg: pair count + per-bit-value counts (bits ∈ [1, 63])
      val bitAggs = (1 to 63).map(k =>
        sum(when(col("__wb") === k, 1L).otherwise(0L)).as(s"__c$k"))
      val cn = wedges.groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("common_neighbors"), bitAggs: _*)
      val cand =
        if (spec.bool("excludeExisting", dflt = true))
          cn.join(sym, cn("u") === sym("a") && cn("v") === sym("b"), "left_anti")
        else cn
      // Σ_k c_k / k evaluated 1→63: a fixed left-assoc chain of exact
      // long→double casts, correctly-rounded divisions and adds
      val aa = (1 to 63).map(k => col(s"__c$k").cast("double") / k.toDouble)
        .reduce(_ + _)
      cand
        .where(col("common_neighbors") >= minCommon) // prune BEFORE the deg joins
        .join(deg.select(col("id").as("u"), col("d").as("deg_u")), Seq("u"))
        .join(deg.select(col("id").as("v"), col("d").as("deg_v")), Seq("v"))
        .withColumn("jaccard", col("common_neighbors").cast("double") /
          (col("deg_u") + col("deg_v") - col("common_neighbors")).cast("double"))
        .withColumn("pref_attach", col("deg_u") * col("deg_v"))
        .withColumn("adamic_adar", aa)
        .select((Seq("u", "v", "common_neighbors", "deg_u", "deg_v",
          "jaccard", "pref_attach", "adamic_adar").map(col)): _*)
    }
}
