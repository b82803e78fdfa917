package graft

import graft.spec.ComponentSpec
import org.apache.spark.sql.functions._

/** Graph-analytics stages over the vertices/edges contract. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def withEdges() = {
    val ctx = newCtx()
    ctx.addEdges(Seq(("a", "x"), ("b", "x"), ("a", "y"))
      .toDF("src", "dst").withColumn("label", lit("e")))
    ctx
  }

  test("graphdegree: out/in/both over the edges table") {
    val ctx = withEdges()
    def deg(dir: String) =
      graft.graph.GraphStages.graphDegree(
        ComponentSpec("graphdegree", Map("direction" -> dir)), ctx)(
        spark.emptyDataFrame)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(deg("out") == Map("a" -> 2L, "b" -> 1L))
    assert(deg("in") == Map("x" -> 2L, "y" -> 1L))
    assert(deg("both") == Map("a" -> 2L, "b" -> 1L, "x" -> 2L, "y" -> 1L))
  }

  test("pagerank: hand-computed fixpoint on a 2-node chain") {
    val ctx = newCtx()
    ctx.addEdges(Seq(("a", "b")).toDF("src", "dst").withColumn("label", lit("e")))
    val pr = graft.graph.GraphStages.pageRank(
      ComponentSpec("pagerank", Map("iterations" -> 5)), ctx)(spark.emptyDataFrame)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // a has no in-edges: (1-d)/2 = 0.075 from round 1 on;
    // b = 0.075 + 0.85 * 0.075 = 0.13875 once a stabilizes
    assert(math.abs(pr("a") - 0.075) < 1e-12)
    assert(math.abs(pr("b") - 0.13875) < 1e-12)
  }

  test("pagerank personalized: seeded teleport, PPR init, unknown seeds fail loud") {
    val ctx = newCtx()
    ctx.addEdges(Seq(("a", "b"), ("b", "c"))
      .toDF("src", "dst").withColumn("label", lit("e")))
    val pr = graft.graph.GraphStages.pageRank(
      ComponentSpec("pagerank", Map("iterations" -> 5, "sourceIds" -> "a")),
      ctx)(spark.emptyDataFrame)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // reset mass all on a: a = 0.15·1 every round; b = 0.85·a once a
    // stabilizes; c = 0.85·b — proximity to the seed, not global rank
    assert(math.abs(pr("a") - 0.15) < 1e-12)
    assert(math.abs(pr("b") - 0.85 * 0.15) < 1e-12)
    assert(math.abs(pr("c") - 0.85 * 0.85 * 0.15) < 1e-12)
    // two seeds split the teleport mass 1/|S| each
    val pr2 = graft.graph.GraphStages.pageRank(
      ComponentSpec("pagerank", Map("iterations" -> 5, "sourceIds" -> "a,c")),
      ctx)(spark.emptyDataFrame)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr2("a") - 0.15 * 0.5) < 1e-12)
    assert(math.abs(pr2("c") - (0.15 * 0.5 + 0.85 * pr2("b"))) < 1e-12)
    // a seed that is not a vertex would silently lose teleport mass —
    // fail loud instead
    val e = intercept[Exception](graft.graph.GraphStages.pageRank(
      ComponentSpec("pagerank", Map("sourceIds" -> "a,zz")), ctx)(
      spark.emptyDataFrame))
    assert(e.getMessage.contains("sourceIds"), e.getMessage)
  }

  test("pagerank weighted: out-rank splits by edge weight; unweighted edges coalesce to 1") {
    val ctx = newCtx()
    // a → b (w=3), a → c (w=1): a's rank splits 3:1
    ctx.addEdges(Seq(("a", "b", 3.0), ("a", "c", 1.0))
      .toDF("src", "dst", "weight").withColumn("label", lit("e")))
    val pr = graft.graph.GraphStages.pageRank(
      ComponentSpec("pagerank", Map("iterations" -> 5, "weighted" -> true)),
      ctx)(spark.emptyDataFrame)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // a stabilizes at (1-d)/3 = 0.05; b = 0.05 + 0.85·0.05·(3/4),
    // c = 0.05 + 0.85·0.05·(1/4)
    assert(math.abs(pr("a") - 0.05) < 1e-12)
    assert(math.abs(pr("b") - (0.05 + 0.85 * 0.05 * 0.75)) < 1e-12)
    assert(math.abs(pr("c") - (0.05 + 0.85 * 0.05 * 0.25)) < 1e-12)
    // null weights (edges from an unweighted stage) act as 1.0
    val ctx2 = newCtx()
    ctx2.addEdges(Seq(("a", "b", Some(3.0)), ("a", "c", None: Option[Double]))
      .toDF("src", "dst", "weight").withColumn("label", lit("e")))
    val pr2 = graft.graph.GraphStages.pageRank(
      ComponentSpec("pagerank", Map("iterations" -> 5, "weighted" -> true)),
      ctx2)(spark.emptyDataFrame)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr2("b") - (0.05 + 0.85 * 0.05 * 0.75)) < 1e-12)
    // weighted without a weight column names the fix
    val ctx3 = newCtx()
    ctx3.addEdges(Seq(("a", "b")).toDF("src", "dst").withColumn("label", lit("e")))
    val e = intercept[Exception](graft.graph.GraphStages.pageRank(
      ComponentSpec("pagerank", Map("weighted" -> true)), ctx3)(spark.emptyDataFrame))
    assert(e.getMessage.contains("weightField"), e.getMessage)
  }

  test("shortestpaths: relaxation beats first-reach; unweighted=1; guards") {
    val ctx = newCtx()
    // a→b costs 10 direct, but 2 via c — round 2 must IMPROVE b after
    // round 1 already reached it (the case bfs's visited anti-join
    // cannot express)
    ctx.addEdges(Seq(("a", "b", 10.0), ("a", "c", 1.0), ("c", "b", 1.0))
      .toDF("src", "dst", "weight").withColumn("label", lit("e")))
    def run(opts: (String, Any)*) = graft.graph.GraphStages.shortestPaths(
      ComponentSpec("shortestpaths",
        Map[String, Any]("source" -> "a") ++ opts.toMap), ctx)(spark.emptyDataFrame)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(run() == Map("a" -> 0.0, "b" -> 2.0, "c" -> 1.0))
    // maxHops 1 keeps the expensive first reach; 0 runs no round
    assert(run("maxHops" -> 1) == Map("a" -> 0.0, "b" -> 10.0, "c" -> 1.0))
    assert(run("maxHops" -> 0) == Map("a" -> 0.0))
    // direction in: nothing points AT a
    assert(run("direction" -> "in") == Map("a" -> 0.0))
    // edges without weights cost 1 (hop distances)
    val ctx2 = newCtx()
    ctx2.addEdges(Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
      .withColumn("label", lit("e")))
    val hop = graft.graph.GraphStages.shortestPaths(
      ComponentSpec("shortestpaths", Map("source" -> "a")),
      ctx2)(spark.emptyDataFrame)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(hop == Map("a" -> 0.0, "b" -> 1.0, "c" -> 2.0))
    // negative weights fail loud
    val ctx3 = newCtx()
    ctx3.addEdges(Seq(("a", "b", -1.0)).toDF("src", "dst", "weight")
      .withColumn("label", lit("e")))
    val e = intercept[Exception](graft.graph.GraphStages.shortestPaths(
      ComponentSpec("shortestpaths", Map("source" -> "a")),
      ctx3)(spark.emptyDataFrame))
    assert(e.getMessage.contains("negative"), e.getMessage)
  }

  test("checkpointDir: reliable checkpoints keep results and round structure") {
    // same graph through pagerank / bfs / cc twice: default
    // localCheckpoint vs reliable checkpoint(dir). Results must be
    // IDENTICAL (the checkpointer only truncates lineage, never changes
    // rounds), and the reliable run must have materialized RDD
    // checkpoint files under the directory.
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    def ctx2() = {
      val c = newCtx()
      c.addEdges(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"))
        .toDF("src", "dst").withColumn("label", lit("e")))
      c
    }
    def runAll(opts: Map[String, Any]): (Map[String, Double], Map[String, Long], Map[String, String]) = {
      val pr = graft.graph.GraphStages.pageRank(
        ComponentSpec("pagerank", opts ++ Map("iterations" -> 7, "checkpointEvery" -> 2)),
        ctx2())(spark.emptyDataFrame)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val bfs = graft.graph.GraphStages.bfs(
        ComponentSpec("bfs", opts ++ Map("source" -> "a", "direction" -> "out")),
        ctx2())(spark.emptyDataFrame)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val cc = graft.graph.GraphStages.connectedComponentsStage(
        ComponentSpec("connectedcomponents", opts), ctx2())(spark.emptyDataFrame)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      (pr, bfs, cc)
    }
    val plain = runAll(Map.empty)
    val reliable = runAll(Map("checkpointDir" -> dir))
    assert(plain == reliable)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    assert(walk(new java.io.File(dir)).nonEmpty,
      "reliable mode must write checkpoint files under checkpointDir")
  }

  private def motifRun(ctx: graft.engine.EtlContext, opts: (String, Any)*) =
    graft.graph.GraphStages.motif(
      ComponentSpec("motif", opts.toMap), ctx)(spark.emptyDataFrame)

  test("motif: chain, V-shape, label filter, edge-name column, where") {
    val ctx = newCtx()
    ctx.addEdges((Seq(("a", "b", "knows"), ("b", "c", "knows"),
      ("a", "c", "likes"), ("d", "c", "knows")))
      .toDF("src", "dst", "label"))
    // two-hop chain
    val chain = motifRun(ctx, "pattern" -> "(x)-[:knows]->(y); (y)-[:knows]->(z)")
    assert(chain.columns.toSeq == Seq("x", "y", "z"))
    assert(chain.as[(String, String, String)].collect().toSet ==
      Set(("a", "b", "c")))
    // V-shape with de-mirroring where; columns in first-appearance
    // order (p, t, q)
    val v = motifRun(ctx, "pattern" -> "(p)-[:knows]->(t); (q)-[:knows]->(t)",
      "where" -> "p < q")
    assert(v.columns.toSeq == Seq("p", "t", "q"))
    assert(v.select("p", "q", "t").as[(String, String, String)]
      .collect().toSet == Set(("b", "d", "c")))
    // named edge emits its label column; no label constraint → all edges
    val named = motifRun(ctx, "pattern" -> "(a)-[e]->(c)")
      .where(col("a") === "a" && col("c") === "c")
    assert(named.columns.toSeq == Seq("a", "c", "e_label"))
    assert(named.select("e_label").as[String].collect().toSeq == Seq("likes"))
    // unparsable term is a typed error
    val err = intercept[RuntimeException](motifRun(ctx, "pattern" -> "a->b"))
    assert(err.getMessage.contains("cannot parse"))
  }

  test("motif: undirected terms and negated terms") {
    val ctx = newCtx()
    ctx.addEdges(Seq(("a", "b", "knows"), ("b", "c", "knows"),
      ("c", "b", "knows"), ("a", "d", "likes"))
      .toDF("src", "dst", "label"))
    // undirected: (x)-[]-(y) matches either orientation
    val und = motifRun(ctx, "pattern" -> "(x)-[:knows]-(y)")
      .as[(String, String)].collect().toSet
    assert(und == Set(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")))
    // a self-loop EDGE appears once in an undirected match, not twice
    val ctx2 = newCtx()
    ctx2.addEdges(Seq(("s", "s", "knows"), ("s", "t", "knows"))
      .toDF("src", "dst", "label"))
    val loops = graft.graph.GraphStages.motif(
      ComponentSpec("motif", Map("pattern" -> "(x)-[:knows]-(y)")),
      ctx2)(spark.emptyDataFrame).collect()
    assert(loops.length == 3) // (s,s) once + (s,t) + (t,s)
    // negation over a chain: keep two-hop paths with no closing edge
    // z→x. All three chains here lack one (c→a, b→b, c→c absent).
    val noTri = motifRun(ctx,
      "pattern" -> "(x)-[:knows]->(y); (y)-[:knows]->(z); !(z)-[]->(x)")
      .select("x", "y", "z").as[(String, String, String)].collect().toSet
    assert(noTri == Set(("a", "b", "c"), ("b", "c", "b"), ("c", "b", "c")))
    // negation that removes: ! (y)->(x) kills mutual pairs
    val oneWay = motifRun(ctx, "pattern" -> "(x)-[:knows]->(y); !(y)-[]->(x)")
      .as[(String, String)].collect().toSet
    assert(oneWay == Set(("a", "b"))) // b↔c are mutual, dropped
    // a negated term must bind to the positive pattern
    val e = intercept[Exception](motifRun(ctx,
      "pattern" -> "(x)-[:knows]->(y); !(q)-[]->(x)"))
    assert(e.getMessage.contains("not bound"))
  }

  test("motif: self-loop term and shared-vertex join across terms") {
    val ctx = newCtx()
    ctx.addEdges(Seq(("s", "s", "self"), ("s", "t", "out"))
      .toDF("src", "dst", "label"))
    val loops = motifRun(ctx, "pattern" -> "(v)-[:self]->(v); (v)-[:out]->(w)")
      .as[(String, String)].collect().toSet
    assert(loops == Set(("s", "t")))
  }

  test("motif: disconnected pattern rejected with group names; allowDisconnected opts in; connected-out-of-order never errors") {
    val ctx = newCtx()
    ctx.addEdges(Seq(("a", "b", "e"), ("c", "d", "e"), ("b", "c", "e"))
      .toDF("src", "dst", "label"))
    // genuinely disconnected: typed error naming the vertex groups
    val err = intercept[RuntimeException](motifRun(ctx,
      "pattern" -> "(p)-[]->(q); (r)-[]->(s)"))
    assert(err.getMessage.contains("DISCONNECTED"))
    assert(err.getMessage.contains("{p,q}") && err.getMessage.contains("{r,s}"))
    // explicit opt-in: the cartesian IS the result (3 edges × 3 edges)
    val cross = motifRun(ctx, "pattern" -> "(p)-[]->(q); (r)-[]->(s)",
      "allowDisconnected" -> true)
    assert(cross.count() == 9)
    // connected pattern in awkward term order (terms 1 and 2 share
    // nothing, term 3 bridges): accepted, and the greedy join order
    // means no intermediate cartesian
    val bridged = motifRun(ctx,
      "pattern" -> "(p)-[]->(q); (r)-[]->(s); (q)-[]->(r)")
      .select("p", "q", "r", "s").as[(String, String, String, String)]
      .collect().toSet
    assert(bridged == Set(("a", "b", "c", "d")))
  }

  test("motif: directed triangle with de-mirror where") {
    val ctx = newCtx()
    ctx.addEdges(Seq(("a", "b", "e"), ("b", "c", "e"), ("c", "a", "e"),
      ("a", "d", "e"))
      .toDF("src", "dst", "label"))
    val tri = motifRun(ctx,
      "pattern" -> "(x)-[]->(y); (y)-[]->(z); (z)-[]->(x)",
      "where" -> "x < y AND x < z")
      .select("x", "y", "z").as[(String, String, String)].collect().toSet
    assert(tri == Set(("a", "b", "c"))) // one canonical rotation per cycle
  }

  test("graphneighbors: maxNeighbors caps arrays deterministically (planted hot vertex)") {
    val ctx = newCtx()
    // hot vertex: 50 out-edges; cold vertex: 2
    val hot = (0 until 50).map(i => ("hub", f"n$i%03d", "e"))
    val cold = Seq(("cold", "n001", "e"), ("cold", "n000", "e"))
    ctx.addEdges((hot ++ cold).toDF("src", "dst", "label"))
    val in = Seq("hub", "cold").toDF("id")
    val out = graft.graph.GraphStages.graphNeighbors(
      ComponentSpec("graphneighbors",
        Map("idField" -> "id", "maxNeighbors" -> 5)), ctx)(in)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    // sorted truncation: the 5 SMALLEST neighbor ids, deterministic
    assert(out("hub") == (0 until 5).map(i => f"n$i%03d").toList)
    assert(out("cold") == List("n000", "n001")) // under the cap: unchanged
    // unbounded default unchanged
    val unb = graft.graph.GraphStages.graphNeighbors(
      ComponentSpec("graphneighbors", Map("idField" -> "id")), ctx)(in)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).length).toMap
    assert(unb("hub") == 50)
  }

  test("gremlin: translated subset matches the motif equivalent; richer scripts are named errors") {
    val ctx = newCtx()
    ctx.addVertices(Seq(("a", "person"), ("b", "person"), ("c", "city"))
      .toDF("id", "label"))
    ctx.addEdges(Seq(("a", "b", "knows"), ("b", "c", "lives"), ("a", "c", "lives"))
      .toDF("src", "dst", "label"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    assert(g("g.V().hasLabel('person').out('knows')")
      .select("id").as[String].collect().toSeq == Seq("b"))
    // literal Gremlin == the equivalent motif frame
    val viaMotif = motifRun(ctx, "pattern" -> "(x)-[:lives]->(y)")
      .select("y").as[String].collect().toSeq.sorted
    val viaGremlin = g("g.V().out('lives')")
      .select("id").as[String].collect().toSeq.sorted
    assert(viaGremlin == viaMotif)
    // multi-label hop: out('knows', 'lives') unions the label filters
    assert(g("g.V().has('id', 'a').out('knows', 'lives')")
      .select("id").as[String].collect().toSeq.sorted == Seq("b", "c"))
    // in / both / has-on-property / terminal count
    assert(g("g.V().in('knows')").select("id").as[String].collect().toSeq == Seq("a"))
    assert(g("g.V().both('knows')").select("id").as[String].collect().toSeq.sorted ==
      Seq("a", "b"))
    assert(g("g.V().has('id', 'a').count()").select("count").as[Long].head() == 1L)
    // labels re-attached after a hop (left join: c has label city)
    assert(g("g.V().out('lives')").select("label").as[String].collect().toSeq ==
      Seq("city", "city"))
    // richer scripts: NAMED migration errors, never silent misparses
    val e = intercept[RuntimeException](
      g("g.V().branch(values('id'))"))
    assert(e.getMessage.contains("gremlin"))
    // (sack() gained a translation in r19 — tree() remains out of scope)
    val e2 = intercept[RuntimeException](g("g.V().out().tree()"))
    assert(e2.getMessage.contains("unsupported step"))
    assert(e2.getMessage.contains("motif"))
    // local() × path(): legal Gremlin with no faithful translation here
    // (heterogeneous path values / keyed-scope hops) — must fail LOUD
    // with named migrations, never silently drop the path (r14 verdict)
    val e3 = intercept[RuntimeException](
      g("g.V().local(out().count()).path()"))
    assert(e3.getMessage.contains("local(<aggregate>) together with path()"))
    assert(e3.getMessage.contains("motif"))
    val e4 = intercept[RuntimeException](
      g("g.V().local(out().limit(1)).path()"))
    assert(e4.getMessage.contains("local(<chain>.limit(n)) together with path()"))
    assert(e4.getMessage.contains("repeat(..).emit().path()"))
  }

  test("gremlin: match() pattern-join — solution-set bindings; named fails (r18)") {
    val ctx = newCtx()
    ctx.addVertices(Seq(("a", "person"), ("b", "person"), ("d", "person"),
      ("c", "city"), ("e", "city")).toDF("id", "label"))
    ctx.addEdges(Seq(("a", "b", "knows"), ("d", "a", "knows"),
      ("b", "c", "lives"), ("a", "e", "lives")).toDF("src", "dst", "label"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    // two chained patterns; bare and __. spellings both parse
    val out = g("g.V().match(__.as('x').out('knows').as('y'), " +
        "as('y').out('lives').as('z')).select('x', 'z')")
      .as[(String, String)].collect().toSet
    assert(out == Set(("a", "c"), ("d", "e")))
    // filter-only pattern constrains its tag; single select re-enters
    // vertex space (id + label)
    val fo = g("g.V().match(__.as('x').out('knows').as('y'), " +
        "__.as('y').hasLabel('person')).select('y')")
      .select("id").as[String].collect().toSet
    assert(fo == Set("a", "b"))
    // the incoming traversers bind the first pattern's start tag
    val pinned = g("g.V('a').match(__.as('x').out('knows').as('y'))" +
        ".select('x', 'y')").as[(String, String)].collect().toSet
    assert(pinned == Set(("a", "b")))
    // terminal aggregate over the solution set
    assert(g("g.V().match(__.as('x').out('knows').as('y')).count()")
      .select("count").as[Long].head() == 2L)
    // a cycle pattern (as('p')…as('p')) closes on itself
    val ctx2 = newCtx()
    ctx2.addVertices(Seq(("a", "person"), ("b", "person"), ("z", "person"))
      .toDF("id", "label"))
    ctx2.addEdges(Seq(("a", "b", "knows"), ("b", "a", "knows"),
      ("b", "z", "knows")).toDF("src", "dst", "label"))
    def g2(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx2)(spark.emptyDataFrame)
    val cyc = g2("g.V().match(__.as('p').out('knows').as('q'), " +
        "__.as('q').out('knows').as('p')).select('p', 'q')")
      .as[(String, String)].collect().toSet
    assert(cyc == Set(("a", "b"), ("b", "a")))
    // two-tag where over match bindings: orders pairs with x != y
    val neq = g("g.V().match(__.as('x').out('knows').as('y'), " +
        "__.as('x').out('lives').as('z')).where('y', neq('z'))" +
        ".select('x', 'y', 'z')")
      .as[(String, String, String)].collect().toSet
    assert(neq == Set(("a", "b", "e"))) // d has no lives edge; y=b != z=e
    // named fails: disconnected patterns, unsupported pattern step
    val e = intercept[RuntimeException](g("g.V().match(" +
      "__.as('x').out('knows').as('y'), __.as('p').out('lives').as('q'))" +
      ".select('x')"))
    assert(e.getMessage.contains("share no tag"), e.getMessage)
    val e2 = intercept[RuntimeException](g(
      "g.V().match(__.as('x').values('id').as('y')).select('x')"))
    assert(e2.getMessage.contains("match subset"), e2.getMessage)
    // match() after an as() binding would silently re-bind in this
    // translation where TinkerPop joins — named fail instead (r18)
    val e3 = intercept[RuntimeException](g(
      "g.V().as('a').out('knows').match(__.as('a').out('lives').as('b'))" +
      ".select('a', 'b')"))
    assert(e3.getMessage.contains("match() after as('a')"), e3.getMessage)
  }

  test("gremlin: idLabel catalog persists once across traversals sharing a vertex frame") {
    // r14 verdict #6: several traversals over one vertex frame must not
    // re-persist the plan-identical (id, label) catalog — the second
    // context REUSES the live cache entry and must not own (or release)
    // it. CacheManager keys by analyzed plan, so storageLevel on a
    // fresh-but-identical frame observes the shared entry.
    import org.apache.spark.storage.StorageLevel
    val verts = Seq(("a", "p"), ("b", "p"), ("c", "q")).toDF("id", "label")
    val edges = Seq(("a", "b", "knows")).toDF("src", "dst", "label")
    val probe = verts.select(col("id"), col("label")).distinct()
    assert(probe.storageLevel == StorageLevel.NONE)
    def run(ctx: graft.engine.EtlContext): Unit = {
      ctx.addVertices(verts); ctx.addEdges(edges)
      graft.stages.Stages.command(
        ComponentSpec("command", Map("command" -> "g.V().out('knows')")), ctx)(
        spark.emptyDataFrame).count()
    }
    val ctx1 = newCtx(); run(ctx1)
    assert(probe.storageLevel != StorageLevel.NONE) // ctx1 persisted it
    val ctx2 = newCtx(); run(ctx2)                  // reuses, never re-persists
    ctx2.releaseCache()                             // non-owner: no-op on it
    assert(probe.storageLevel != StorageLevel.NONE)
    ctx1.releaseCache()                             // owner drops it
    assert(probe.storageLevel == StorageLevel.NONE)
  }

  test("gremlin: paging steps skip/tail carry the order; id/label/constant projections") {
    val ctx = newCtx()
    ctx.addVertices(Seq(("a", "p", 1L), ("b", "p", 4L), ("c", "p", 2L),
      ("d", "p", 3L), ("e", "q", 5L)).toDF("id", "label", "w"))
    ctx.addEdges(Seq(("a", "b", "knows")).toDF("src", "dst", "label"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    // skip pages the EXPLICIT order (w desc: e,b,d,c,a → skip 2 = d,c,a)
    assert(g("g.V().order().by('w', 'desc').skip(2).values('id')")
      .select("value").as[String].collect().toSeq == Seq("d", "c", "a"))
    // skip then limit keeps paging the same order (rows 3-4)
    assert(g("g.V().order().by('w', 'desc').skip(2).limit(2).values('id')")
      .select("value").as[String].collect().toSeq == Seq("d", "c"))
    // tail = last n of the order, forward order restored
    assert(g("g.V().order().by('w', 'desc').tail(2).values('id')")
      .select("value").as[String].collect().toSeq == Seq("c", "a"))
    // bare tail: canonical whole-row order (id asc) → last element
    assert(g("g.V().hasLabel('p').tail(1).values('id')")
      .select("value").as[String].collect().toSeq == Seq("d"))
    // id()/label()/constant(): traverser becomes the value — aggregates compose
    assert(g("g.V().hasLabel('q').id()")
      .select("value").as[String].collect().toSeq == Seq("e"))
    assert(g("g.V().label().groupCount()")
      .orderBy("value").select("value", "count").as[(String, Long)]
      .collect().toSeq == Seq(("p", 4L), ("q", 1L)))
    assert(g("g.V().constant(7).sum()")
      .select("sum").as[Long].head() == 35L)
    // skip past the end is empty, not an error
    assert(g("g.V().order().by('w', 'desc').skip(9).values('id')").count() == 0L)
    // sample(n): n rows, deterministic across evaluations, subset of V
    val s1 = g("g.V().sample(3).values('id')").select("value")
      .as[String].collect().sorted.toSeq
    val s2 = g("g.V().sample(3).values('id')").select("value")
      .as[String].collect().sorted.toSeq
    assert(s1.length == 3 && s1 == s2)
    assert(s1.toSet.subsetOf(Set("a", "b", "c", "d", "e")))
    assert(g("g.V().sample(99).values('id')").count() == 5L) // n > size = all
  }

  test("gremlin: group().by().by() result map and project() per-traverser columns") {
    val ctx = newCtx()
    ctx.addVertices(Seq(("a", "p", 3L), ("b", "p", 5L), ("c", "q", 7L), ("d", "q", 2L))
      .toDF("id", "label", "w"))
    ctx.addEdges(Seq(("a", "b", "knows"), ("a", "c", "knows"), ("b", "c", "knows"))
      .toDF("src", "dst", "label"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    // default value: the group's element list, sorted + comma-joined
    assert(g("g.V().group().by('label')")
      .as[(String, String)].collect().toMap == Map("p" -> "a,b", "q" -> "c,d"))
    // aggregate values: count() and values('w').sum()/max()
    assert(g("g.V().group().by('label').by(count())")
      .as[(String, Long)].collect().toMap == Map("p" -> 2L, "q" -> 2L))
    assert(g("g.V().group().by('label').by(values('w').sum())")
      .as[(String, Long)].collect().toMap == Map("p" -> 8L, "q" -> 9L))
    // a property as the VALUE by: per-group value list
    assert(g("g.V().group().by('label').by('w')")
      .as[(String, String)].collect().toMap == Map("p" -> "3,5", "q" -> "2,7"))
    // project: property by + sub-traversal count by (empty → 0) + min
    val pr = g("g.V().hasLabel('p').project('pid', 'pw', 'outs', 'firstout')" +
        ".by('id').by('w').by(out('knows').count()).by(out('knows').values('id').min())")
      .orderBy("pid").collect()
    assert(pr.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getString(3))).toSeq ==
      Seq(("a", 3L, 2L, "b"), ("b", 5L, 1L, "c")))
    // empty sub-traversal: count 0, aggregate null (hop frames carry
    // (id, label) — the re-attachment contract — so aggregate over id)
    val prq = g("g.V().has('id', 'c').project('cid', 'outs', 'm')" +
        ".by('id').by(out('knows').count()).by(out('knows').values('id').max())")
      .head()
    assert(prq.getString(0) == "c" && prq.getLong(1) == 0L && prq.isNullAt(2))
    // guards: missing key by, hop inside group's value by, modulator
    // count mismatch, non-terminal placement
    val ge = intercept[RuntimeException](g("g.V().group()"))
    assert(ge.getMessage.contains("needs a key"), ge.getMessage)
    // r19: nested by(<traversal>) with hops — group-stream semantics:
    // the value reduces over the UNION of the group's elements'
    // sub-results (p: a→2 + b→1 = 3 out-edges; q: none → 0)
    assert(g("g.V().group().by('label').by(out('knows').count())")
      .as[(String, Long)].collect().toMap == Map("p" -> 3L, "q" -> 0L))
    // hop + values + aggregate: total neighbour weight per group
    // (p: a→{b,c}=12, b→{c}=7 → 19; q: no out-edges → null)
    val gw = g("g.V().group().by('label').by(out('knows').values('w').sum())")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(gw == Map("p" -> 19L, "q" -> null), gw.toString)
    val pe = intercept[RuntimeException](
      g("g.V().project('a', 'b').by('id')"))
    assert(pe.getMessage.contains("modulators"), pe.getMessage)
    val pe2 = intercept[RuntimeException](
      g("g.V().project('a').by('id').count()"))
    assert(pe2.getMessage.contains("end the traversal"), pe2.getMessage)
  }

  test("gremlin: order().by(<traversal>.aggregate) ranks per-traverser (r19)") {
    val ctx = newCtx()
    ctx.addVertices(Seq(("a", "p", 3L), ("b", "p", 5L), ("c", "q", 7L), ("d", "q", 2L))
      .toDF("id", "label", "w"))
    ctx.addEdges(Seq(("a", "b", "knows"), ("a", "c", "knows"), ("b", "c", "knows"))
      .toDF("src", "dst", "label"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    // degree ranking: a(2) > b(1) > c,d(0); id tie-break; temp columns gone
    val out = g("g.V().order().by(out('knows').count(), desc).by('id').values('id')")
    assert(out.columns.toSeq == Seq("value"))
    assert(out.as[String].collect().toSeq == Seq("a", "b", "c", "d"))
    // aggregate-of-values key + adjacent limit (TakeOrdered path):
    // total neighbour weight a=12, b=7, c/d none (null sorts first asc)
    val top = g("g.V().order().by(out('knows').values('w').sum(), desc)" +
      ".by('id').limit(2).values('id')")
    assert(top.as[String].collect().toSeq == Seq("a", "b"))
    // __. spelling parses the same chain
    assert(g("g.V().order().by(__.out('knows').count(), desc).by('id').limit(1).values('id')")
      .as[String].head() == "a")
  }

  test("gremlin: subgraph()/cap() edge-set side effect (r19)") {
    val ctx = newCtx()
    ctx.addVertices(Seq(("a", "p", 3L), ("b", "p", 5L), ("c", "q", 7L))
      .toDF("id", "label", "w"))
    ctx.addEdges(Seq(("a", "b", "knows"), ("a", "c", "likes"), ("b", "c", "knows"))
      .toDF("src", "dst", "label"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    // filtered edge-induced subgraph: only 'knows' edges from 'p'-rooted
    // traversals; traversers pass THROUGH the step (inV continues)
    val sg = g("g.V().hasLabel('p').outE('knows').subgraph('sg').cap('sg')")
      .orderBy("src", "dst").collect().map(r =>
        (r.getAs[String]("src"), r.getAs[String]("label"), r.getAs[String]("dst")))
    assert(sg.toSeq == Seq(("a", "knows", "b"), ("b", "knows", "c")))
    // repeated traversers collapse to a SET; g.E() start works too
    assert(g("g.E().hasLabel('likes').subgraph('x').cap('x')").count() == 1)
    // named fails: vertex space, missing tag, non-terminal cap
    val e1 = intercept[RuntimeException](
      g("g.V().subgraph('sg').cap('sg')"))
    assert(e1.getMessage.contains("edge space"), e1.getMessage)
    val e2 = intercept[RuntimeException](g("g.E().cap('nope')"))
    assert(e2.getMessage.contains("no subgraph"), e2.getMessage)
    val e3 = intercept[RuntimeException](
      g("g.E().subgraph('sg').cap('sg').count()"))
    assert(e3.getMessage.contains("last step"), e3.getMessage)
  }

  test("gremlin: by-chain count = property EMISSIONS; tail-after-traversal guard (r19 review)") {
    val ctx = newCtx()
    ctx.addVertices(Seq(("a", "p", Some(3L)), ("b", "p", None),
      ("c", "q", Some(7L))).toDF("id", "label", "w"))
    ctx.addEdges(Seq(("a", "b", "e"), ("a", "c", "e")).toDF("src", "dst", "label"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    // a's neighbours: b (w NULL — re-attached null emits nothing) and
    // c (w 7): values('w').count() = 1 while element count() = 2
    val pr = g("g.V().has('id', 'a').project('vals', 'elems')" +
      ".by(out('e').values('w').count()).by(out('e').count())").head()
    assert(pr.getLong(0) == 1L && pr.getLong(1) == 2L, pr.toString)
    // the values('p').count() spelling on group()'s value modulator
    // (crashed with an unresolved __hit before the r19 review fix)
    assert(g("g.V().group().by('label').by(out('e').values('w').count())")
      .as[(String, Long)].collect().toMap == Map("p" -> 1L, "q" -> 0L))
    // tail() after a materialized traversal sort key: LOUD, never the
    // silently-canonical row set
    val e = intercept[RuntimeException](
      g("g.V().order().by(out('e').count(), desc).tail(2)"))
    assert(e.getMessage.contains("not translatable"), e.getMessage)
  }

  test("gremlin: withSack/sack per-traverser accumulator (r19)") {
    val ctx = newCtx()
    ctx.addVertices(Seq(("a", "p", 3L), ("b", "p", 5L), ("c", "q", 7L))
      .toDF("id", "label", "w"))
    ctx.addEdges(Seq(("a", "b", "knows"), ("b", "c", "knows"))
      .toDF("src", "dst", "label"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    // seed + property fold, read in value space
    assert(g("g.withSack(7).V().hasLabel('p').sack(sum).by('w').sack()")
      .as[Long].collect().toSeq.sorted == Seq(10L, 12L))
    // the sack SURVIVES a hop (rides the stash like as() bindings)
    assert(g("g.withSack(0).V().has('id', 'a').sack(sum).by('w').out('knows').sack()")
      .as[Long].head() == 3L)
    // minus / mult; terminal aggregate composes in value space
    assert(g("g.withSack(100).V().has('id', 'b').sack(minus).by('w').sack()")
      .as[Long].head() == 95L)
    assert(g("g.withSack(1).V().hasLabel('p').sack(mult).by('w').sack().sum()")
      .head().getLong(0) == 8L)
    // named fails: no sack, missing by, non-literal seed
    val e1 = intercept[RuntimeException](g("g.V().sack()"))
    assert(e1.getMessage.contains("withSack"), e1.getMessage)
    val e2 = intercept[RuntimeException](
      g("g.withSack(0).V().sack(sum).count()"))
    assert(e2.getMessage.contains("by('prop')"), e2.getMessage)
    val e3 = intercept[RuntimeException](g("g.withSack('x').V().sack()"))
    assert(e3.getMessage.contains("numeric literal"), e3.getMessage)
  }

  test("gremlin: edge space — outE/inE/bothE with edge filters, *V landings") {
    val ctx = newCtx()
    ctx.addVertices(Seq(("a", "p", 0L), ("b", "p", 0L), ("c", "q", 0L))
      .toDF("id", "label", "w"))
    ctx.addEdges(Seq(("a", "b", "knows", 1.0), ("a", "c", "knows", 5.0),
      ("b", "c", "likes", 9.0)).toDF("src", "dst", "label", "weight"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    // outE: one row per out-edge; edge columns + no traversal leak
    val oe = g("g.V().hasId('a').outE('knows')")
    assert(oe.columns.toSeq.sorted == Seq("dst", "label", "src", "weight"))
    assert(oe.select("dst").as[String].collect().toSeq.sorted == Seq("b", "c"))
    // has() on an edge property, then inV lands on the far vertex
    assert(g("g.V().hasId('a').outE('knows').has('weight', gt(2)).inV()")
      .select("id").as[String].collect().toSeq == Seq("c"))
    // values over edge space; hasLabel filters the EDGE label
    assert(g("g.V().outE('likes').values('weight')")
      .as[Double].collect().toSeq == Seq(9.0))
    assert(g("g.V().hasId('c').inE().hasLabel('likes').outV()")
      .select("id").as[String].collect().toSeq == Seq("b"))
    // bothE + otherV: the endpoint the traverser did NOT come from
    assert(g("g.V().hasId('c').bothE('knows', 'likes').otherV()")
      .select("id").as[String].collect().toSeq.sorted == Seq("a", "b"))
    // bothV: both endpoints per edge
    assert(g("g.V().hasId('b').outE('likes').bothV()")
      .select("id").as[String].collect().toSeq.sorted == Seq("b", "c"))
    // landings re-enter vertex space: hasLabel applies to vertices again
    assert(g("g.V().hasId('a').outE('knows').inV().hasLabel('q')")
      .select("id").as[String].collect().toSeq == Seq("c"))
    // g.E(): start in edge space — one traverser per edge; hasLabel/
    // has filter edge columns, *V landings work (otherV reads dst by
    // the __evfrom = src convention)
    assert(g("g.E().count()").as[Long].head() == 3L)
    assert(g("g.E().hasLabel('knows').has('weight', gt(2)).inV()")
      .select("id").as[String].collect().toSeq == Seq("c"))
    assert(g("g.E().hasLabel('likes').otherV()")
      .select("id").as[String].collect().toSeq == Seq("c"))
    assert(g("g.E().values('weight').sum()").as[Double].head() == 15.0)
    // dedup in edge space keys on the EDGE row, not the traversal
    // state: an edge reached from both endpoints collapses to one
    assert(g("g.V().bothE('knows').dedup().count()").as[Long].head() == 2L)
    // ...and the surviving __evfrom is the deterministic min, so a
    // following otherV is stable: a→b kept with __evfrom=a → lands b
    assert(g("g.V().hasId('a', 'b').bothE('knows').has('weight', lt(2)).dedup().otherV()")
      .select("id").as[String].collect().toSeq == Seq("b"))
    // bare limit pins a deterministic whole-row-ordered set
    assert(g("g.V().limit(2)").select("id").as[String].collect().toSeq ==
      Seq("a", "b"))
    // groupCount over edge rows needs an explicit by
    val eg = intercept[RuntimeException](g("g.E().groupCount()"))
    assert(eg.getMessage.contains("EDGE space"), eg.getMessage)
    assert(g("g.E().groupCount().by('label')").orderBy("label")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("knows", 2L), ("likes", 1L)))
    // guards: vertex steps in edge space / *V without edge space
    val ee = intercept[RuntimeException](g("g.V().outE('knows').out('knows')"))
    assert(ee.getMessage.contains("EDGE space"), ee.getMessage)
    val ev = intercept[RuntimeException](g("g.V().inV()"))
    assert(ev.getMessage.contains("edge space"), ev.getMessage)
    val ep = intercept[RuntimeException](g("g.V().outE('knows').inV().path()"))
    assert(ep.getMessage.contains("path"), ep.getMessage)
  }

  test("gremlin: hasId/simplePath filters and valueMap/elementMap projections") {
    val ctx = newCtx()
    ctx.addVertices(Seq(("a", "p", 3L), ("b", "p", 5L), ("c", "q", 7L))
      .toDF("id", "label", "w"))
    ctx.addEdges(Seq(("a", "b", "knows"), ("b", "a", "knows"), ("b", "c", "knows"))
      .toDF("src", "dst", "label"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    // hasId: id membership filter, composable mid-chain
    assert(g("g.V().hasId('a', 'c')").select("id")
      .as[String].collect().toSeq.sorted == Seq("a", "c"))
    assert(g("g.V().hasId('a').out('knows')").select("id")
      .as[String].collect().toSeq == Seq("b"))
    // simplePath: a→b→a revisits the origin and is culled; a→b→c stays.
    // Without a terminal path() the tracking column must not leak out
    val sp = g("g.V().hasId('a').out('knows').out('knows').simplePath()")
    assert(sp.columns.toSeq == Seq("id", "label")) // hop space, no leak
    assert(sp.select("id").as[String].collect().toSeq == Seq("c"))
    // valueMap after a hop re-attaches the landed vertex's properties
    assert(g("g.V().hasId('a').out('knows').valueMap('w')")
      .as[String].collect().toSeq == Seq("""{"w":["5"]}"""))
    // with path(): the surviving simple path is rendered
    assert(g("g.V().hasId('a').out('knows').out('knows').simplePath().path()")
      .select(array_join(col("path"), "->")).as[String].collect().toSeq ==
      Seq("a->b->c"))
    // valueMap: list-valued JSON in the given key order; no-arg = all
    // non-id/label properties
    assert(g("g.V().hasId('b').valueMap('w')").as[String].collect().toSeq ==
      Seq("""{"w":["5"]}"""))
    assert(g("g.V().hasId('b').valueMap()").as[String].collect().toSeq ==
      Seq("""{"w":["5"]}"""))
    // elementMap: flat values, id and label included
    assert(g("g.V().hasId('c').elementMap('w')").as[String].collect().toSeq ==
      Seq("""{"id":"c","label":"q","w":"7"}"""))
    // valueMap composes with value-space steps (dedup/count)
    assert(g("g.V().valueMap('label').dedup().count()")
      .as[Long].collect().toSeq == Seq(2L))
    // guards: unknown property and value-space misuse are named errors
    val ve = intercept[RuntimeException](g("g.V().valueMap('nope')").collect())
    assert(ve.getMessage.contains("no such property"), ve.getMessage)
    val ve2 = intercept[RuntimeException](
      g("g.V().values('w').valueMap('w')").collect())
    assert(ve2.getMessage.contains("element space"), ve2.getMessage)
  }

  test("gremlin: local() per-traverser scope and select().by() property projection") {
    val ctx = newCtx()
    ctx.addVertices(Seq(("a", "p", 3L), ("b", "p", 5L), ("c", "q", 7L), ("d", "q", 2L))
      .toDF("id", "label", "w"))
    ctx.addEdges(Seq(("a", "b", "knows"), ("a", "c", "knows"), ("a", "d", "knows"),
      ("b", "c", "knows")).toDF("src", "dst", "label"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    // local(out().count()): one count PER traverser (vs terminal count);
    // empty sub-traversals count 0
    assert(g("g.V().local(out('knows').count())")
      .as[Long].collect().toSeq.sorted == Seq(0L, 0L, 1L, 3L))
    // local(<agg over values>): sum of reached weights per traverser —
    // empty sub-traversals emit nothing (reducing-barrier semantics)
    assert(g("g.V().local(out('knows').values('id').min())")
      .as[String].collect().toSeq.sorted == Seq("b", "c"))
    // local(<hops>.limit(n)): per-traverser top-n over the
    // deterministic (id, label) order — a hops to b,c,d, keeps b,c
    assert(g("g.V().has('id', 'a').local(out('knows').limit(2))")
      .select("id").as[String].collect().toSeq.sorted == Seq("b", "c"))
    // every traverser keeps its own top-1
    assert(g("g.V().local(out('knows').limit(1))")
      .select("id").as[String].collect().toSeq.sorted == Seq("b", "c"))
    // a vertex registered under TWO labels is one row per label (the
    // class-vertex model) — the per-traverser limit tie-break must be
    // whole-row deterministic: id alone does not order the label rows
    locally {
      val ctx2 = newCtx()
      ctx2.addVertices(Seq(("a", "p", 1L), ("b", "p", 2L), ("b", "z", 2L))
        .toDF("id", "label", "w"))
      ctx2.addEdges(Seq(("a", "b", "knows")).toDF("src", "dst", "label"))
      val top = graft.stages.Stages.command(
        ComponentSpec("command", Map("command" ->
          "g.V().has('id', 'a').local(out('knows').limit(1))")), ctx2)(
        spark.emptyDataFrame)
        .select("id", "label").collect().toSeq
        .map(r => (r.getString(0), r.getString(1)))
      assert(top == Seq(("b", "p")), s"two-label tie-break picked $top")
    }
    // keyed frames (coalesce/local/…) must stay LAZY at plan-build time
    // — a dryRun pre-flight is compile-and-analyze only. A poisoned
    // column proves it: building the traversal must not evaluate,
    // collecting it must
    locally {
      val boom = udf { (x: Long) =>
        if (x >= 0) throw new RuntimeException("materialized at plan build")
        x
      }
      // the poisoned column sits over a parquet SCAN, not an inline
      // relation — ConvertToLocalRelation would constant-fold the UDF
      // over a LocalRelation during driver-side optimization, but over
      // a file source any evaluation requires running a job
      val vPath = java.nio.file.Files
        .createTempDirectory("graft_lazy_keyed").toString + "/v"
      Seq(("a", "p", 1L), ("b", "p", 2L)).toDF("id", "label", "w0")
        .write.mode("overwrite").parquet(vPath)
      val ctx3 = newCtx()
      ctx3.addVertices(spark.read.parquet(vPath)
        .withColumn("w", boom(col("w0"))).drop("w0"))
      ctx3.addEdges(Seq(("a", "b", "knows")).toDF("src", "dst", "label"))
      // the chain must REFERENCE 'w': the r19 start-frame projection
      // prunes unreferenced vertex properties, and a pruned poisoned
      // column (correctly) never evaluates at all
      val planned = graft.stages.Stages.command(
        ComponentSpec("command", Map("command" ->
          "g.V().has('w', gt(0)).coalesce(out('knows'), in('knows'))")), ctx3)(
        spark.emptyDataFrame) // no job yet — lazy checkpoint
      val e = intercept[Exception](planned.collect())
      assert(e.getMessage != null)
      // and the pruned spelling is the POSITIVE claim: the same poisoned
      // frame with 'w' unreferenced must run clean end to end
      assert(graft.stages.Stages.command(
        ComponentSpec("command", Map("command" ->
          "g.V().coalesce(out('knows'), in('knows'))")), ctx3)(
        spark.emptyDataFrame).collect().nonEmpty)
    }
    // stateless local inlines
    assert(g("g.V().local(out('knows').hasLabel('q'))")
      .select("id").as[String].collect().toSeq.sorted == Seq("c", "c", "d"))
    // select().by(): properties of the bound vertices, one column per tag
    val sel = g("g.V().has('id', 'a').as('x').out('knows').as('y')" +
        ".select('x', 'y').by('w').by('id')")
      .orderBy("y").collect()
    assert(sel.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((3L, "b"), (3L, "c"), (3L, "d")))
    // one tag + by lands in value space
    assert(g("g.V().has('id', 'b').as('x').out('knows').select('x').by('w')")
      .as[Long].collect().toSeq == Seq(3L).map(_ => 5L))
    // guards: by-count mismatch and sub-traversal by
    val se = intercept[RuntimeException](
      g("g.V().as('x').out('knows').as('y').select('x', 'y').by('w')"))
    assert(se.getMessage.contains("modulators"), se.getMessage)
    val se2 = intercept[RuntimeException](
      g("g.V().as('x').select('x').by(out('knows').count())"))
    assert(se2.getMessage.contains("project()"), se2.getMessage)
    // terminal reducing barriers over value space + fold()
    assert(g("g.V().values('w').sum()").as[Long].head() == 17L)
    assert(g("g.V().hasLabel('p').values('w').max()").as[Long].head() == 5L)
    assert(g("g.V().values('w').mean()").as[Double].head() == 4.25)
    assert(g("g.V().hasLabel('q').fold()").as[String].head() == "c,d")
    assert(g("g.V().out('knows').values('id').fold()").as[String].head() == "b,c,c,d")
    val ae = intercept[RuntimeException](g("g.V().sum()"))
    assert(ae.getMessage.contains("value space"), ae.getMessage)
    val ae2 = intercept[RuntimeException](g("g.V().values('w').sum().dedup()"))
    assert(ae2.getMessage.contains("last step"), ae2.getMessage)
    // branch().option(): label routing — p-vertices hop, the rest stay
    assert(g("g.V().branch(label()).option('p', out('knows'))" +
        ".option('none', has('id'))")
      .select("id").as[String].collect().toSeq.sorted ==
      Seq("b", "c", "c", "c", "d", "d")) // a→{b,c,d}, b→{c}; q-vertices c,d stay
    // values-selector + no none-option: unmatched traversers drop
    assert(g("g.V().branch(values('label')).option('q', values('id'))")
      .select("value").as[String].collect().toSeq.sorted == Seq("c", "d"))
    val be = intercept[RuntimeException](g("g.V().branch(values('id'))"))
    assert(be.getMessage.contains("option"), be.getMessage)
    val be2 = intercept[RuntimeException](
      g("g.V().branch(out('knows')).option('a', has('id'))"))
    assert(be2.getMessage.contains("selector"), be2.getMessage)
  }

  test("gremlin: repeat until/emit semantics and coalesce branch precedence") {
    val ctx = newCtx()
    // chain a→b→c(city); d self-loops forever (never reaches a city)
    ctx.addVertices(Seq(("a", "p"), ("b", "p"), ("c", "city"), ("d", "p"))
      .toDF("id", "label"))
    ctx.addEdges(Seq(("a", "b", "next"), ("b", "c", "next"), ("d", "d", "next"))
      .toDF("src", "dst", "label"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    // do-while until: a exits at c (2 hops), b at c (1 hop); d never
    // satisfies and exits at the 12-iteration cap (times semantics)
    assert(g("g.V().hasLabel('p').repeat(out('next')).until(hasLabel('city'))")
      .select("id").as[String].collect().toSeq.sorted == Seq("c", "c", "d"))
    // while-do until: c exits at ENTRY without hopping
    assert(g("g.V().until(hasLabel('city')).repeat(out('next'))")
      .select("id").as[String].collect().toSeq.sorted == Seq("c", "c", "c", "d"))
    // emit BEFORE repeat includes the start; with until, frontiers stop
    // at the exit: a, b, c
    assert(g("g.V().has('id', 'a').emit().repeat(out('next')).until(hasLabel('city'))")
      .select("id").as[String].collect().toSeq.sorted == Seq("a", "b", "c"))
    // emit AFTER repeat excludes the start; times(k) bounds the loop
    assert(g("g.V().has('id', 'a').repeat(out('next')).emit().times(2)")
      .select("id").as[String].collect().toSeq.sorted == Seq("b", "c"))
    // a frontier that empties contributes nothing (c has no out-edge)
    assert(g("g.V().has('id', 'b').repeat(out('next')).emit()")
      .select("id").as[String].collect().toSeq.sorted == Seq("c"))
    // coalesce: first non-empty branch per traverser — a and b hop via
    // 'next'; c has no next and falls through to the id-keeping branch
    assert(g("g.V().hasLabel('p').coalesce(out('next'), has('id'))")
      .select("id").as[String].collect().toSeq.sorted == Seq("b", "c", "d"))
    assert(g("g.V().coalesce(out('next'), has('id'))")
      .select("id").as[String].collect().toSeq.sorted == Seq("b", "c", "c", "d"))
    // where(<traversal>) / not(<traversal>): existence filters —
    // vertices WITH / WITHOUT an outgoing 'next' edge; composable
    assert(g("g.V().where(out('next'))")
      .select("id").as[String].collect().toSeq.sorted == Seq("a", "b", "d"))
    assert(g("g.V().not(out('next'))")
      .select("id").as[String].collect().toSeq == Seq("c"))
    assert(g("g.V().has('id', 'a').out('next').where(out('next'))")
      .select("id").as[String].collect().toSeq == Seq("b"))
    // g.V(id, …): named start vertices; out with SEVERAL labels hops
    // along any of them
    assert(g("g.V('a', 'd').out('next')")
      .select("id").as[String].collect().toSeq.sorted == Seq("b", "d"))
    assert(g("g.V('a').repeat(out('next')).times(2)")
      .select("id").as[String].collect().toSeq == Seq("c"))
    // choose: per-traverser if/else — p-labeled vertices hop, the city
    // stays (3-arg); 2-arg form keeps non-matching traversers as-is
    assert(g("g.V().choose(hasLabel('p'), out('next'), has('id'))")
      .select("id").as[String].collect().toSeq.sorted == Seq("b", "c", "c", "d"))
    assert(g("g.V().has('id', 'a').choose(hasLabel('p'), out('next'))")
      .select("id").as[String].collect().toSeq == Seq("b"))
    assert(g("g.V().has('id', 'c').choose(hasLabel('p'), out('next'))")
      .select("id").as[String].collect().toSeq == Seq("c"))
    // until COMBINED with times: the loop stays frame-level (the textual
    // unroller must not strand the modulator); the tighter bound wins —
    // from a, times(1) stops before the city exit
    assert(g("g.V().has('id', 'a').repeat(out('next')).until(hasLabel('city')).times(1)")
      .select("id").as[String].collect().toSeq == Seq("b"))
    assert(g("g.V().has('id', 'a').until(hasLabel('city')).repeat(out('next')).times(5)")
      .select("id").as[String].collect().toSeq == Seq("c"))
    // guards: double until, orphan emit, hop inside until all name rules
    val e1 = intercept[RuntimeException](
      g("g.V().until(has('id')).repeat(out('next')).until(has('id'))"))
    assert(e1.getMessage.contains("before and after"), e1.getMessage)
    val e2 = intercept[RuntimeException](g("g.V().emit().count()"))
    assert(e2.getMessage.contains("modulate"), e2.getMessage)
    val e3 = intercept[RuntimeException](
      g("g.V().repeat(out('next')).until(out('next'))"))
    assert(e3.getMessage.contains("hasLabel/has/hasNot"), e3.getMessage)
    val e4 = intercept[RuntimeException](g("g.V().repeat(out('next')).count()"))
    assert(e4.getMessage.contains("terminator"), e4.getMessage)
  }

  test("gremlin: optional() identity fallback; repeat times(0) emit edge case") {
    val ctx = newCtx()
    ctx.addVertices(Seq(("a", "p"), ("b", "p"), ("c", "city"), ("d", "p"))
      .toDF("id", "label"))
    ctx.addEdges(Seq(("a", "b", "next"), ("b", "c", "next"), ("d", "d", "next"))
      .toDF("src", "dst", "label"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    // traversers with a result take it; c (no out-edge) keeps itself
    assert(g("g.V().optional(out('next'))")
      .select("id").as[String].collect().toSeq.sorted == Seq("b", "c", "c", "d"))
    assert(g("g.V().has('id', 'c').optional(out('next'))")
      .select("id").as[String].collect().toSeq == Seq("c"))
    // two-hop branch: a reaches c; b's two-hop empties (keeps b); d loops
    assert(g("g.V().optional(out('next').out('next'))")
      .select("id").as[String].collect().toSeq.sorted == Seq("b", "c", "c", "d"))
    // times(0) with emit(): zero iterations — the start frame is emitted
    // (TinkerPop's short-circuit), not an empty-union crash
    assert(g("g.V().has('id', 'a').repeat(out('next')).times(0).emit()")
      .select("id").as[String].collect().toSeq == Seq("a"))
  }

  test("gremlin union: bag concatenation over branches; guards name their rules") {
    val ctx = newCtx()
    ctx.addVertices(Seq(("a", "person"), ("b", "person"), ("c", "city"))
      .toDF("id", "label"))
    ctx.addEdges(Seq(("a", "b", "knows"), ("b", "c", "lives"), ("a", "c", "lives"))
      .toDF("src", "dst", "label"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    // every traverser flows through BOTH branches; duplicates kept
    assert(g("g.V().union(out('lives'), out('lives'))")
      .select("id").as[String].collect().toSeq.sorted == Seq("c", "c", "c", "c"))
    // heterogeneous branches (hop + filter) land in the common columns
    assert(g("g.V().union(out('knows'), hasLabel('city'))")
      .select("id").as[String].collect().toSeq.sorted == Seq("b", "c"))
    // branches compose with downstream steps
    assert(g("g.V().union(out('lives'), hasLabel('person')).groupCount()")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 1L, "b" -> 1L, "c" -> 2L))
    // value space union
    assert(g("g.V().hasLabel('person').union(values('id'), values('label'))")
      .select("value").as[String].collect().toSeq.sorted ==
      Seq("a", "b", "person", "person"))
    // guards: rich steps inside a branch, union with path()
    val e = intercept[RuntimeException](g("g.V().union(out().order(), in())"))
    assert(e.getMessage.contains("branch"))
    val e2 = intercept[RuntimeException](g("g.V().union(out(), in()).path()"))
    assert(e2.getMessage.contains("path"))
  }

  test("gremlin: path() tracks visited ids; order().by + range slice deterministically") {
    val ctx = newCtx()
    ctx.addVertices(Seq(("a", "p"), ("b", "p"), ("c", "p"), ("d", "q"))
      .toDF("id", "label"))
    ctx.addEdges(Seq(("a", "b", "next"), ("b", "c", "next"), ("c", "d", "next"))
      .toDF("src", "dst", "label"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    // two-hop paths record start + both landed vertices, in order
    val paths = g("g.V().out('next').out('next').path()")
      .select(array_join(col("path"), ",")).as[String].collect().toSeq.sorted
    assert(paths == Seq("a,b,c", "b,c,d"), paths.toString)
    // path survives filters and repeat-unrolled hops
    assert(g("g.V().hasLabel('p').repeat(out('next')).times(2).path()")
      .select(array_join(col("path"), ",")).as[String].collect().toSeq.sorted ==
      Seq("a,b,c", "b,c,d"))
    // path() only mid-chain is a named error
    val e = intercept[RuntimeException](g("g.V().path().out('next')"))
    assert(e.getMessage.contains("last step"), e.getMessage)
    // order + range: deterministic slice of the sorted frame
    assert(g("g.V().order().by('id', decr).range(1, 3).values('id')")
      .select("value").as[String].collect().toSeq == Seq("c", "b"))
    // order() with no by in value space sorts by value
    assert(g("g.V().values('id').order()")
      .select("value").as[String].collect().toSeq == Seq("a", "b", "c", "d"))
    // lazy sort + adjacent slice plans as TakeOrdered, not a global sort
    val plan = graft.graph.Gremlin.run(ctx,
      "g.V().order().by('id').range(0, 2)").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"), s"order+range should be top-k:\n$plan")
    // by() without order() is a named error
    val e2 = intercept[RuntimeException](g("g.V().by('id')"))
    assert(e2.getMessage.contains("preceding order"), e2.getMessage)
    // dedup() with path tracking keys on the current element, not path
    ctx.addEdges(Seq(("a", "c", "skip")).toDF("src", "dst", "label"))
    val dd = g("g.V().out().out().dedup().path()")
    // two traversers reach d (a→b→c→? no; with skip edge: a→c→d and b→c→d
    // land on d) — dedup keeps ONE d row, path is one of the survivors
    val landed = dd.select(col("path")(size(col("path")) - 1)).as[String]
      .collect().toSeq.sorted
    assert(landed == landed.distinct, s"dedup must collapse per element: $landed")
  }

  test("labelprop: min-tie-break LPA semantics, isolated vertices, determinism") {
    val ctx = newCtx()
    // triangle a-b-c, pendant pair e-f, registered isolated vertex d
    ctx.addVertices(Seq(("a", "v"), ("b", "v"), ("c", "v"), ("d", "v"),
      ("e", "v"), ("f", "v")).toDF("id", "label"))
    ctx.addEdges(Seq(("a", "b", "x"), ("b", "c", "x"), ("c", "a", "x"),
      ("e", "f", "x")).toDF("src", "dst", "label"))
    def run(iters: Int) = graft.graph.GraphStages.labelPropagation(
      ComponentSpec("labelprop", Map("iterations" -> iters)), ctx)(
      spark.emptyDataFrame)
      .orderBy("id").as[(String, String)].collect().toSeq
    // iter1: a←min(b,c)=b, b←min(a,c)=a, c←min(a,b)=a, e↔f swap, d stays
    assert(run(1) == Seq("a" -> "b", "b" -> "a", "c" -> "a", "d" -> "d",
      "e" -> "f", "f" -> "e"))
    // iter2: a sees (a,a)→a; b sees (b,a) tie→a; c sees (b,a) tie→a;
    // the pendant pair swaps back (synchronous LPA's bipartite cycle)
    assert(run(2) == Seq("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d",
      "e" -> "e", "f" -> "f"))
    assert(run(2) == run(2)) // deterministic rerun
    // parallel/reverse duplicate edges vote once (neighbor SET)
    ctx.addEdges(Seq(("b", "a", "x"), ("a", "b", "x")).toDF("src", "dst", "label"))
    assert(run(1).head == ("a" -> "b"), "duplicate edges must not outvote c")
  }

  test("gremlin: has() value predicates (P), has-exists, hasNot") {
    val ctx = newCtx()
    ctx.addVertices(Seq(("a", "p"), ("b", "p"), ("c", "q"), ("d", "q"))
      .toDF("id", "label"))
    def ids(script: String): Seq[String] = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
      .select("id").as[String].collect().toSeq.sorted
    assert(ids("g.V().has('id', gt('b'))") == Seq("c", "d"))
    assert(ids("g.V().has('id', gte('b'))") == Seq("b", "c", "d"))
    assert(ids("g.V().has('id', lt('b'))") == Seq("a"))
    assert(ids("g.V().has('id', lte('b'))") == Seq("a", "b"))
    assert(ids("g.V().has('id', neq('b'))") == Seq("a", "c", "d"))
    assert(ids("g.V().has('id', eq('b'))") == Seq("b"))
    assert(ids("g.V().has('id', within('a', 'd'))") == Seq("a", "d"))
    assert(ids("g.V().has('label', without('q'))") == Seq("a", "b"))
    assert(ids("g.V().has('label')") == Seq("a", "b", "c", "d"))
    assert(ids("g.V().hasNot('label')") == Nil)
    // P range predicates: inside exclusive-both, between [lo, hi)
    assert(ids("g.V().has('id', inside('a', 'd'))") == Seq("b", "c"))
    assert(ids("g.V().has('id', outside('b', 'c'))") == Seq("a", "d"))
    assert(ids("g.V().has('id', between('b', 'd'))") == Seq("b", "c"))
    // TextP string predicates
    assert(ids("g.V().has('label', containing('q'))") == Seq("c", "d"))
    assert(ids("g.V().has('label', notContaining('q'))") == Seq("a", "b"))
    assert(ids("g.V().has('id', startingWith('a'))") == Seq("a"))
    assert(ids("g.V().has('id', endingWith('d'))") == Seq("d"))
    assert(ids("g.V().has('id', notStartingWith('a'))") == Seq("b", "c", "d"))
    assert(ids("g.V().has('id', notEndingWith('d'))") == Seq("a", "b", "c"))
    val be = intercept[RuntimeException](ids("g.V().has('id', between('b'))"))
    assert(be.getMessage.contains("two values"), be.getMessage)
    // TinkerPop 3-arg has(label, key, valueOrP) = hasLabel + has
    assert(ids("g.V().has('q', 'id', 'c')") == Seq("c"))
    assert(ids("g.V().has('p', 'id', gte('a'))") == Seq("a", "b"))
    // dedup().by('col'): one traverser per key value, deterministic
    // whole-row-min survivor
    assert(ids("g.V().dedup().by('label')") == Seq("a", "c"))
    // ...on a single-column frame the key IS the row (plain distinct,
    // no degenerate unordered window)
    assert(graft.stages.Stages.command(
      ComponentSpec("command", Map("command" ->
        "g.V().values('label').dedup().by('value')")), ctx)(
      spark.emptyDataFrame).as[String].collect().toSeq.sorted ==
      Seq("p", "q"))
    // unsupported by-shapes get the dedup-specific error, not the
    // order()-modulator one
    val dbe = intercept[RuntimeException](
      ids("g.V().dedup().by('label', 'desc')"))
    assert(dbe.getMessage.contains("dedup().by"), dbe.getMessage)
    // quoted commas inside TextP values survive argument splitting
    assert(ids("g.V().has('id', containing('a, b'))") == Nil)
    // neq inside where() still means the bound TAG, not a value
    ctx.addEdges(Seq(("a", "a", "self"), ("a", "b", "next"))
      .toDF("src", "dst", "label"))
    assert(ids("g.V().as('s').out().where(neq('s'))") == Seq("b"))
  }

  test("gremlin: groupCount() per element, per column, and in value space") {
    val ctx = newCtx()
    ctx.addVertices(Seq(("a", "p"), ("b", "p"), ("c", "q")).toDF("id", "label"))
    ctx.addEdges(Seq(("a", "c", "next"), ("b", "c", "next"), ("c", "a", "next"))
      .toDF("src", "dst", "label"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    // per landed vertex: c reached twice, a once
    assert(g("g.V().out('next').groupCount()")
      .select("id", "count").as[(String, Long)].collect().toSeq.sorted ==
      Seq(("a", 1L), ("c", 2L)))
    // by('col'): group by the label of the landed vertices
    assert(g("g.V().out('next').groupCount().by('label')")
      .select("label", "count").as[(String, Long)].collect().toSeq.sorted ==
      Seq(("p", 1L), ("q", 2L)))
    // value space groups on `value`
    assert(g("g.V().values('label').groupCount()")
      .select("value", "count").as[(String, Long)].collect().toSeq.sorted ==
      Seq(("p", 2L), ("q", 1L)))
    // mid-chain groupCount is a named error
    val e = intercept[RuntimeException](g("g.V().groupCount().out('next')"))
    assert(e.getMessage.contains("last step"), e.getMessage)
  }

  test("gremlin: as/where/select bindings and repeat(..).times(k) unrolling") {
    val ctx = newCtx()
    // 3-cycle a→b→c→a plus a self-loop s→s
    ctx.addVertices(Seq(("a", "p"), ("b", "p"), ("c", "p"), ("s", "p"))
      .toDF("id", "label"))
    ctx.addEdges(Seq(("a", "b", "next"), ("b", "c", "next"), ("c", "a", "next"),
      ("s", "s", "next")).toDF("src", "dst", "label"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    // repeat unrolls: 3 hops around the cycle return to the origin
    assert(g("g.V().as('o').repeat(out('next')).times(3).where(eq('o')).count()")
      .select("count").as[Long].head() == 4L) // a,b,c close the cycle; s loops
    // where(neq): after 2 hops only cycle members land off-origin
    assert(g("g.V().as('o').repeat(out('next')).times(2).where(neq('o')).select('o')")
      .select("id").as[String].collect().toSeq.sorted == Seq("a", "b", "c"))
    // select re-enters vertex space: labels re-attached
    assert(g("g.V().as('o').out('next').select('o')")
      .select("label").as[String].collect().toSeq.distinct == Seq("p"))
    // multi-select: one column per bound tag
    val pairs = g("g.V().as('x').out('next').as('y').where(neq('x')).select('x', 'y')")
      .select("x", "y").as[(String, String)].collect().toSet
    assert(pairs == Set(("a", "b"), ("b", "c"), ("c", "a")))
    // times(0) erases the chain; binding column never leaks to output...
    assert(g("g.V().repeat(out('next')).times(0).count()")
      .select("count").as[Long].head() == 4L)
    // guards: unbound tags and unbounded unrolls are NAMED errors
    val e = intercept[RuntimeException](g("g.V().where(eq('nope')).count()"))
    assert(e.getMessage.contains("no as('nope')"), e.getMessage)
    val e2 = intercept[RuntimeException](
      g("g.V().repeat(out('next')).times(50).count()"))
    assert(e2.getMessage.contains("bounded at 12"), e2.getMessage)
  }

  test("gremlin: id in two vertex classes = two class-vertices (reference model); ${var} resolves") {
    val ctx = newCtx()
    // 'b' registered under TWO classes (the union shape addVertices
    // builds) — in the reference's model that is two distinct vertices
    ctx.addVertices(Seq(("a", "person"), ("b", "person")).toDF("id", "label"))
    ctx.addVertices(Seq(("b", "robot")).toDF("id", "label"))
    // re-registering the SAME (id, label) must NOT add a third vertex
    ctx.addVertices(Seq(("b", "robot")).toDF("id", "label"))
    ctx.addEdges(Seq(("a", "b", "knows")).toDF("src", "dst", "label"))
    def g(script: String) = graft.stages.Stages.command(
      ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
    // one row per reached class-vertex: b-as-person AND b-as-robot
    val hop = g("g.V().out('knows')").collect()
    assert(hop.map(_.getAs[String]("label")).sorted.toSeq == Seq("person", "robot"))
    // hasLabel after a hop matches EITHER class — no silently lost vertex
    assert(g("g.V().out('knows').hasLabel('robot')").count() == 1L)
    assert(g("g.V().out('knows').hasLabel('person')").count() == 1L)
    // config variables substitute in gremlin scripts like in SQL ones
    ctx.vars.put("wanted", "a")
    assert(g("g.V().has('id', '$" + "{wanted}').count()")
      .select("count").as[Long].head() == 1L)
    // dedup / limit / values
    assert(g("g.V().dedup().count()").select("count").as[Long].head() == 3L)
    assert(g("g.V().limit(2).count()").select("count").as[Long].head() == 2L)
    assert(g("g.V().hasLabel('robot').dedup().values('id')")
      .select("value").as[String].collect().toSeq == Seq("b"))
  }

  test("graphneighbors: one-hop expansion, sorted distinct, left join") {
    val ctx = withEdges()
    val in = Seq("a", "b", "z").toDF("id")
    val out = graft.graph.GraphStages.graphNeighbors(
      ComponentSpec("graphneighbors", Map("idField" -> "id")), ctx)(in)
      .orderBy("id")
      .collect().map(r => r.getString(0) -> Option(r.getSeq[String](1)).map(_.toList))
    assert(out.toSeq == Seq(
      "a" -> Some(List("x", "y")),
      "b" -> Some(List("x")),
      "z" -> None)) // no edges → null neighbors, row passes through
  }

  test("scc: directed cycles are components; one-way edges never merge") {
    def scc(edges: Seq[(String, String)],
            opts: Map[String, Any] = Map.empty): Map[String, String] = {
      val ctx = newCtx()
      ctx.addEdges(edges.toDF("src", "dst").withColumn("label", lit("e")))
      graft.graph.GraphStages.scc(
        ComponentSpec("scc", opts), ctx)(spark.emptyDataFrame)
        .as[(String, String)].collect().toMap
    }
    // two 3-cycles bridged by ONE one-way edge: separate SCCs (the
    // undirected connectedcomponents stage would merge them)
    val two = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("x", "y"), ("y", "z"), ("z", "x"), ("c", "x"))
    assert(scc(two) == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "z" -> "x"))
    // a pure DAG: every vertex its own singleton
    val dag = Seq(("d1", "d2"), ("d2", "d3"), ("d1", "d3"))
    assert(scc(dag) == Map("d1" -> "d1", "d2" -> "d2", "d3" -> "d3"))
    // back-edge closes the chain into ONE component; a dangling tail
    // off the cycle stays out of it
    val cyc = Seq(("m1", "m2"), ("m2", "m3"), ("m3", "m1"), ("m3", "t"))
    assert(scc(cyc) == Map("m1" -> "m1", "m2" -> "m1", "m3" -> "m1", "t" -> "t"))
    // nested: outer DAG over three SCCs of mixed sizes, scc_id is the
    // lexicographic minimum member (2-cycle, singleton, 2-cycle)
    val mixed = Seq(("p", "q"), ("q", "p"), ("p", "r"), ("r", "s"),
      ("s", "u"), ("u", "s"))
    assert(scc(mixed) == Map("p" -> "p", "q" -> "p", "r" -> "r",
      "s" -> "s", "u" -> "s"))
    // bounded rounds fail LOUD on a long chain with a tiny budget
    val long = (1 to 30).map(i => (f"w$i%02d", f"w${i + 1}%02d"))
    val e = intercept[Exception](scc(long, Map("maxIter" -> 3)))
    assert(e.getMessage.contains("maxIter"))
  }

  test("kcore: iterative peel — cascades, cycles survive, path has no 2-core") {
    def core(k: Int, edges: Seq[(String, String)],
             opts: Map[String, Any] = Map.empty) = {
      val ctx = newCtx()
      ctx.addEdges(edges.toDF("src", "dst").withColumn("label", lit("e")))
      graft.graph.GraphStages.kcore(
        ComponentSpec("kcore", Map("k" -> k) ++ opts), ctx)(spark.emptyDataFrame)
        .as[(String, Long)].collect().toMap
    }
    // triangle + tail: d peels, which LOWERS c — but c keeps degree 2
    val tri = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
    assert(core(2, tri) == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    // cascade: removing the tail vertex drops its neighbor next round
    // (e-f-triangle chain: f peels only AFTER e does)
    val chainTri = tri ++ Seq(("d", "e"))
    assert(core(2, chainTri) == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    // a path peels one layer per round down to the empty 2-core
    val path = Seq(("p1", "p2"), ("p2", "p3"), ("p3", "p4"), ("p4", "p5"))
    assert(core(2, path) == Map.empty)
    // a cycle IS its own 2-core; direction/self-loops/parallels ignored
    val cyc = Seq(("x", "y"), ("y", "z"), ("z", "x"), ("x", "x"), ("y", "x"))
    assert(core(2, cyc) == Map("x" -> 2L, "y" -> 2L, "z" -> 2L))
    // k=3 kills the triangle too
    assert(core(3, tri) == Map.empty)
    // bounded rounds fail LOUD, never a silent non-core
    val long = (1 to 12).map(i => (s"q$i", s"q${i + 1}"))
    val e = intercept[Exception](core(2, long, Map("maxIter" -> 2)))
    assert(e.getMessage.contains("maxIter"))
    val e2 = intercept[Exception](core(0, tri))
    assert(e2.getMessage.contains("k must be"))
    // mode: coreness — full decomposition: triangle 2, tail/path 1
    def coreness(edges: Seq[(String, String)], opts: Map[String, Any] = Map.empty) = {
      val ctx = newCtx()
      ctx.addEdges(edges.toDF("src", "dst").withColumn("label", lit("e")))
      graft.graph.GraphStages.kcore(
        ComponentSpec("kcore", Map("mode" -> "coreness") ++ opts),
        ctx)(spark.emptyDataFrame)
        .as[(String, Long)].collect().toMap
    }
    assert(coreness(chainTri) == Map("a" -> 2L, "b" -> 2L, "c" -> 2L,
      "d" -> 1L, "e" -> 1L))
    assert(coreness(path) ==
      Map("p1" -> 1L, "p2" -> 1L, "p3" -> 1L, "p4" -> 1L, "p5" -> 1L))
    // k-cap: survivors of the capped level report coreness k
    assert(coreness(chainTri, Map("k" -> 1)) == Map("a" -> 1L, "b" -> 1L,
      "c" -> 1L, "d" -> 1L, "e" -> 1L))
  }

  test("clusteringcoef: per-vertex triangles and coef; hubs stay cheap wedge tips") {
    def coef(edges: Seq[(String, String)]) = {
      val ctx = newCtx()
      ctx.addEdges(edges.toDF("src", "dst").withColumn("label", lit("e")))
      graft.graph.GraphStages.clusteringCoef(
        ComponentSpec("clusteringcoef", Map.empty), ctx)(spark.emptyDataFrame)
        .as[(String, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    }
    // triangle + tail: a,b close their one wedge (coef 1); c has 3
    // neighbors, one closed pair of 3 (coef 1/3); d degree-1 → 0
    val out = coef(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")))
    assert(out("a") == ((2L, 1L, 1.0)))
    assert(out("b") == ((2L, 1L, 1.0)))
    assert(out("c") == ((3L, 1L, 1.0 / 3.0)))
    assert(out("d") == ((1L, 0L, 0.0)))
    // star hub: many neighbors, zero triangles — coef 0, no blow-up
    val star = (1 to 20).map(i => ("hub", s"s$i"))
    val so = coef(star)
    assert(so("hub") == ((20L, 0L, 0.0)) && so("s1") == ((1L, 0L, 0.0)))
    // direction / parallels / self-loops are noise
    val messy = coef(Seq(("a", "b"), ("b", "a"), ("a", "a"), ("b", "c"),
      ("c", "a"), ("a", "c")))
    assert(messy("a") == ((2L, 1L, 1.0)))
    // 4-clique: every vertex closes all 3 of its wedges
    val k4 = for (i <- 1 to 4; j <- (i + 1) to 4) yield (s"k$i", s"k$j")
    assert(coef(k4).values.toSet == Set((3L, 3L, 1.0)))
  }

  test("connectedcomponents: min-id labels, direction ignored, singletons kept") {
    val ctx = newCtx()
    // two components: {a,b,x,y} (direction mixed) and {p,q}
    ctx.addEdges(Seq(("b", "a"), ("b", "x"), ("y", "x"), ("q", "p"))
      .toDF("src", "dst").withColumn("label", lit("e")))
    // a registered vertex with no edges → its own singleton component
    ctx.addVertices(Seq(("lone", "v")).toDF("id", "label"))
    val out = graft.graph.GraphStages.connectedComponentsStage(
      ComponentSpec("connectedcomponents", Map.empty), ctx)(spark.emptyDataFrame)
      .as[(String, String)].collect().toMap
    assert(out == Map("a" -> "a", "b" -> "a", "x" -> "a", "y" -> "a",
      "p" -> "p", "q" -> "p", "lone" -> "lone"))
  }

  test("connectedcomponents: edge-label filter splits the graph") {
    val ctx = newCtx()
    ctx.addEdges(Seq(("a", "b", "knows"), ("b", "c", "likes"))
      .toDF("src", "dst", "label"))
    val out = graft.graph.GraphStages.connectedComponentsStage(
      ComponentSpec("connectedcomponents", Map("label" -> "knows")), ctx)(
      spark.emptyDataFrame)
      .as[(String, String)].collect().toMap
    // only the knows edge participates; c is absent (not a vertex, not
    // an endpoint of a kept edge)
    assert(out == Map("a" -> "a", "b" -> "a"))
  }

  test("bfs: min-hop distances, maxHops bound, direction out vs both") {
    val ctx = newCtx()
    // chain a→b→c→d plus shortcut a→c
    ctx.addEdges(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"))
      .toDF("src", "dst").withColumn("label", lit("e")))
    def run(opts: (String, Any)*) = graft.graph.GraphStages.bfs(
      ComponentSpec("bfs", opts.toMap), ctx)(spark.emptyDataFrame)
      .as[(String, Long)].collect().toMap
    assert(run("source" -> "a", "direction" -> "out") ==
      Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 2L))
    assert(run("source" -> "a", "direction" -> "out", "maxHops" -> 1) ==
      Map("a" -> 0L, "b" -> 1L, "c" -> 1L))
    assert(run("source" -> "a", "direction" -> "out", "maxHops" -> 0) == Map("a" -> 0L))
    // undirected from d: d-c 1, then b (via c) and a (via c) at 2
    assert(run("source" -> "d", "direction" -> "both") ==
      Map("d" -> 0L, "c" -> 1L, "a" -> 2L, "b" -> 2L))
    // multi-source takes the min over sources
    assert(run("source" -> "a,d", "direction" -> "out") ==
      Map("a" -> 0L, "d" -> 0L, "b" -> 1L, "c" -> 1L))
  }

  test("linkpredict: CN/jaccard/PA/bits-AA hand values; excludeExisting; hub cap") {
    val ctx = newCtx()
    // triangle a-b-c plus pendant c-d: degrees a=2 b=2 c=3 d=1
    ctx.addEdges(Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
      .toDF("src", "dst").withColumn("label", lit("e")))
    def run(opts: (String, Any)*) = graft.graph.GraphStages.linkPredict(
      ComponentSpec("linkpredict", opts.toMap), ctx)(spark.emptyDataFrame)
      .select("u", "v", "common_neighbors", "deg_u", "deg_v",
        "jaccard", "pref_attach", "adamic_adar")
      .as[(String, String, Long, Long, Long, Double, Long, Double)]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7, r._8))).toMap
    // default: only NON-edges — (a,d) and (b,d), both via center c
    // (deg 3 → bits 2 → adamic_adar = 1/2)
    val out = run()
    assert(out.keySet == Set(("a", "d"), ("b", "d")))
    assert(out(("a", "d"))  == ((1L, 2L, 1L, 0.5, 2L, 0.5)))
    assert(out(("b", "d"))  == ((1L, 2L, 1L, 0.5, 2L, 0.5)))
    // excludeExisting=false also scores the triangle's own edges
    // ((a,b) via c; (a,c) via b; (b,c) via a — centers of degree 2 → 1/2)
    val all = run("excludeExisting" -> false)
    assert(all.keySet == Set(("a", "b"), ("a", "c"), ("b", "c"),
      ("a", "d"), ("b", "d")))
    assert(all(("a", "b")) == ((1L, 2L, 2L, 1.0 / 3.0, 4L, 0.5)))
    // maxDegree=2 excludes the hub c as a wedge CENTER: d's pairs
    // vanish; only the degree-2 centers a and b still close wedges
    val capped = run("excludeExisting" -> false, "maxDegree" -> 2)
    assert(capped.keySet == Set(("a", "c"), ("b", "c")))
    // hubAction=error fails loud at the same cap
    val e = intercept[Exception](run("maxDegree" -> 2, "hubAction" -> "error"))
    assert(e.getMessage.contains("maxDegree"), e.getMessage)
    // minCommon prunes: nothing here shares 2 neighbors
    assert(run("minCommon" -> 2).isEmpty)
  }

  test("toposort: longest-path layers on a diamond; cycle fails loud") {
    def topo(edges: Seq[(String, String)],
             opts: Map[String, Any] = Map.empty): Map[String, Long] = {
      val ctx = newCtx()
      ctx.addEdges(edges.toDF("src", "dst").withColumn("label", lit("e")))
      graft.graph.GraphStages.topoSort(
        ComponentSpec("toposort", opts), ctx)(spark.emptyDataFrame)
        .as[(String, Long)].collect().toMap
    }
    // diamond + tail: d's layer is the LONGEST path (2), not the short one
    val dag = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"))
    assert(topo(dag) == Map("a" -> 0L, "b" -> 1L, "c" -> 1L,
      "d" -> 2L, "e" -> 3L))
    // two independent sources converging
    val two = Seq(("s1", "m"), ("s2", "x"), ("x", "m"))
    assert(topo(two) == Map("s1" -> 0L, "s2" -> 0L, "x" -> 1L, "m" -> 2L))
    // a cycle can't be layered: loud failure naming the possibility
    val e = intercept[Exception](topo(Seq(("p", "q"), ("q", "p")),
      Map("maxIter" -> 5)))
    assert(e.getMessage.contains("cycle"), e.getMessage)
  }
}
