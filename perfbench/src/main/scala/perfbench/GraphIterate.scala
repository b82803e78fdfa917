package perfbench

import graft.engine.{Engine, EtlContext}
import graft.spec.PipelineSpec

/** `graph_iterate`: one op builds the graph with `vertex` + `edge` from
  * a generated edge list, labels it with `connectedcomponents`, then
  * runs a fixed-iteration `pagerank`, and collects both results. A
  * `field` expression with an `if` tags each edge's direction, so the
  * dialect-expression layer is measured on this workload too; the tag
  * does not reach either result.
  *
  * The graph is a disjoint union of planted components of mixed
  * diameter — long paths, cycles, stars and random trees, plus extra
  * edges inside components. The graph's structure and the order of its
  * vertex ids are the same for every seed, so every seed asks for the
  * same work; the seed draws the id values and the edge order. Truth:
  * the planted component of every vertex
  * (labelled by its smallest id) and a plain-Scala power iteration of
  * the engine's PageRank formula. */
final class GraphIterate(env: Env) extends ClosedLoop(env) {
  private val smoke = env.args.smoke
  private val iterations = 5
  private val damping = 0.85
  /** PageRank may differ from the plain-Scala iteration only by float
    * summation order: relative tolerance on every vertex. */
  private val rankTol = 1e-9
  private val rng = env.rng

  // (count, size) per component kind
  private val paths = if (smoke) (4, 60) else (12, 64)
  private val cycles = if (smoke) (4, 30) else (30, 50)
  private val stars = if (smoke) (4, 20) else (25, 40)
  private val trees = if (smoke) (10, 30) else (100, 30)

  private val edgesCsv = env.path("edges.csv")
  private val nodesPq = env.path("nodes.parquet")

  private var ids: Array[String] = Array.empty
  private var src: Array[Int] = Array.empty
  private var dst: Array[Int] = Array.empty
  private var compMin: Array[Int] = Array.empty // node → min-id node
  private var expectedRank: Array[Double] = Array.empty
  private var ranks: Array[(String, Double)] = Array.empty
  private var comps: Array[(String, String)] = Array.empty

  private val pipeline =
    s"""{
      "source": {"file": {"path": ${Json.str(edgesCsv)}}},
      "extractor": {"row": {}},
      "transformers": [
        {"csv": {"columns": ["src:string", "dst:string"]}},
        {"field": {"fieldName": "dir",
                   "expression": "if(src < dst, 'up', 'down')", "if": "src <> dst"}},
        {"vertex": {"class": "Node", "idField": "src"}},
        {"edge": {"class": "Link", "joinFieldName": "dst", "fromField": "id",
                  "lookup": ${Json.str(s"SELECT id FROM parquet.`$nodesPq`")}}},
        {"connectedcomponents": {"maxIter": 40, "output": "components"}},
        {"pagerank": {"iterations": $iterations, "damping": "$damping"}}
      ],
      "loader": {"memory": {"name": "ranks"}}
    }"""

  private def generate(): Unit = {
    val shape = new java.util.SplittableRandom(20261017L)
    val es = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val compOf = scala.collection.mutable.ArrayBuffer.empty[Int]
    var next = 0
    def component(size: Int)(edges: Int => Seq[(Int, Int)]): Unit = {
      val base = next
      next += size
      (0 until size).foreach(_ => compOf += base)
      val local = edges(size)
      local.foreach { case (a, b) => es += ((base + a, base + b)) }
      // extra edges inside the component: 10% of its size
      (0 until size / 10).foreach { _ =>
        es += ((base + shape.nextInt(size), base + shape.nextInt(size)))
      }
    }
    (0 until paths._1).foreach(_ => component(paths._2)(n => (0 until n - 1).map(i => (i, i + 1))))
    (0 until cycles._1).foreach(_ => component(cycles._2)(n => (0 until n).map(i => (i, (i + 1) % n))))
    (0 until stars._1).foreach(_ => component(stars._2)(n => (1 until n).map(i => (0, i))))
    (0 until trees._1).foreach(_ => component(trees._2)(n => (1 until n).map(i => (shape.nextInt(i), i))))
    val n = next
    // distinct zero-padded ids (string order == numeric order). Their
    // order decides how labels propagate, and so how many rounds
    // connected components takes: it comes from the fixed shape, and the
    // seed draws only the id values, so every seed asks for the same work
    val rank = (0 until n).toArray
    for (i <- n - 1 to 1 by -1) {
      val j = shape.nextInt(i + 1); val t = rank(i); rank(i) = rank(j); rank(j) = t
    }
    val value = new Array[Int](n)
    var id = 0
    rank.foreach { v => id += 1 + rng.nextInt(9); value(v) = id }
    ids = value.map(x => f"v$x%07d")
    // planted label: the node with the smallest id in each component
    val minOf = scala.collection.mutable.HashMap.empty[Int, Int]
    (0 until n).foreach { v =>
      val c = compOf(v)
      minOf.get(c) match {
        case Some(m) if ids(m) <= ids(v) => ()
        case _ => minOf(c) = v
      }
    }
    compMin = (0 until n).map(v => minOf(compOf(v))).toArray
    // shuffled edge order
    val arr = es.toArray
    for (i <- arr.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    src = arr.map(_._1); dst = arr.map(_._2)
    val sb = new java.lang.StringBuilder(arr.length * 18)
    sb.append("src,dst\n")
    arr.foreach { case (a, b) => sb.append(ids(a)).append(',').append(ids(b)).append('\n') }
    java.nio.file.Files.write(java.nio.file.Paths.get(edgesCsv), sb.toString.getBytes("UTF-8"))
    import env.spark.implicits._
    ids.toSeq.toDF("id").coalesce(1).write.parquet(nodesPq)
    expectedRank = powerIteration(n)
  }

  /** The engine's PageRank (no dangling redistribution) over the edge
    * list, in plain Scala. */
  private def powerIteration(n: Int): Array[Double] = {
    val deg = new Array[Double](n)
    src.foreach(s => deg(s) += 1)
    var rank = Array.fill(n)(1.0 / n)
    val teleport = (BigDecimal(1) - BigDecimal(damping.toString)).toDouble / n
    for (_ <- 0 until iterations) {
      val contrib = new Array[Double](n)
      var e = 0
      while (e < src.length) { contrib(dst(e)) += rank(src(e)) / deg(src(e)); e += 1 }
      rank = contrib.map(c => teleport + damping * c)
    }
    rank
  }

  def setup(): Unit = {
    generate()
    // warm-up: three ops. Op times fall for about six ops after JVM start
    // (on 4 cores: 12 s, 5.4, 4.8, 4.6, 4.1, 3.8 s) while the JIT
    // compiles the driver's planning and scheduling paths; two warm-ups
    // left the steep part in the window and its first op as the tail.
    (-3 until 0).foreach { i =>
      op(i)
      require(check(i), "graph_iterate: warm-up output check failed")
    }
  }

  def op(i: Int): Long = {
    val ctx = new EtlContext(env.spark)
    env.tracer.foreach(_.attach(ctx))
    val spec = env.span("spec.parse")(PipelineSpec.parse(pipeline))
    env.tracer.foreach(_.noteSpec(spec))
    val pr = env.span("engine.run")(Engine.run(ctx, spec))
    ranks = pr.collect().map(r => (r.getString(0), r.getDouble(1)))
    comps = ctx.captured("components").collect().map(r => (r.getString(0), r.getString(1)))
    env.tracer.foreach { t => t.noteContext(ctx); t.rowsOut(ranks.length + comps.length) }
    src.length.toLong
  }

  private lazy val index = ids.zipWithIndex.toMap

  def check(i: Int): Boolean = {
    var rk = ranks
    var cc = comps
    // one changed row: a rank on even ops, a component label on odd ones
    if (env.perturb && rk.nonEmpty) {
      if (i % 2 == 0) rk = rk.updated(0, (rk(0)._1, rk(0)._2 * 1.01))
      else cc = cc.updated(0, (cc(0)._1, cc(0)._1 + "x"))
    }
    val ccOk = cc.length == ids.length && cc.forall { case (id, c) =>
      index.get(id).exists(v => ids(compMin(v)) == c) }
    val prOk = rk.length == ids.length && rk.forall { case (id, r) =>
      index.get(id).exists { v =>
        val e = expectedRank(v)
        math.abs(r - e) <= rankTol * math.max(math.abs(e), 1e-300)
      }
    }
    if (!ccOk) System.err.println("[perfbench] graph_iterate: component labels differ from the planted components")
    if (!prOk) System.err.println("[perfbench] graph_iterate: pagerank differs from the power iteration")
    ccOk && prOk
  }
}
