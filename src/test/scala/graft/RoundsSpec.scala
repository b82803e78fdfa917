package graft

import graft.engine.{Engine, EtlContext}
import graft.spec.ComponentSpec

/** The round-cost contract of the iterative graph stages (BASELINE.md
  * § Round 19), checked on the public loud bound: a stage that needs `r`
  * rounds passes at `maxIter = r` and fails at `maxIter = r - 1` with a
  * message naming `maxIter`. The driver queries' graphs are planted
  * fixed-key structures, so their rounds hold at every scale; the
  * synthetic shapes check that rounds follow the diameter, never N. */
class RoundsSpec extends SparkSpec {
  import spark.implicits._

  private def ctxOf(edges: Seq[(Long, Long)]): EtlContext = {
    val ctx = new EtlContext(spark)
    ctx.addVertices(edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => (f"v$v%06d", "n")).toDF("id", "label"))
    ctx.addEdges(edges.map(e => (f"v${e._1}%06d", f"v${e._2}%06d", "e"))
      .toDF("src", "dst", "label"))
    ctx
  }

  private def run(edges: Seq[(Long, Long)], stage: String,
                  opts: Map[String, Any], maxIter: Int): Unit =
    Engine.transformers(stage)(ComponentSpec(stage, opts + ("maxIter" -> maxIter)),
      ctxOf(edges))(spark.emptyDataFrame).count()

  /** `stage` needs exactly `r` rounds on `edges`. */
  private def rounds(edges: Seq[(Long, Long)], stage: String, opts: Map[String, Any],
                     r: Int): Unit = {
    run(edges, stage, opts, r)
    val e = intercept[IllegalStateException](run(edges, stage, opts, r - 1))
    assert(e.getMessage.startsWith(s"$stage: no fixed point after maxIter=${r - 1} rounds"),
      e.getMessage)
  }

  // ---- shapes
  private def cliques(n: Long): Seq[(Long, Long)] = // 4-cliques: diameter 1
    (0L until n).flatMap(a => (a + 1 until (a / 4) * 4 + 4).map(b => (a, b)))
  private def path(len: Long): Seq[(Long, Long)] = (0L until len).map(k => (k, k + 1))
  private def cycles4(n: Long): Seq[(Long, Long)] = // directed 4-cycles
    (0L until n).map(a => (a, (a / 4) * 4 + (a % 4 + 1) % 4))
  private def cycle(len: Long): Seq[(Long, Long)] = (0L until len).map(k => (k, (k + 1) % len))

  // the planted graphs of graph_kcore / graph_coreness (cliques [0,200),
  // pairs [200,500), path [500,514], cycle [1000,1040]), graph_scc
  // (4-cycles on [0,160) plus report edges to 0), topo_sort (+1/+3 chain
  // on [0,13), +2 chains on [100,124)) and graph_cc (customers → 25
  // nations → 5 regions)
  private val kcoreMix = cliques(200) ++ (200L until 500 by 2).map(k => (k, k + 1)) ++
    (500L until 514).map(k => (k, k + 1)) ++
    (1000L until 1040).map(k => (k, k + 1)) :+ (1000L, 1040L)
  private val sccDriver = cycles4(160) ++ (4L until 160 by 4).map(k => (k, 0L))
  private val topoDriver = (0L until 12).map(k => (k, k + 1)) ++
    (0L until 10).map(k => (k, k + 3)) ++ (100L until 122).map(k => (k, k + 2))
  private val ccDriver = (0L until 25).map(n => (100 + n, 200 + n % 5)) ++
    (0L until 100).map(c => (c, 100 + c % 25))

  test("planted driver graphs: kcore k=2 8, coreness 12, scc 9, toposort 13 rounds") {
    rounds(kcoreMix, "kcore", Map("k" -> 2), 8)
    rounds(kcoreMix, "kcore", Map("mode" -> "coreness"), 12)
    rounds(sccDriver, "scc", Map.empty, 9)
    rounds(topoDriver, "toposort", Map.empty, 13)
  }

  test("planted driver graph: cc finishes its remainder on the driver, one round") {
    // the star contraction leaves a remainder under localFinishEdges, so
    // no distributed round draws on the bound: 1 passes, and so does 0
    run(ccDriver, "connectedcomponents", Map.empty, 1)
    run(ccDriver, "connectedcomponents", Map.empty, 0)
  }

  test("N x16 at a fixed diameter: clique-forest kcore 1 -> 1, 4-cycle scc 4 -> 4") {
    for (n <- Seq(512L, 8192L)) {
      rounds(cliques(n), "kcore", Map("k" -> 3), 1)
      rounds(cycles4(n), "scc", Map.empty, 4)
    }
  }

  test("diameter x4 (L 16 -> 64): path kcore 8 -> 32, chain toposort 17 -> 65, cycle scc 16 -> 64") {
    for ((len, kcore, topo, scc) <- Seq((16L, 8, 17, 16), (64L, 32, 65, 64))) {
      rounds(path(len), "kcore", Map("k" -> 2), kcore)
      rounds(path(len), "toposort", Map.empty, topo)
      rounds(cycle(len), "scc", Map.empty, scc)
    }
  }
}
