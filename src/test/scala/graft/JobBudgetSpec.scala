package graft

import graft.spec.ComponentSpec
import org.apache.spark.sql.functions.lit

/** Job budgets of the iterative family: every Spark job one stage run
  * costs (plan build with its eager checkpoints, plus one `collect` of
  * the result) on fixed tiny graphs, after one warm-up run. Each budget
  * is an upper bound, so a new per-round barrier fails here instead of
  * waiting for a bench run. */
class JobBudgetSpec extends SparkSpec {
  import QueryMeter.jobsOf // suites run one at a time, so every job counted is the body's
  import spark.implicits._

  // two directed cycles joined by a path, plus a detached edge: every
  // loop runs several rounds, and CC's star contraction leaves edges
  private val graph = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
    ("d", "e"), ("e", "f"), ("f", "g"), ("g", "h"), ("h", "i"), ("i", "j"),
    ("j", "h"), ("x", "y"))
  private val dag = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
    ("d", "e"), ("e", "f"))

  private def stageJobs(edges: Seq[(String, String)], stage: String,
                        opts: Map[String, Any]): Int = {
    val ctx = newCtx()
    ctx.addEdges(edges.toDF("src", "dst").withColumn("label", lit("e")))
    jobsOf(spark)(graft.engine.Engine.transformers(stage)(ComponentSpec(stage, opts), ctx)(
      spark.emptyDataFrame).collect())
  }

  private val budgets: Seq[(String, () => Int, Int)] = Seq(
    ("pagerank", () => stageJobs(graph, "pagerank",
      Map("iterations" -> 7, "checkpointEvery" -> 2)), 23),
    ("labelprop", () => stageJobs(graph, "labelprop",
      Map("iterations" -> 7, "checkpointEvery" -> 2)), 20),
    ("bfs", () => stageJobs(graph, "bfs", Map("source" -> "a")), 24),
    ("shortestpaths", () => stageJobs(graph, "shortestpaths", Map("source" -> "a")), 41),
    ("toposort", () => stageJobs(dag, "toposort", Map.empty), 20),
    ("kcore core", () => stageJobs(graph, "kcore", Map("k" -> 2)), 8),
    ("kcore coreness", () => stageJobs(graph, "kcore", Map("mode" -> "coreness")), 19),
    ("scc", () => stageJobs(graph, "scc", Map.empty), 135),
    ("connectedcomponents local finish",
      () => stageJobs(graph, "connectedcomponents", Map.empty), 10),
    ("connectedcomponents distributed rounds",
      () => stageJobs(graph, "connectedcomponents", Map("localFinishEdges" -> 0)), 20),
    ("gremlin repeat().until()", () => {
      val ctx = newCtx()
      ctx.addVertices(Seq(("n1", "p"), ("n2", "p"), ("n3", "p"), ("n4", "city"))
        .toDF("id", "label"))
      ctx.addEdges(Seq(("n1", "n2"), ("n2", "n3"), ("n3", "n4"))
        .toDF("src", "dst").withColumn("label", lit("next")))
      val script = "g.V().has('id', 'n1').repeat(out('next')).until(hasLabel('city'))"
      jobsOf(spark)(graft.stages.Stages.command(
        ComponentSpec("command", Map("command" -> script)), ctx)(spark.emptyDataFrame)
        .collect())
    }, 10), // three eager rounds: 13 before their drain check rode the checkpoint
    // one stream_upsert micro-batch: a one-key delta into an 8-bucket table
    ("bucketed upsert", () => jobsOf(spark)(graft.loaders.Loaders.upsertDelta(newCtx(),
      bucketedSpec, Seq((7L, "UPDATED")).toDF("id", "v")): Unit), 4))

  private lazy val bucketedSpec = {
    val spec = ComponentSpec("parquet", Map("mode" -> "upsert", "key" -> "id", "buckets" -> 8,
      "path" -> (java.nio.file.Files.createTempDirectory("graft_budget_upsert").toString + "/t")))
    graft.loaders.Loaders.upsertDelta(newCtx(), spec, (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v"))
    spec
  }

  for ((name, run, budget) <- budgets)
    test(s"job budget: $name") {
      run() // a first run may pay one-off jobs
      val jobs = run()
      assert(jobs <= budget, s"$name: $jobs jobs, budget $budget")
    }
}
