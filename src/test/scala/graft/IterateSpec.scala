package graft

import graft.spec.ComponentSpec
import graft.stages.{Iterate, Stages}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import scala.jdk.CollectionConverters._

/** The round-loop contract ([[Iterate]]): observed checkpoints, budgets,
  * checkpoint positions, and that no loop outside the module manages its
  * own AQE scope, pin or observed checkpoint. */
class IterateSpec extends SparkSpec {
  import QueryMeter.jobsOf
  import spark.implicits._

  private def withAqe[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, prev)
  }

  for (reliable <- Seq(false, true); aqe <- Seq(true, false)) {
    val mode = if (reliable) "checkpointDir" else "localCheckpoint"
    val aqeMode = if (aqe) "on" else "off"
    test(s"observed checkpoint: the count rides the $mode job, AQE $aqeMode") {
      val opts: Map[String, Any] =
        if (reliable) Map("checkpointDir" ->
          java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
        else Map.empty
      val ckpt = Stages.checkpointerOf(ComponentSpec("x", opts), newCtx())
      withAqe(aqe) {
        var out: (DataFrame, Long) = null
        val t0 = System.nanoTime()
        val jobs = jobsOf(spark) {
          out = Iterate.counted(ckpt, spark.range(0, 1000, 1, 4).toDF("id"))
        }
        // the 60 s fallback would re-aggregate on a second job
        assert((System.nanoTime() - t0) / 1e9 < 20.0)
        assert(jobs == 1)
        assert(out._2 == 1000L && out._1.count() == 1000L)
        // with a shuffle in the plan, observing adds no job to the
        // checkpoint's own
        def grouped = spark.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("k")).count()
        val plain = jobsOf(spark) { ckpt(grouped) }
        val observed = jobsOf(spark) { out = Iterate.counted(ckpt, grouped) }
        assert(observed == plain)
        assert(out._2 == 10L)
      }
    }
  }

  test("release frees the blocks of a local checkpoint") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val (ckpted, n) = Iterate.counted(Iterate.localCheckpoint, spark.range(0, 100, 1, 4).toDF("id"))
    assert(n == 100L && (persisted -- before).size == 1)
    Iterate.release(ckpted)
    assert(persisted == before)
  }

  test("fixpoint: a loud budget spans calls and names its stage; a quiet cap stops silently") {
    val one = spark.range(1).toDF("id")
    val budget = Iterate.Budget.loud("demo", 3, "the hint")
    var rounds = 0
    def loop(until: Int): DataFrame = Iterate.fixpoint(one, budget)((s, _) => s) { r =>
      rounds += 1
      assert(r.count == 1L)
      r.index == until
    }
    loop(2)
    val e = intercept[IllegalStateException](loop(2))
    assert(e.getMessage == "demo: no fixed point after maxIter=3 rounds — the hint")
    assert(rounds == 3)
    var last = 0
    Iterate.fixpoint(one, Iterate.Budget.quiet(4))((s, _) => s) { r => last = r.index; false }
    assert(last == 4)
    // a quiet cap of 0 runs no round
    Iterate.fixpoint(one, Iterate.Budget.quiet(0))((_, _) => fail("no round expected"))(_ => true)
  }

  test("rounds: a checkpoint after every checkpointEvery-th round except the last") {
    def ckpts(n: Int, every: Int): Int = {
      var calls = 0
      Iterate.rounds(spark.range(1).toDF("id"), n, every, { df => calls += 1; df })(identity)
      calls
    }
    assert(ckpts(7, 2) == 3) // after rounds 2, 4, 6
    assert(ckpts(6, 2) == 2) // the 6th is the last
    assert(ckpts(5, 5) == 0)
    assert(ckpts(7, 0) == 0)
  }

  test("connectedcomponents: distributed rounds fail loudly at maxIter") {
    val ctx = newCtx()
    ctx.addEdges((1 to 64).map(i => (f"p$i%02d", f"p${i + 1}%02d"))
      .toDF("src", "dst").withColumn("label", lit("e")))
    def cc(opts: Map[String, Any]) = graft.graph.GraphStages.connectedComponentsStage(
      ComponentSpec("connectedcomponents", opts), ctx)(spark.emptyDataFrame)
      .as[(String, String)].collect()
    val e = intercept[IllegalStateException](
      cc(Map("localFinishEdges" -> 0, "maxIter" -> 2)))
    assert(e.getMessage == "connectedcomponents: no fixed point after maxIter=2 " +
      "rounds — labels still changing — raise maxIter (pointer jumping needs " +
      "O(log diameter) rounds)")
    // the default bound converges to one component labelled by its minimum
    val comps = cc(Map("localFinishEdges" -> 0))
    assert(comps.length == 65 && comps.map(_._2).toSet == Set("p01"))
  }

  test("withoutAqe, pinByKey and ckptObserve are called only inside Iterate") {
    val call = """\b(withoutAqe|pinByKey|ckptObserve)\s*[\[(]""".r
    val hits = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator.asScala.filter(_.toString.endsWith(".scala"))
      .filter(p => call.findFirstIn(java.nio.file.Files.readString(p)).isDefined)
      .map(_.toString).toSet
    assert(hits == Set("src/main/scala/graft/stages/Iterate.scala"))
  }
}
