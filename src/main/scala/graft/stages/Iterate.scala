package graft.stages

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.Blocks
import org.apache.spark.sql.functions.{col, count, lit, when}

/** The round-loop contract of the iterative operators (pagerank,
  * labelprop, bfs, shortestpaths, toposort, kcore, scc, connected
  * components, Gremlin `repeat().until()`): the one way to write a loop
  * that steps outside the engine's one-lazy-plan model.
  *
  *  - **Round state is a checkpointed frame, never a lazy cache.** An
  *    eager checkpoint truncates the logical lineage each round (a
  *    self-referencing round would otherwise grow the plan per round —
  *    4^rounds nodes for CC's pointer jumping). A lazily persisted frame
  *    read twice inside one round races under AQE-off: the whole DAG is
  *    submitted at once and both readers compute its upstream
  *    concurrently (`OPTIMIZATION_r19.md` § "connectedComponents —
  *    investigated, second change REVERTED"). Fusing K rounds into one
  *    plan per checkpoint doubles the plan per fused round (batch=8 took
  *    74.8 s, § "Iterative graph family").
  *  - **Loops run AQE-off at a data-derived partition count** ([[Scope]]).
  *    AQE turns every exchange of every per-round checkpoint into its own
  *    materialization job (90–139 jobs for 2–5 task-seconds on the graph
  *    stages); inside a round the plan shape is fixed, so adaptive
  *    re-planning buys nothing and each extra job is a barrier whose
  *    latency survives at cluster scale. One-shot plans around the loop
  *    (edge-list builds, pair generators) keep AQE. The count comes from
  *    the loop's first (AQE-sized) checkpoint: 1–2 partitions on a laptop
  *    fixture, hundreds on a cluster.
  *  - **Convergence rides the checkpoint job** ([[fixpoint]]): the
  *    round's row count is a `Dataset.observe` on the checkpoint itself,
  *    so a round is one job, not checkpoint + probe (§ "Iterative loops
  *    family — convergence probes ride the checkpoint").
  *  - **The bound** ([[Budget]]) is either loud — at the cap the stage
  *    fails, naming `maxIter`, because a wrong fixed point is worse than
  *    a stop — or quiet, for caps that are part of the operator's
  *    meaning (bfs `maxHops`, Gremlin's implicit 12). */
object Iterate {

  /** The default lineage truncation: eager `localCheckpoint` into the
    * block manager ([[Stages.checkpointerOf]] switches to a reliable
    * checkpoint when a stage sets `checkpointDir`). */
  val localCheckpoint: DataFrame => DataFrame = _.localCheckpoint(eager = true)

  /** A round budget, shareable across [[fixpoint]] calls (kcore's
    * coreness levels and scc's closure passes draw on one budget). */
  final class Budget private (cap: Int, overrun: Option[String]) {
    private var used = 0
    /** Claims the next round: false once a quiet cap is reached; a loud
      * budget throws instead. */
    private[Iterate] def claim(): Boolean = {
      if (used >= cap) overrun.foreach(m => throw new IllegalStateException(m))
      used += 1
      used <= cap
    }
  }

  object Budget {
    /** Fails with "<stage>: no fixed point after maxIter=N rounds —
      * <hint>" when a round past `maxIter` is needed. */
    def loud(stage: String, maxIter: Int, hint: String): Budget =
      new Budget(maxIter,
        Some(s"$stage: no fixed point after maxIter=$maxIter rounds — $hint"))
    /** Stops the loop quietly after `cap` rounds. */
    def quiet(cap: Int): Budget = new Budget(cap, None)
  }

  /** The AQE-off scope of a loop at `parts` shuffle partitions; `frame`
    * is the loop's (possibly pinned) checkpointed input. */
  final class Scope private[Iterate] (val frame: DataFrame, parts: Int) {
    def apply[T](body: => T): T = withoutAqe(frame.sparkSession, parts)(body)
  }

  /** Checkpoints `ckpted` (already checkpointed once, under AQE) a second
    * time, hash-partitioned and sorted on `key` at the partition count
    * the first checkpoint materialized. The explicit count survives into
    * the LogicalRDD's outputPartitioning (an AQE-coalesced exchange
    * reports none), so each round's join on `key` reads the frame
    * co-partitioned and pre-sorted instead of re-exchanging it. */
  def pinned(ckpt: DataFrame => DataFrame, ckpted: DataFrame, key: String): Scope = {
    val parts = partitionsOf(ckpted)
    new Scope(ckpt(ckpted.repartition(parts, col(key)).sortWithinPartitions(key)), parts)
  }

  /** The scope at `ckpted`'s partition count, without a pin — for loops
    * whose joins alternate keys, so no single partitioning serves them. */
  def sized(ckpted: DataFrame): Scope = new Scope(ckpted, partitionsOf(ckpted))

  /** One finished round: its 1-based index, the checkpointed state and
    * how many of its rows hold the loop's `counting` condition. */
  final case class Round(index: Int, state: DataFrame, count: Long)

  /** Runs rounds until `stop` holds or the budget ends. Round `i` builds
    * `step(state, i)` and checkpoints it, counting the rows where
    * `counting` holds on the same job, and hands the [[Round]] to
    * `stop`. Returns the last state. */
  def fixpoint(state0: DataFrame, budget: Budget,
               ckpt: DataFrame => DataFrame = localCheckpoint,
               counting: Column = lit(true))(step: (DataFrame, Int) => DataFrame)(
               stop: Round => Boolean): DataFrame = {
    var state = state0
    var i = 1
    var done = false
    while (!done && budget.claim()) {
      val (next, n) = ckptObserve(ckpt, step(state, i), count(when(counting, 1)))
      state = next
      done = stop(Round(i, next, n))
      i += 1
    }
    state
  }

  /** Exactly `n` rounds of `step`, checkpointing the state after every
    * `checkpointEvery`-th round except the last (`<= 0`: never). For
    * loops whose lineage grows linearly (each state read once per
    * round), where a checkpoint per round would only add jobs. */
  def rounds(state0: DataFrame, n: Int, checkpointEvery: Int = 0,
             ckpt: DataFrame => DataFrame = localCheckpoint)(
             step: DataFrame => DataFrame): DataFrame =
    (0 until n).foldLeft(state0) { (state, i) =>
      val next = step(state)
      if (checkpointEvery > 0 && i % checkpointEvery == checkpointEvery - 1 && i != n - 1)
        ckpt(next)
      else next
    }

  /** Checkpoints `df` and counts its rows on the same job. */
  def counted(ckpt: DataFrame => DataFrame, df: DataFrame): (DataFrame, Long) =
    ckptObserve(ckpt, df, count(lit(1)))

  /** Frees the blocks behind a [[localCheckpoint]]ed frame once nothing
    * reads it any more (non-blocking); the frame cannot be read after. */
  def release(ckpted: DataFrame): Unit = ckpted.queryExecution.logical.foreach {
    case r: LogicalRDD => Blocks.release(r.rdd)
    case _ => ()
  }

  private def partitionsOf(df: DataFrame): Int = math.max(df.rdd.getNumPartitions, 1)

  /** Runs `body` with AQE off and `shufflePartitions` shuffle partitions,
    * restoring both afterwards (exception-safe). */
  private def withoutAqe[T](spark: SparkSession, shufflePartitions: Int)(body: => T): T = {
    val aqeKey = "spark.sql.adaptive.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    val prevAqe = spark.conf.get(aqeKey, "true")
    val prevSp = spark.conf.get(spKey, "200")
    spark.conf.set(aqeKey, "false")
    spark.conf.set(spKey, shufflePartitions.toString)
    try body finally {
      spark.conf.set(aqeKey, prevAqe)
      spark.conf.set(spKey, prevSp)
    }
  }

  /** Eager-checkpoints `df` while computing the count aggregate `metric`
    * on the materialization job via `Dataset.observe`. If the observed
    * row does not surface it is re-aggregated over the checkpointed
    * blocks (one extra job): correctness never depends on the listener. */
  private def ckptObserve(ckpt: DataFrame => DataFrame, df: DataFrame,
                          metric: Column): (DataFrame, Long) = {
    val obs = Observation()
    val out = ckpt(df.observe(obs, metric))
    val row =
      try scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(60, "s"))
      catch {
        case _: java.util.concurrent.TimeoutException => out.agg(metric).head()
      }
    (out, row.getLong(0))
  }
}
