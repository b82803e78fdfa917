package graft.similarity

import graft.engine.EtlContext
import graft.spec.ComponentSpec
import graft.stages.Stages
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`) — builder
  * brief / SURVEY.md §7.2 step 10. Fixture: `embeddings(vec_id,
  * embedding, label)`.
  *
  * Two paths:
  *  - [[topk]] — brute-force cosine top-k: the QUERY side is broadcast
  *    (bounded by `maxBroadcastRows`, loud past it), so the base table
  *    never shuffles; one pass over base × |Q| with codegen'd HOF
  *    arithmetic, then a per-query top-k aggregate. In queryTable mode
  *    the roles FLIP automatically when the query batch outgrows the
  *    cap but the frozen index fits (broadcast whichever side is
  *    smaller); both sides over the cap fails loud naming
  *    `similarityivf` as the migration.
  *  - [[lshTopk]] — the scale path: signed-random-projection (SRP) LSH
  *    buckets both sides on sign-bit bands; candidates come from bucket
  *    equi-joins (never all-pairs), then exact cosine re-ranks.
  *
  * All vector math is `zip_with`/`aggregate` over the array column —
  * per-row, no UDF, no collect.
  */
object SimilarityStages {

  /** Dot product of two numeric array columns (double math) — the
    * native codegen'd [[graft.functions.ArrayDot]]; callers register it
    * via [[graft.functions.VectorExpressions.ensure]] (the stages do). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.arrayDot(a, b)

  /** HOF reference form of [[dot]] — kept for differential tests. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      coalesce(x.cast("double"), lit(0.0)) * coalesce(y.cast("double"), lit(0.0))),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Spread an under-parallel frame across the cluster before a
    * compute-heavy expansion (N×Q scoring, bucket self-join). Two cases
    * this guards:
    *  - a base small enough to sit in one file runs its whole expansion
    *    on ONE task (the scan's partitioning is inherited);
    *  - AQE coalesces a BYTE-tiny pre-join shuffle to ~1 partition, but
    *    the join EXPANDS those rows quadratically — bytes at the
    *    exchange are the wrong signal for compute after it. An explicit
    *    keyed repartition is exempt from AQE coalescing.
    *
    * KEYED inputs (the bucket joins) repartition UNCONDITIONALLY: the
    * banded stream is ids-only (3 longs/row), so the exchange is cheap
    * at any scale, and probing the runtime partition count via
    * `df.rdd` would EXECUTE every upstream AQE stage at plan-build time
    * (getFinalPhysicalPlan materializes the exchanges) — the skew-guard
    * configs would run their scan+agg twice. Key-less inputs only probe
    * the partition count when the ANALYZED PLAN is verifiably a
    * scan/projection chain (no exchange-introducing node anywhere — AQE
    * doesn't even wrap exchange-free plans, so `df.rdd` builds the DAG
    * without running a job); any other shape repartitions
    * unconditionally rather than risk plan-time execution. */
  private[graft] def spread(df: DataFrame, keys: Seq[Column] = Nil): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (keys.nonEmpty) df.repartition(par, keys: _*)
    else if (!exchangeFree(df.queryExecution.analyzed)) df.repartition(par)
    else if (df.rdd.getNumPartitions >= par) df
    else df.repartition(par)
  }

  /** True iff every node of `plan` is from the narrow scan-side
    * whitelist — i.e. executing it can introduce no exchange, so
    * building its RDD lineage cannot trigger AQE stage execution.
    * Anything not whitelisted (join, aggregate, window, sort,
    * repartition, …) counts as exchange-bearing. */
  private def exchangeFree(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan.find { node =>
      val nodeOk = node match {
        case _: LeafNode | _: Project | _: Filter | _: SubqueryAlias |
             _: Generate | _: Union | _: SerializeFromObject |
             _: DeserializeToObject | _: MapPartitions | _: TypedFilter => true
        case _ => false
      }
      // a scalar/IN subquery inside a whitelisted Filter/Project is its
      // own plan: AQE wraps the query and toRdd would EXECUTE the
      // subquery stage — treat it as exchange-bearing
      val hasSubquery = node.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
      !nodeOk || hasSubquery
    }.isEmpty
  }

  def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Per-query top-k over scored `(q_id, n_id, cosine)` rows via the
    * bounded-heap aggregate ([[graft.functions.TopKByScore]]): map-side
    * partial top-k reduces each task's slice to ≤ k pairs per query
    * BEFORE the shuffle — O(Q·k·tasks) through the exchange instead of
    * the window form's O(N·Q) shuffle-and-sort. Output ordering and id
    * tie-breaks identical to `row_number() OVER (ORDER BY cosine DESC,
    * n_id ASC)` (asserted in specs + the driver oracle). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    scored.schema("n_id").dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        // scale path: bounded-heap partial aggregate (codegen'd TopKByScore)
        // — only O(Q·k) structs cross the exchange. The aggregate's update
        // path reads LONG ids, so narrower integrals widen losslessly here
        scored.groupBy("q_id")
          .agg(graft.functions.VectorExpressions.topK(
            col("cosine"), col("n_id").cast("long"), k).as("__top"))
          .select(col("q_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
          .select(col("q_id"), col("__e.id").as("n_id"),
            (col("__pos") + 1).cast("int").as("rank"),
            col("__e.score").as("cosine"))
      case _ =>
        // non-integral ids (e.g. string doc keys): same ordering contract
        // (score desc, id asc) via a per-query window — shuffles the full
        // candidate set, so integral ids remain the 100 TB-preferred form
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("cosine").desc, col("n_id").asc)
        scored.withColumn("rank", row_number().over(w).cast("int"))
          .where(col("rank") <= k)
          .select("q_id", "n_id", "rank", "cosine")
    }
  }

  /** Default ceiling on the BROADCAST side of the brute-force scoring
    * join: 1M vector rows (at a 128-dim float embedding ≈ 600 MB as the
    * broadcast's row payload) — past it the broadcast build is the
    * failure mode at scale (driver OOM / executor fetch death), so the
    * stage fails LOUD with a migration path instead. Spec-overridable
    * via `maxBroadcastRows`. */
  val DefaultMaxBroadcastRows: Long = 1000000L

  /** Brute-force cosine top-k: for each query row, the `k` nearest base
    * rows (excluding itself). Ties break on ascending neighbour id.
    *
    * The QUERY side broadcasts by default so the base never shuffles
    * for scoring; the only exchange is the Q×k-sized top-k aggregation.
    * The broadcast side is GUARDED (`maxBroadcastRows`): in queryTable
    * mode (`allowFlip`) the query batch is the axis that grows with
    * data scale, so when it outgrows the cap the roles FLIP — the base
    * (frozen index) broadcasts and the query batch streams; same scored
    * pairs, same ranking, identical output. When BOTH sides exceed the
    * cap no broadcast plan is safe and the stage fails loud, naming
    * `similarityivf queryTable` as the migration. The role decision
    * never needs exact cardinalities — only "does this side fit the
    * cap" — so both probes are LIMIT-BOUNDED count jobs
    * (`limit(cap + 1).count()`: per-partition LocalLimits short-circuit
    * the upstream after ~cap rows, so an expensive upstream pipeline is
    * never fully executed twice at plan-build time — the one-lazy-plan
    * engine contract bends by at most cap rows of work, r19 review).
    * `queryRowsHint` lets a caller with a static bound (an explicit
    * queryIds list) skip even that. */
  def topk(queries: DataFrame, base: DataFrame, idCol: String, vecCol: String,
           k: Int, excludeSelf: Boolean = true,
           maxBroadcastRows: Long = DefaultMaxBroadcastRows,
           allowFlip: Boolean = false,
           queryRowsHint: Option[Long] = None): DataFrame = {
    graft.functions.VectorExpressions.ensure(queries.sparkSession)
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
    val b = base.select(col(idCol).as("n_id"), col(vecCol).as("__bv"))
      .withColumn("__bn", norm(col("__bv")))
    // self-exclusion only makes sense when query and base ids share a
    // namespace (same-table search); a CROSS-TABLE search must not drop
    // coincidentally-equal ids
    val cond = if (excludeSelf) col("q_id") =!= col("n_id") else lit(true)
    // "fits the cap?" via a limit-bounded probe: at most cap+1 rows of
    // the upstream execute at plan-build time, never the full pipeline
    def fitsCap(side: DataFrame): Boolean =
      side.select(lit(1).as("__one"))
        .limit((maxBroadcastRows + 1).min(Int.MaxValue.toLong).toInt)
        .count() <= maxBroadcastRows
    val qFits = queryRowsHint.map(_ <= maxBroadcastRows)
      .getOrElse(fitsCap(queries))
    val scored =
      if (qFits) {
        // the N×Q scoring pass inherits the base's partitioning
        // (broadcast join adds none) — see [[spread]]
        spread(b).join(broadcast(q), cond)
      } else if (!allowFlip) {
        throw new IllegalArgumentException(
          s"similarity: the query side exceeds maxBroadcastRows=" +
          s"$maxBroadcastRows and every row is a query — restrict the " +
          "query set (queryIds/queryFilter), raise maxBroadcastRows, or " +
          "migrate to `similarityivf` (bucketed probes, no broadcast)")
      } else if (!fitsCap(base)) {
        throw new IllegalArgumentException(
          s"similarity: both sides exceed maxBroadcastRows=$maxBroadcastRows " +
          "— no broadcast plan is safe at this scale; migrate to " +
          "`similarityivf` with queryTable (cell-bucketed probe join, " +
          "codes not vectors on the exchange)")
      } else {
        // role flip: the frozen index is the small side (it fits the
        // cap, the query batch does not) — broadcast it and stream the
        // query batch (same pairs, same rankTopK contract)
        spread(q).join(broadcast(b), cond)
      }
    rankTopK(scored.select(col("q_id"), col("n_id"),
      cosine(col("__qv"), col("__bv"), col("__qn"), col("__bn")).as("cosine")), k)
  }

  /** `similarity` transformer — brute-force top-k. Options: `idField`
    * (default vec_id), `field` (default embedding), `k` (default 10),
    * `queryIds` (optional list restricting the query side; default: all
    * rows are queries — use `queryFilter` SQL for a predicate).
    *
    * `queryTable` (table name or SELECT, optional): CROSS-TABLE search
    * — queries come from another table (e.g. fresh documents searching
    * a reference corpus) instead of the stream itself.
    * `queryIdField`/`queryVecField` default to `idField`/`field`;
    * `queryFilter` applies to the query table BEFORE renaming.
    * Self-exclusion is disabled (ids live in different namespaces). */
  def similarity(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "vec_id")
      val vec = spec.strOr("field", "embedding")
      val k = spec.int("k", 10)
      val maxBc = spec.long("maxBroadcastRows").getOrElse(DefaultMaxBroadcastRows)
      spec.str("queryTable") match {
        case Some(qt) =>
          val q0 = ctx.tableOrSql(qt)
          val qid = spec.strOr("queryIdField", id)
          val qv = spec.strOr("queryVecField", vec)
          Seq(qid, qv).foreach(c => require(q0.columns.contains(c),
            s"similarity: queryTable has no column '$c'"))
          val q1 = spec.str("queryFilter").map(q0.where).getOrElse(q0)
          // queryIds applies to the QUERY TABLE here — silently ignoring
          // it would top-k the whole table when a same-table config
          // migrates to queryTable
          val (q2, hint) = spec.strList("queryIds") match {
            case Nil => (q1, None)
            case ids => (q1.where(col(qid).isInCollection(ids.map(_.toLong))),
              Some(ids.length.toLong)) // static upper bound — skip the count
          }
          topk(q2.select(col(qid).as(id), col(qv).as(vec)),
            df, id, vec, k, excludeSelf = false,
            maxBroadcastRows = maxBc, allowFlip = true, queryRowsHint = hint)
        case None =>
          val (queries, hint) = spec.str("queryFilter") match {
            case Some(f) => (df.where(f), None)
            case None => spec.strList("queryIds") match {
              case Nil => (df, None)
              case ids => (df.where(col(id).isInCollection(ids.map(_.toLong))),
                Some(ids.length.toLong))
            }
          }
          topk(queries, df, id, vec, k,
            maxBroadcastRows = maxBc, queryRowsHint = hint)
      }
    }

  // ----------------------------------------------------------- SRP-LSH

  /** Deterministic Rademacher (±1) hyperplane matrix, computed ONCE on
    * the driver (split-mix over (plane, dim)) and shipped as literals —
    * the executors do pure multiply-add, no per-element hashing.
    * `maxDim` planes cover any vector ≤ that dimensionality; projections
    * ignore the tail beyond the vector's own length. */
  private def planeSigns(nBits: Int, maxDim: Int): Array[Array[Double]] =
    Array.tabulate(nBits, maxDim) { (p, j) =>
      var z = p.toLong * 0x9E3779B97F4A7C15L + j * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      if (((z ^ (z >>> 31)) & 1L) == 0L) 1.0 else -1.0
    }

  /** SRP signature: `nBits` sign bits of projections onto deterministic
    * ±1 hyperplanes, packed into a long — the native codegen'd
    * [[graft.functions.SrpSig]] (one plan node; the HOF form below
    * inlines nBits×dim literals, whose analysis/codegen cost dominates
    * the LSH operators at small scale). No shuffle, no runtime plane
    * generation; dimensions beyond either side's length contribute 0. */
  def srpSignature(vec: Column, nBits: Int, dim: Int = 64): Column =
    graft.functions.VectorExpressions.srpSig(vec, nBits, dim)

  /** HOF reference form of [[srpSignature]] — kept for differential
    * tests (the native expression must stay byte-identical). */
  def srpSignatureHof(vec: Column, nBits: Int, dim: Int = 64): Column = {
    val signs = planeSigns(nBits, dim)
    val bits = (0 until nBits).map { p =>
      val plane = array(signs(p).map(lit(_)): _*)
      val proj = aggregate(
        zip_with(vec, plane, (x, s) =>
          coalesce(x.cast("double"), lit(0.0)) * coalesce(s, lit(0.0))),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1L)).otherwise(lit(0L))
    }
    bits.zipWithIndex.map { case (b, i) => shiftleft(b, i) }
      .reduce(_ + _)
  }

  /** Uniform-density guard for the SRP band joins: with `2^bits`
    * buckets per band, N rows give ~`N/2^bits` rows per bucket EVEN
    * WITHOUT skew, and the band self-join generates ~`bands·N²/2^bits`
    * candidate pairs — at fixed nBits that grows QUADRATICALLY in N
    * (found by the 100× ScaleStress run: 200k vectors at 4 bits/band =
    * ~10¹⁰ candidates, GC death). [[graft.stages.BucketGuard]] does not
    * catch this case — no single bucket is an outlier when all of them
    * are overfull. Fail fast with the parameter rule instead; the
    * input-size probe is a bounded `limit(cap+1).count()`, not a full
    * count. `maxAvgBucket <= 0` opts out. */
  private def densityGuard(df: DataFrame, bits: Int, spec: ComponentSpec,
                           stage: String): Unit = {
    val maxAvgBucket = spec.int("maxAvgBucket", 2000)
    // bits >= 40 → over a trillion buckets: collisions are negligible at
    // any realistic N, and 1L << bits would overflow at 63+ — skip
    if (maxAvgBucket > 0 && bits < 40) {
      val cap = maxAvgBucket.toLong * (1L << bits)
      val got = df.limit((cap + 1).min(Int.MaxValue.toLong).toInt).count()
      require(got <= cap,
        s"$stage: input exceeds ${cap} rows = maxAvgBucket=$maxAvgBucket × " +
        s"2^$bits band buckets — every bucket would hold >$maxAvgBucket rows " +
        "and the band self-join goes quadratic in N. Raise nBits so " +
        s"nBits/bands >= log2(N/$maxAvgBucket), or raise maxAvgBucket " +
        "(<=0 disables) if the candidate volume is really intended.")
    }
  }

  /** `similaritylsh` transformer — bucketed approximate top-k: SRP
    * signature split into `bands` bit-blocks; candidates share a block
    * value; exact cosine re-ranks within candidates. Recall < 1 by
    * design (documented) — multiple bands trade shuffle volume for
    * recall. Options: idField/field/k plus `nBits` (default 16) and
    * `bands` (default 4). */
  def similarityLsh(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      graft.functions.VectorExpressions.ensure(ctx.spark)
      val id = spec.strOr("idField", "vec_id")
      val vec = spec.strOr("field", "embedding")
      val k = spec.int("k", 10)
      val nBits = spec.int("nBits", 16)
      val bands = spec.int("bands", 4)
      val bits = nBits / bands
      require(bands * bits == nBits, "similaritylsh: bands must divide nBits")
      densityGuard(df, bits, spec, "similaritylsh")

      val sigs = df.select(col(id).as("__id"), col(vec).as("__v"))
        .withColumn("__sig", srpSignature(col("__v"), nBits, spec.int("dim", 64)))
        .withColumn("__n", norm(col("__v")))
      // the bucket join carries IDs ONLY — attaching the vectors here
      // would ship 2·dim doubles through the quadratic join per
      // candidate and score the same pair once per shared band; instead
      // the distinct (q_id, n_id) pairs are scored ONCE after re-joining
      // the (linear-sized) vector table (same shape as minhash's
      // candidate verification)
      val banded0 = sigs.select(col("__id"),
        posexplode(array((0 until bands).map(bi =>
          shiftright(col("__sig"), bi * bits)
            .bitwiseAND(lit((1L << bits) - 1))): _*)).as(Seq("__blk", "__bkey")))
      // skew guard: a degenerate bucket goes O(bucket²) — cap + counter
      val banded = spread(Stages.guardBuckets(banded0, Seq("__blk", "__bkey"),
        spec, ctx, "similaritylsh"), Seq(col("__blk"), col("__bkey")))
      val l = banded.select(col("__blk"), col("__bkey"), col("__id").as("q_id"))
      val r = banded.select(col("__blk"), col("__bkey"), col("__id").as("n_id"))
      val pairs = l.join(r, Seq("__blk", "__bkey"))
        .where(col("q_id") =!= col("n_id"))
        .select("q_id", "n_id").distinct()
      val vecs = sigs.select(col("__id"), col("__v"), col("__n"))
      val cand = pairs
        .join(vecs.select(col("__id").as("q_id"), col("__v").as("__qv"),
          col("__n").as("__qn")), Seq("q_id"))
        .join(vecs.select(col("__id").as("n_id"), col("__v").as("__bv"),
          col("__n").as("__bn")), Seq("n_id"))
        .select(col("q_id"), col("n_id"),
          cosine(col("__qv"), col("__bv"), col("__qn"), col("__bn")).as("cosine"))
      rankTopK(cand, k)
    }

  /** `similarityivf` transformer — IVF-flat approximate top-k with a
    * TRAINED coarse quantizer: spherical k-means (`lloydIters` Lloyd's
    * rounds, default 3) over a bounded deterministic sample
    * (`trainRows`, default nCells·40) runs ON THE DRIVER — the codebook
    * is nCells×dim doubles, small by construction — and the resulting
    * centroids ship as literals; cell assignment is then a pure per-row
    * projection — score the nCells literal centroids with codegen'd dot
    * products and `array_sort` the (sim, cell) structs — so the base
    * table does NOT shuffle, join, or aggregate to find its cells (the
    * previous crossJoin + heap-agg form shuffled N×nCells rows with the
    * vectors in the GROUP KEY). Queries probe their `nProbe` nearest
    * cells and exact cosine re-ranks within the probed cells. The
    * classic IVF recall/work trade: candidates ≈ N·nProbe/nCells per
    * query, never all-pairs — and the trained codebook balances cell
    * populations, which raises recall at the same probe budget vs the
    * round-5 sampled-rows quantizer. Everything is deterministic: the
    * sample is hash-ordered with an id tie-break, argmax ties take the
    * lower cell, an emptied cell keeps its previous centroid. Options:
    * idField/field/k, `nCells` (default 16), `nProbe` (default 2),
    * `lloydIters`, `trainRows`; plus `queryTable` (table name or
    * SELECT) with `queryIdField`/`queryVecField`/`queryFilter` for
    * CROSS-TABLE search — the no-broadcast migration the brute
    * `similarity` stage's size guard points to when both sides outgrow
    * its broadcast cap. */
  def similarityIvf(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      graft.functions.VectorExpressions.ensure(ctx.spark)
      val id = spec.strOr("idField", "vec_id")
      val vec = spec.strOr("field", "embedding")
      val k = spec.int("k", 10)
      val nCells = spec.int("nCells", 16)
      val nProbe = spec.int("nProbe", 2)

      // no id-type restriction: since the trained-codebook rewrite the
      // training sample reads only the vector column and cell ids are
      // synthetic indices — `__id` flows through joins/groupBy untouched,
      // so string-id corpora work as-is (spec-covered)
      val lloydIters = spec.int("lloydIters", 3)
      val trainRows = spec.int("trainRows", nCells * 40)

      val base = spread(df.select(col(id).as("__id"), col(vec).as("__v"))
        .withColumn("__n", norm(col("__v")))) // N×nProbe expansion — see spread
      // CROSS-TABLE mode (`queryTable`): fresh queries probe a frozen
      // index built over the input stream — the IVF migration named by
      // the brute `similarity` stage's broadcast guard. NEITHER side
      // broadcasts: queries explode to their nProbe probed cells, base
      // rows carry their single argmax cell, and the two meet on a
      // linear cell equi-join — candidates ≈ |Q|·N·nProbe/nCells, never
      // |Q|·N. The coarse codebook trains on the BASE (the index side);
      // self-exclusion is off (different id namespaces).
      // `queryIdField`/`queryVecField` default to idField/field;
      // `queryFilter` applies to the query table before renaming.
      val queryFrame: Option[DataFrame] = spec.str("queryTable").map { qt =>
        val q0 = ctx.tableOrSql(qt)
        val qid = spec.strOr("queryIdField", id)
        val qv = spec.strOr("queryVecField", vec)
        Seq(qid, qv).foreach(c => require(q0.columns.contains(c),
          s"similarityivf: queryTable has no column '$c'"))
        val q1 = spec.str("queryFilter").map(q0.where).getOrElse(q0)
        spread(q1.select(col(qid).as("__id"), col(qv).as("__v"))
          .withColumn("__n", norm(col("__v"))))
      }
      // deterministic training sample: one bounded TakeOrdered job;
      // trainRows×dim doubles on the driver (float→double is exact)
      val sampleRows = df
        .select(col(id).as("__id"), col(vec).as("__v"))
        .where(col("__v").isNotNull) // a null vector cannot quantize
        .orderBy(xxhash64(col("__id")), col("__id")).limit(trainRows)
        .collect()
      if (sampleRows.isEmpty) {
        // empty input: empty (q_id, n_id, rank, cosine) result — q_id
        // keeps the query side's id type in cross-table mode
        queryFrame.getOrElse(base).select(col("__id").as("q_id")).where(lit(false))
          .crossJoin(base.select(col("__id").as("n_id")).where(lit(false)))
          .select(col("q_id"), col("n_id"),
            lit(1).cast("int").as("rank"), lit(0.0).as("cosine"))
      } else {
      val sample: Array[Array[Double]] = sampleRows.map { r =>
        r.getSeq[Any](1).map {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue
          case n: java.lang.Number => n.doubleValue
          case null => 0.0 // null elements contribute 0, as in ArrayDot
        }.toArray
      }
      val codebook = trainCodebook(sample, math.min(nCells, sample.length), lloydIters)
      // per-row: top-nProbe cells via the shared literal-centroid
      // scorer (natural-order sort, two-level pruning past FlatScanMax)
      val probedCol = cellScores("__v", col("__n"), codebook,
        nProbe, spec.int("coarseProbe", math.max(2, nProbe)))
      val pqM = spec.int("pqM", 0)
      if (queryFrame.isDefined) {
        val qf = queryFrame.get
        // base rows enter the cell join with their single argmax cell
        // (first entry of the probed ranking — no explode on the big
        // side); queries explode to all nProbe probed cells
        val baseCell = element_at(probedCol, 1).getField("cell")
        if (pqM <= 0) {
          val assigned = base
            .withColumn("__cell", baseCell)
            .select(col("__cell"), col("__id").as("n_id"),
              col("__v").as("__bv"), col("__n").as("__bn"))
          val probes = qf
            .withColumn("__probed", probedCol)
            .select(col("__id"), col("__v"), col("__n"),
              explode(col("__probed")).as("__ce"))
            .select(col("__ce.cell").as("__cell"), col("__id").as("q_id"),
              col("__v").as("__qv"), col("__n").as("__qn"))
          // pairs unique by construction: one cell per base row ×
          // distinct probed cells per query — straight into the
          // bounded-heap top-k aggregate, no dedup shuffle
          val cand = probes.join(assigned, Seq("__cell"))
            .select(col("q_id"), col("n_id"),
              cosine(col("__qv"), col("__bv"), col("__qn"), col("__bn")).as("cosine"))
          rankTopK(cand, k)
        } else {
          // IVF-PQ cross-table: the big (index) side ships pqM code
          // BYTES per row, never its vectors; each query precomputes
          // one ADC lookup table; the exact re-rank joins vectors back
          // by id over the O(|Q|·k·refine) shortlist only
          val dim = sample.map(_.length).max
          val pqK = spec.int("pqK", 16)
          val refine = math.max(1, spec.int("refine", 4))
          val pqIters = spec.int("pqIters", lloydIters)
          val pqCb = graft.functions.PQ.train(sample, dim, pqM, pqK, pqIters)
          import graft.functions.VectorExpressions.{pqEncode, pqLut, pqAdc}
          val rn = base
            .withColumn("__codes", pqEncode(col("__v"), pqCb, pqM, pqK))
            .withColumn("__cell", baseCell)
            .select(col("__cell"), col("__id").as("n_id"), col("__codes"))
          val lq = qf
            .withColumn("__lut", pqLut(col("__v"), pqCb, pqM, pqK))
            .withColumn("__probed", probedCol)
            .select(col("__id"), col("__lut"), explode(col("__probed")).as("__ce"))
            .select(col("__ce.cell").as("__cell"), col("__id").as("q_id"),
              col("__lut"))
          val approx = lq.join(rn, Seq("__cell"))
            .select(col("q_id"), col("n_id"),
              pqAdc(col("__lut"), col("__codes")).as("cosine"))
          val shortlist = rankTopK(approx, k * refine).select("q_id", "n_id")
          val vq = qf.select(col("__id").as("q_id"), col("__v").as("__qv"),
            col("__n").as("__qn"))
          val vn = base.select(col("__id").as("n_id"), col("__v").as("__bv"),
            col("__n").as("__bn"))
          val exactShort = shortlist.join(vn, Seq("n_id")).join(vq, Seq("q_id"))
            .select(col("q_id"), col("n_id"),
              cosine(col("__qv"), col("__bv"), col("__qn"), col("__bn")).as("cosine"))
          rankTopK(exactShort, k)
        }
      } else if (pqM <= 0) {
        val ranked = base
          .withColumn("__probed", probedCol)
          .select(col("__id"), col("__v"), col("__n"),
            posexplode(col("__probed")).as(Seq("__crank", "__ce")))
          .select(col("__id"), col("__v"), col("__n"),
            col("__ce.cell").as("__cell"), col("__crank"))
        val assigned = ranked.where(col("__crank") === 0) // base: 1 cell each
        val probes = ranked // queries: all nProbe probed cells

        val l = probes.select(col("__cell"), col("__id").as("q_id"),
          col("__v").as("__qv"), col("__n").as("__qn"))
        val r = assigned.select(col("__cell"), col("__id").as("n_id"),
          col("__v").as("__bv"), col("__n").as("__bn"))
        // (q, n) pairs are UNIQUE by construction — each base row sits in
        // exactly one cell (crank 0) and a query's probed cells are
        // distinct — so candidates flow straight into the bounded-heap
        // top-k partial aggregate; a (q_id, n_id) dedup here would be a
        // second full-candidate shuffle for nothing. Contract: ids are
        // unique (the ANN id-column convention everywhere in this file).
        val cand = l.join(r, Seq("__cell"))
          .where(col("q_id") =!= col("n_id"))
          .select(col("q_id"), col("n_id"),
            cosine(col("__qv"), col("__bv"), col("__qn"), col("__bn")).as("cosine"))
        rankTopK(cand, k)
      } else {
        // ===== IVF-PQ: the 100-TB ANN path =====
        // Base rows enter the cell join as (cell, id, m code BYTES) —
        // never their vectors — so the big side of the candidate
        // exchange shrinks from dim floats to pqM bytes per row (64-dim
        // float: 256 B → 8 B at the defaults). Queries precompute an
        // ADC lookup table once per row (pqM·pqK doubles — the standard
        // query/base asymmetry: bases outnumber queries at scale), and
        // each candidate scores with pqM array reads instead of dim
        // multiply-adds. The ADC shortlist (k·refine per query, ranked
        // by the bounded-heap top-k aggregate) re-attaches exact
        // vectors by id — two joins over O(Q·k·refine) rows — and exact
        // cosine picks the final k, so ADC error only costs RECALL
        // (shortlist misses), never returned-score accuracy. Training
        // is per-subspace Euclidean Lloyd's on the same bounded driver
        // sample as the coarse codebook ([[PQ.train]]); encoding and
        // LUTs are codegen'd per-row projections against the
        // plan-shipped codebook — zero extra shuffles over plain IVF.
        val dim = sample.map(_.length).max
        val pqK = spec.int("pqK", 16)
        val refine = math.max(1, spec.int("refine", 4))
        val pqIters = spec.int("pqIters", lloydIters)
        val pqCb = graft.functions.PQ.train(sample, dim, pqM, pqK, pqIters)
        import graft.functions.VectorExpressions.{pqEncode, pqLut, pqAdc}
        val ranked = base
          .withColumn("__lut", pqLut(col("__v"), pqCb, pqM, pqK))
          .withColumn("__codes", pqEncode(col("__v"), pqCb, pqM, pqK))
          .withColumn("__probed", probedCol)
          .select(col("__id"), col("__lut"), col("__codes"),
            posexplode(col("__probed")).as(Seq("__crank", "__ce")))
          .select(col("__id"), col("__lut"), col("__codes"),
            col("__ce.cell").as("__cell"), col("__crank"))
        val l = ranked.select(col("__cell"), col("__id").as("q_id"), col("__lut"))
        val r = ranked.where(col("__crank") === 0)
          .select(col("__cell"), col("__id").as("n_id"), col("__codes"))
        // unique pairs by the same crank-0 × distinct-probes argument as
        // the flat path — ADC scores feed the heap aggregate directly
        val approx = l.join(r, Seq("__cell"))
          .where(col("q_id") =!= col("n_id"))
          .select(col("q_id"), col("n_id"),
            pqAdc(col("__lut"), col("__codes")).as("cosine"))
        val shortlist = rankTopK(approx, k * refine).select("q_id", "n_id")
        val vq = base.select(col("__id").as("q_id"), col("__v").as("__qv"),
          col("__n").as("__qn"))
        val vn = base.select(col("__id").as("n_id"), col("__v").as("__bv"),
          col("__n").as("__bn"))
        val exactShort = shortlist.join(vn, Seq("n_id")).join(vq, Seq("q_id"))
          .select(col("q_id"), col("n_id"),
            cosine(col("__qv"), col("__bv"), col("__qn"), col("__bn")).as("cosine"))
        rankTopK(exactShort, k)
      }
      }
    }

  /** Spherical k-means on the driver: unit-normalize the sample, run
    * `iters` Lloyd's rounds (assign to argmax-cosine centroid, lower
    * index on ties; new centroid = re-normalized mean of its members; an
    * emptied cell keeps its previous centroid), starting from the first
    * `k` sample vectors. Fully deterministic for a given sample order.
    * Cost: O(iters · |sample| · k · dim) driver-side — bounded by the
    * `trainRows` contract, microseconds at defaults. */
  private[graft] def trainCodebook(sample: Array[Array[Double]], k: Int,
                                   iters: Int): Array[Array[Double]] = {
    def unit(v: Array[Double]): Array[Double] = {
      var s = 0.0; v.foreach(x => s += x * x)
      val n = math.sqrt(s)
      if (n == 0.0) v.clone() else v.map(_ / n)
    }
    val pts = sample.map(unit)
    var cents = pts.take(k).map(_.clone())
    for (_ <- 0 until iters) {
      val dim = cents.headOption.map(_.length).getOrElse(0)
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      pts.foreach { p =>
        var best = 0; var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < cents.length) {
          val cv = cents(c)
          var s = 0.0
          val m = math.min(p.length, cv.length)
          var i = 0
          while (i < m) { s += p(i) * cv(i); i += 1 }
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        val acc = sums(best)
        val m = math.min(p.length, acc.length)
        var i = 0
        while (i < m) { acc(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0L) cents(c) else unit(sums(c)))
    }
    cents
  }

  /** `cosinedup` transformer — embedding near-duplicate pairs: cosine >=
    * `threshold` (default 0.99) via the SRP bucket join (scale path).
    * Output (a, b, cosine). `exact: true` switches to the brute-force
    * all-pairs baseline (broadcast right side, `a < b` triangle) — the
    * oracle-checkable reference the LSH path's recall is measured
    * against; O(N²) compare, small-N verification only. */
  def cosineDup(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "vec_id")
      val vec = spec.strOr("field", "embedding")
      graft.functions.VectorExpressions.ensure(ctx.spark)
      val threshold = spec.str("threshold").map(_.toDouble).getOrElse(0.99)
      if (spec.bool("exact", dflt = false)) {
        // enforce the documented small-N contract: the right side is
        // broadcast whole, so an unbounded input would surface as a
        // broadcast-size/OOM error instead of a clear message
        val maxRows = spec.int("maxRows", 100000)
        val got = df.limit(maxRows + 1).count()
        require(got <= maxRows,
          s"cosinedup exact: input exceeds maxRows=$maxRows (all-pairs " +
          s"broadcast compare — pre-filter the input or use the LSH mode)")
        val base = df.select(col(id).as("__id"), col(vec).as("__v"))
          .withColumn("__n", norm(col("__v")))
        // spread the STREAMED side: the base usually sits in one scan
        // partition (one file at verification sizes), and a
        // BroadcastNestedLoopJoin's parallelism is exactly its streamed
        // side's partitioning — without this the whole N²/2 compare runs
        // on ONE task (r19, guide §2.5 input skew / idle capacity)
        val l = spread(base.select(col("__id").as("a"), col("__v").as("__av"),
          col("__n").as("__an")))
        val r = base.select(col("__id").as("b"), col("__v").as("__bv"),
          col("__n").as("__bn"))
        // threshold INSIDE the join condition: the BNLJ then emits only
        // surviving pairs instead of materializing all N²/2 joined rows
        // (two vector copies each) for a post-hoc filter (r19, guide
        // §2.3 — don't move bytes the decision doesn't need)
        val cos = cosine(col("__av"), col("__bv"), col("__an"), col("__bn"))
        l.join(broadcast(r), col("a") < col("b") && cos >= threshold)
          .select(col("a"), col("b"), cos.as("cosine"))
      } else {
        val nBits = spec.int("nBits", 16)
        val bands = spec.int("bands", 8)
        val bits = nBits / bands
        require(bands * bits == nBits, "cosinedup: bands must divide nBits")
        densityGuard(df, bits, spec, "cosinedup")
        val sigs = df.select(col(id).as("__id"), col(vec).as("__v"))
          .withColumn("__sig", srpSignature(col("__v"), nBits, spec.int("dim", 64)))
          .withColumn("__n", norm(col("__v")))
        // ids-only bucket join + distinct pairs BEFORE scoring (see
        // similaritylsh): the quadratic exchange carries 3 longs per
        // candidate instead of 2·dim doubles, and a pair sharing
        // several bands is scored once, not once per band
        val banded0 = sigs.select(col("__id"),
          posexplode(array((0 until bands).map(bi =>
            shiftright(col("__sig"), bi * bits)
              .bitwiseAND(lit((1L << bits) - 1))): _*)).as(Seq("__blk", "__bkey")))
        // skew guard: a degenerate bucket goes O(bucket²) — cap + counter
        val banded = spread(Stages.guardBuckets(banded0, Seq("__blk", "__bkey"),
          spec, ctx, "cosinedup"), Seq(col("__blk"), col("__bkey")))
        val l = banded.select(col("__blk"), col("__bkey"), col("__id").as("a"))
        val r = banded.select(col("__blk"), col("__bkey"), col("__id").as("b"))
        val pairs = l.join(r, Seq("__blk", "__bkey")).where(col("a") < col("b"))
          .select("a", "b").distinct()
        val vecs = sigs.select(col("__id"), col("__v"), col("__n"))
        pairs
          .join(vecs.select(col("__id").as("a"), col("__v").as("__av"),
            col("__n").as("__an")), Seq("a"))
          .join(vecs.select(col("__id").as("b"), col("__v").as("__bv"),
            col("__n").as("__bn")), Seq("b"))
          .select(col("a"), col("b"),
            cosine(col("__av"), col("__bv"), col("__an"), col("__bn")).as("cosine"))
          .where(col("cosine") >= threshold)
      }
    }

  /** Literal-centroid argmax assignment shared by [[kmeans]] and
    * [[semanticDedup]]: train a spherical codebook over a bounded
    * deterministic sample ([[trainCodebook]] on the driver — the IVF
    * quantizer's training path), ship the centroids as literals, and
    * assign every row per-row: `cluster` = argmax-cosine cell (lower
    * cell on ties), `centroid_sim` = that cosine. The base table never
    * shuffles, joins, or aggregates to get its cluster. Null vectors →
    * null cluster/sim. */
  private def trainFromSample(df: DataFrame, vec: String, idOrd: Column,
                              k: Int, lloydIters: Int,
                              trainRows: Int): Option[Array[Array[Double]]] = {
    val sampleRows = df.select(col(vec).as("__v"))
      .where(col("__v").isNotNull)
      .orderBy(xxhash64(col(vec).cast("string")), idOrd).limit(trainRows)
      .collect()
    if (sampleRows.isEmpty) None
    else {
      val sample: Array[Array[Double]] = sampleRows.map { r =>
        r.getSeq[Any](0).map {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue
          case n: java.lang.Number => n.doubleValue
          case null => 0.0
        }.toArray
      }
      Some(trainCodebook(sample, math.min(k, sample.length), lloydIters))
    }
  }

  /** Codebooks at or under this size score FLAT (every centroid per
    * row — exact argmax). Above it, assignment prunes through a
    * two-level coarse scan (see [[cellScores]]): the round-9 100×
    * stress caught flat assignment going super-linear (exp 1.46,
    * 207 s at 200k vectors, k=500) because per-row work is O(k) and
    * the scale-correct k grows with N. */
  private val FlatScanMax = 128

  /** Top-`need` cell scores of `vec` against the codebook, as an array
    * of `struct(sim, cell)` ordered (sim desc, cell asc) — the shared
    * per-row assignment projection under [[kmeans]], [[semanticDedup]]
    * and [[similarityIvf]]. Pure projection over LITERAL centroid
    * structures (constant-folded once per plan): no join, no shuffle.
    *
    * Execution: sims negate into `struct(negsim, cell)` so the sort is
    * the struct's NATURAL ascending order — native field-by-field
    * comparisons instead of an interpreted lambda comparator — and the
    * row's norm arrives precomputed (`normC`), once per row rather
    * than once per centroid; together roughly an order of magnitude
    * off the round-7 per-row constant at the same exact results.
    *
    * k > [[FlatScanMax]] additionally prunes TWO-LEVEL: the k
    * centroids are themselves clustered driver-side into ≈√k coarse
    * groups; a row scores the ≈√k coarse centroids, keeps its
    * `coarseProbe` nearest groups and scores only their member
    * centroids — O(√k) per-row work. The true argmax can live in an
    * unprobed group (the standard IVF coarse-quantizer trade; raise
    * `coarseProbe` to trade work for recall) — the driver recall
    * verdicts / SemProbe measure exactly this. */
  private def cellScores(vec: String, normC: Column,
                         codebook: Array[Array[Double]],
                         need: Int, coarseProbe: Int): Column = {
    def centStruct(cell: Int, cv: Array[Double]): Column = {
      var s = 0.0; cv.foreach(x => s += x * x)
      struct(lit(cell.toLong).as("cell"),
        array(cv.map(lit(_)).toIndexedSeq: _*).as("cv"),
        lit(math.sqrt(s)).as("cn"))
    }
    def scoreSorted(cands: Column, take: Int): Column = {
      val scored = transform(cands, c => struct(
        (-(dot(col(vec), c.getField("cv")) /
          (normC * c.getField("cn")))).as("negsim"),
        c.getField("cell").as("cell")))
      slice(array_sort(scored), 1, take) // natural: (negsim asc, cell asc)
    }
    def unNeg(arr: Column): Column = transform(arr, c => struct(
      (-c.getField("negsim")).as("sim"), c.getField("cell").as("cell")))
    val k = codebook.length
    if (k <= FlatScanMax || coarseProbe <= 0) {
      val centArr = array(codebook.zipWithIndex.map {
        case (cv, ci) => centStruct(ci, cv) }.toIndexedSeq: _*)
      unNeg(scoreSorted(centArr, need))
    } else {
      val g = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
      val coarseBook = trainCodebook(codebook.map(_.clone()), g, 3)
      def cosineOf(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length && i < b.length) {
          d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
        }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      // each centroid to its argmax coarse group (driver arithmetic —
      // k×g dots, trivially bounded); empty groups are dropped and the
      // remaining ones re-indexed so every probed group has members
      val membership: Array[Int] = codebook.map { cv =>
        var best = 0; var bestSim = Double.NegativeInfinity
        var gi = 0
        while (gi < coarseBook.length) {
          val s = cosineOf(cv, coarseBook(gi))
          if (s > bestSim) { bestSim = s; best = gi }
          gi += 1
        }
        best
      }
      val nonEmpty = (0 until coarseBook.length)
        .filter(gi => membership.contains(gi))
      val coarseArr = array(nonEmpty.zipWithIndex.map {
        case (gi, idx) => centStruct(idx, coarseBook(gi)) }.toIndexedSeq: _*)
      val groupsArr = array(nonEmpty.map { gi =>
        array(codebook.indices.filter(membership(_) == gi).map(ci =>
          centStruct(ci, codebook(ci))).toIndexedSeq: _*)
      }.toIndexedSeq: _*)
      val topCoarse = scoreSorted(coarseArr, math.min(coarseProbe, nonEmpty.length))
      val fineCands = flatten(transform(topCoarse, gc =>
        element_at(groupsArr, (gc.getField("cell") + 1).cast("int"))))
      unNeg(scoreSorted(fineCands, need))
    }
  }

  /** Centroid persistence (the BPE saveMerges/loadMerges pattern):
    * cluster one reference snapshot, export, apply verbatim later —
    * retraining per batch would renumber every cluster id. Format: one
    * centroid per line, comma-separated `Double.toString` components
    * (exact roundtrip). */
  private[graft] def writeCentroids(path: String, cb: Array[Array[Double]]): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p,
      cb.map(_.mkString(",")).mkString("\n").getBytes("UTF-8"))
  }

  private[graft] def readCentroids(path: String): Array[Array[Double]] = {
    val p = java.nio.file.Paths.get(path)
    require(java.nio.file.Files.exists(p),
      s"kmeans: loadCentroids file not found: $path")
    val cb = scala.jdk.CollectionConverters
      .ListHasAsScala(java.nio.file.Files.readAllLines(p)).asScala
      .filter(_.nonEmpty).map(_.split(",").map(_.toDouble)).toArray
    require(cb.nonEmpty, s"kmeans: loadCentroids file is empty: $path")
    require(cb.map(_.length).distinct.length == 1,
      s"kmeans: loadCentroids rows have mixed dimensions: $path")
    cb
  }

  private def assignClusters(df: DataFrame, vec: String, idOrd: Column,
                             k: Int, lloydIters: Int, trainRows: Int,
                             coarseProbe: Int = 2,
                             preloaded: Option[Array[Array[Double]]] = None,
                             savePath: Option[String] = None): DataFrame =
    preloaded.orElse {
      val trained = trainFromSample(df, vec, idOrd, k, lloydIters, trainRows)
      savePath.foreach(p => trained.foreach(writeCentroids(p, _)))
      trained
    } match {
      case None =>
        df.withColumn("cluster", lit(null).cast("long"))
          .withColumn("centroid_sim", lit(null).cast("double"))
      case Some(codebook) =>
        val tmpN = "__graft_assign_norm"
        val best = element_at(
          cellScores(vec, col(tmpN), codebook, 1, coarseProbe), 1)
        df.withColumn(tmpN, norm(col(vec)))
          .withColumn("cluster",
            when(col(vec).isNotNull, best.getField("cell")))
          .withColumn("centroid_sim",
            when(col(vec).isNotNull, best.getField("sim")))
          .drop(tmpN)
    }

  /** `kmeans` transformer — spherical k-means clustering of an embedding
    * column: appends `cluster` (long) and `centroid_sim` (cosine to the
    * assigned centroid) to every row. The semantic-grouping primitive
    * under mixture balancing, per-topic stats, and [[semanticDedup]].
    * Options: `idField` (default vec_id — sample-order tie-break only),
    * `field` (default embedding), `k` (default 8), `lloydIters`
    * (default 5; 0 = untrained first-k-of-sample codebook), `trainRows`
    * (default k·40).
    *
    * Scale shape: training is ONE bounded TakeOrdered + driver
    * arithmetic (k·dim doubles of codebook, `trainRows`·dim sample —
    * fixed-size regardless of N); assignment is a per-row projection
    * against literal centroids. Deterministic end to end: hash-ordered
    * sample, tie-broken argmax. */
  def kmeans(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      graft.functions.VectorExpressions.ensure(ctx.spark)
      val id = spec.strOr("idField", "vec_id")
      val vec = spec.strOr("field", "embedding")
      val k = spec.int("k", 8)
      require(k > 0, "kmeans: k must be positive")
      assignClusters(df, vec, col(id), k,
        spec.int("lloydIters", 5), spec.int("trainRows", k * 40),
        spec.int("coarseProbe", 2),
        preloaded = spec.str("loadCentroids").map(readCentroids),
        savePath = spec.str("saveCentroids"))
    }

  /** `semanticdedup` transformer — embedding-cluster-bucketed near-dup
    * (the SemDeDup recipe): k-means-assign every vector to a centroid,
    * then exact-cosine compare only WITHIN shared cells. A pair whose
    * members land in disjoint cell sets is missed — the recall trade
    * the bucketing buys; `nProbe` (default 2) assigns each vector to
    * its top-p nearest cells so boundary-straddling pairs meet in a
    * shared cell (the IVF multi-probe idea applied to dedup), and the
    * driver query measures recall against the all-pairs baseline.
    * Options: [[kmeans]]'s plus `threshold` (default 0.95), `nProbe`,
    * `emit` ∈ `dedup` (default — drop all but the min-id member of each
    * connected near-dup group, pass-through otherwise) or `pairs` (emit
    * (a, b, cosine)), `maxClusterRows` (default 100000; <= 0 disables).
    *
    * Scale shape: candidates are Σ per-cell n² ≈ (nProbe·N)²/k — the
    * point of clustering first; `k` must grow with N, so the
    * `maxClusterRows` guard (one bounded probe aggregation over cell
    * populations) fails fast naming the rule instead of dying in the
    * within-cell join. Vectors ride INTO the cell join and the cosine
    * + threshold evaluate in place, so candidate volume exists only
    * inside the join — nothing re-attaches vectors to candidate pairs
    * downstream, and only post-threshold survivors pay the dedup
    * exchange (a pair sharing several probed cells re-scores, ≤
    * nProbe² codegen'd dots — cheaper at every scale than shuffling
    * candidate ids through two vector-attach joins, which the round-9
    * 100× stress measured in the tens of GB). Assignment past
    * [[FlatScanMax]] centroids prunes two-level (see [[cellScores]]).
    * Dedup mode runs the same pointer-jumping components as
    * `neardupdedup`. */
  def semanticDedup(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      graft.functions.VectorExpressions.ensure(ctx.spark)
      val id = spec.strOr("idField", "vec_id")
      val vec = spec.strOr("field", "embedding")
      val k = spec.int("k", 8)
      val nProbe = spec.int("nProbe", 2)
      val threshold = spec.str("threshold").map(_.toDouble).getOrElse(0.95)
      val maxClusterRows = spec.int("maxClusterRows", 100000)
      val slim = df.select(col(id).as("__id"), col(vec).as("__v"))
        .where(col("__v").isNotNull)
      // vectors travel WITH the probe rows into the cell join and the
      // cosine evaluates IN PLACE, so the threshold filters candidates
      // before any exchange sees them. The round-7 form joined ids-only
      // pairs first and re-attached vectors afterwards ("dedup before
      // scoring") — at the 100× stress that moved |candidates| ≈
      // nProbe²·N²/2k rows through a distinct plus TWO vector-attach
      // shuffle joins (tens of GB at 200k vectors), where this shape
      // moves nProbe·N vector rows through ONE cell exchange and pays
      // only re-SCORING (≤ nProbe² codegen'd dots) for multi-cell
      // pairs, deduping the tiny post-threshold survivor set instead.
      val probedV = trainFromSample(slim, "__v", col("__id"), k,
          spec.int("lloydIters", 5), spec.int("trainRows", k * 40)) match {
        case None => slim.withColumn("__n", lit(0.0))
          .select(col("__id"), col("__v"), col("__n"), lit(0L).as("cell"))
          .where(lit(false))
        case Some(codebook) =>
          slim.withColumn("__n", norm(col("__v")))
            .select(col("__id"), col("__v"), col("__n"),
              explode(cellScores("__v", col("__n"), codebook, nProbe,
                spec.int("coarseProbe", math.max(2, nProbe)))).as("__ce"))
            .select(col("__id"), col("__v"), col("__n"),
              col("__ce.cell").as("cell"))
      }
      // per-cell size contract enforced IN-PLAN (the calibration
      // raise_error pattern): a window count over the SAME cell
      // partitioning the self-join shuffles on anyway — the exchange
      // is shared, the sort-merge join would sort by cell regardless —
      // replaces the r17 eager max-cell `.head()` job that cost one
      // full extra pass of the probed frame at stage-build
      val guarded =
        if (maxClusterRows <= 0) probedV
        else probedV
          .withColumn("__cellcnt", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("cell")))
          .where(coalesce(
            when(col("__cellcnt") > maxClusterRows, raise_error(concat(
              lit("semanticdedup: cell "), col("cell").cast("string"),
              lit(" holds "), col("__cellcnt").cast("string"),
              lit(s" rows > maxClusterRows=$maxClusterRows — the " +
                "within-cell compare is quadratic per cell; raise `k` " +
                "(more, smaller cells) or maxClusterRows if the cost " +
                "is intended")))),
            lit(true)))
          .drop("__cellcnt")
      val l = guarded.select(col("cell"), col("__id").as("a"),
        col("__v").as("__av"), col("__n").as("__an"))
      val r = guarded.select(col("cell"), col("__id").as("b"),
        col("__v").as("__bv"), col("__n").as("__bn"))
      val pairs = l.join(r, Seq("cell")).where(col("a") < col("b"))
        .select(col("a"), col("b"),
          cosine(col("__av"), col("__bv"), col("__an"), col("__bn")).as("cosine"))
        .where(col("cosine") >= threshold)
        .groupBy("a", "b").agg(first("cosine").as("cosine"))
      spec.strOr("emit", "dedup") match {
        case "pairs" => pairs
        case "dedup" =>
          val comps = graft.dedup.DedupStages
            .connectedComponents(pairs.select("a", "b"), spec.int("maxIter", 12),
              graft.stages.Stages.checkpointerOf(spec, ctx), stage = "semanticdedup")
          val losers = comps.where(col("id") =!= col("comp"))
            .select(col("id").as("__drop"))
          df.join(losers, col(id) === col("__drop"), "left_anti")
        case other => sys.error(s"semanticdedup: unknown emit '$other' (dedup|pairs)")
      }
    }

  // --------------------------------------------------- int8 quantization

  /** `quantize` transformer: per-vector symmetric int8 scalar
    * quantization of an embedding column — 4× smaller storage/shuffle
    * footprint for 100-TB embedding corpora, with cosine similarity
    * preserved up to quantization noise (the per-vector scale cancels
    * out of cosine entirely; only the ±scale/2 rounding noise remains).
    *
    * `mode: "quantize"` (default) replaces `field` (array<float>) with
    * `<field>_q8` (array<tinyint>) + `<field>_scale` (double), where
    * `scale = max(|x|)/127` and `q = round(x/scale)` ∈ [-127, 127]
    * (symmetric — -128 unreachable, so dequantization never clips).
    * `keepOriginal: true` retains the float column alongside.
    * `mode: "dequantize"` restores an approximate `field` =
    * `q · scale` (array<float>) and drops the quantized columns; every
    * element is within scale/2 of the original by construction.
    *
    * Scale shape: both directions are pure per-row higher-order-function
    * projections — zero shuffle, codegen-friendly, streaming-safe. */
  /** `randproject`: Johnson–Lindenstrauss dimensionality reduction by a
    * SIGN (±1) random projection — the public sparse-JL construction
    * (Achlioptas 2001): `y_j = Σ_i s(j,i)·q(x_i)` with a deterministic
    * pseudo-random sign `s(j,i)` derived from pure integer arithmetic
    * (`((seed + j·100003 + i·17)² mod 1000003) mod 2`) and inputs
    * quantized to integers (`q(x) = round(x·scale)` as long), so the
    * projection is bit-exact across engines and partitionings — no
    * parallel float-sum nondeterminism. Distances are preserved up to
    * the JL distortion for outDim = O(log n / ε²); downstream ANN
    * stages run on the narrower vectors.
    *
    * Options: `field` (default embedding), `out` (default proj),
    * `outDim` (default 16), `scale` (quantization, default 1e6),
    * `seed` (default 0), `keepOriginal` (default false).
    *
    * Scale shape: a pure per-row codegen'd HOF projection — zero
    * shuffles, k·dim integer multiply-adds per row (spec-locked). */
  def randproject(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val vec = spec.strOr("field", "embedding")
      val out = spec.strOr("out", "proj")
      val k = spec.int("outDim", 16)
      val scale = spec.strOr("scale", "1000000").toDouble
      val seed = spec.long("seed").getOrElse(0L)
      require(df.columns.contains(vec), s"randproject: no column '$vec'")
      require(k > 0, s"randproject: outDim must be positive, got $k")
      // r19 optimization (guide §4): one native fused loop instead of
      // the k·dim interpreted HOF lambda (which also re-quantized every
      // element k times, and which the downstream non-outer posexplode's
      // injected size()>0 Filter evaluated a SECOND time per row) —
      // byte-identical by the jlProjectHof differential spec
      graft.functions.VectorExpressions.ensure(df.sparkSession)
      val proj = graft.functions.VectorExpressions.jlProject(col(vec), k, scale, seed)
      val res = df.withColumn(out, proj)
      if (spec.bool("keepOriginal", dflt = false)) res else res.drop(vec)
    }

  /** HOF reference form of the JL sign projection — kept for
    * differential tests of [[graft.functions.JlProject]] (same sign
    * derivation, quantization, and null propagation). */
  private[graft] def jlProjectHof(vec: Column, k: Int, scale: Double,
                                  seed: Long): Column = {
    // sign(j, i): quadratic residue parity — a LINEAR form mod 2 would
    // degenerate to parity(j + i); squaring mod a prime mixes
    def sign(j: Column, i: Column): Column = {
      val h = lit(seed) + j * lit(100003L) + i * lit(17L)
      when((h * h) % 1000003L % 2L === 0L, lit(1L)).otherwise(lit(-1L))
    }
    transform(sequence(lit(0), lit(k - 1)), j =>
      aggregate(sequence(lit(0), size(vec) - 1), lit(0L),
        (acc, i) => acc + sign(j, i) *
          round(element_at(vec, i + 1).cast("double") * scale).cast("long")))
  }

  def quantize(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val vec = spec.strOr("field", "embedding")
      val qf = spec.strOr("qField", vec + "_q8")
      val sf = spec.strOr("scaleField", vec + "_scale")
      spec.strOr("mode", "quantize") match {
        case "quantize" =>
          // zero vectors get a degenerate positive scale -> q all zero
          val amax = greatest(
            array_max(transform(col(vec), x => abs(x.cast("double")))),
            lit(java.lang.Double.MIN_NORMAL))
          val out = df
            .withColumn(sf, amax / 127.0d)
            .withColumn(qf, transform(col(vec),
              x => round(x.cast("double") / col(sf)).cast("tinyint")))
          if (spec.bool("keepOriginal", false)) out else out.drop(vec)
        case "dequantize" =>
          require(df.columns.contains(qf) && df.columns.contains(sf),
            s"quantize: dequantize needs '$qf' and '$sf' (quantize first)")
          df.withColumn(vec, transform(col(qf),
              x => (x.cast("double") * col(sf)).cast("float")))
            .drop(qf, sf)
        case other =>
          sys.error(s"quantize: unknown mode '$other' (quantize|dequantize)")
      }
    }

  /** `retrievaleval`: ranking-quality metrics over scored (query,
    * candidate) rows — the evaluation companion to the similarity /
    * BM25 stages (RecallProbe's job, productized). Candidates rank per
    * query by (`scoreField` desc, `docField` asc — the deterministic
    * tie-break every ranking stage here uses); a candidate is relevant
    * when `labelField` > 0. Per query:
    *  - `hits_at_k`   — 1 when any relevant candidate ranks ≤ k;
    *  - `precision_at_k` — relevant-in-top-k / k (ONE IEEE division of
    *    two exact integers — hash-stable);
    *  - `mrr` — 1 / rank of the first relevant candidate (one exact
    *    division; 0.0 when none);
    *  - `ndcg_at_k` (when `ndcg: true`) — binary-relevance NDCG@k with
    *    the standard `1/log2(rank+1)` discount QUANTIZED to 1e-6
    *    fixed-point integers (`round(1e6/log2(i+1))`, computed once on
    *    the driver and inlined as literals in BOTH the Spark plan and
    *    the oracle SQL). DCG and ideal-DCG then accumulate as exact
    *    integer sums — order-independent, engine-portable — and the
    *    metric is ONE IEEE division of the two. A raw libm log2 in the
    *    aggregate would take different final-ulp paths across engines
    *    and break hash-exact verification; the quantized weights are
    *    ordering-identical to exact NDCG for any k < 10^6.
    *
    * Scale shape: ONE row_number window PARTITIONED by query (parallel
    * across queries; per-query candidate lists are already bounded by
    * the upstream retrieval's k') + one hash aggregate over (query,
    * rank, label) triples — candidate payloads never ride the shuffle.
    * Options: `queryField` (default query_id), `docField` (doc_id),
    * `scoreField` (score), `labelField` (label), `k` (default 10),
    * `ndcg` (default false). */
  def retrievalEval(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val q = spec.strOr("queryField", "query_id")
      val d = spec.strOr("docField", "doc_id")
      val s = spec.strOr("scoreField", "score")
      val l = spec.strOr("labelField", "label")
      val k = spec.int("k", 10)
      require(k >= 1, s"retrievaleval: k must be >= 1, got $k")
      val withNdcg = spec.bool("ndcg", dflt = false)
      val withMap = spec.bool("map", dflt = false)
      // MAP's per-rank precisions are rationals over i ≤ k: scale by
      // LCM(1..k) and every term is an EXACT long (AP = one closing
      // division). The LCM grows like e^k — bound k so the worst-case
      // numerator k²·LCM stays far inside a long
      require(!withMap || k <= 30,
        s"retrievaleval: map mode supports k <= 30 (LCM(1..k) fixed-point " +
        s"stays exact in a long there), got k=$k")
      val mapLcm: Long =
        if (!withMap) 1L
        else (1 to k).foldLeft(1L)((acc, i) =>
          acc / BigInt(acc).gcd(BigInt(i)).toLong * i)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__q")).orderBy(col("__s").desc, col("__d").asc)
      val ranked0 = df
        .select(col(q).as("__q"), col(d).as("__d"),
          col(s).as("__s"), (col(l) > 0).as("__rel"))
        .withColumn("__rk", row_number().over(w))
      val ranked = (if (withMap) // only AP reads the running relevance
          ranked0.withColumn("__cum", sum(when(col("__rel"), 1L).otherwise(0L))
            .over(w.rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, org.apache.spark.sql.expressions.Window
              .currentRow)))
        else ranked0)
        .select(Seq(col("__q"), col("__rk"), col("__rel")) ++
          (if (withMap) Seq(col("__cum")) else Nil): _*)
      // the ndcg/map aggregates (and the inlined k-element weight
      // literal) are built ONLY when requested — the default
      // hits/precision/mrr path must not pay per-row element_at over
      // an unused array or ship dropped sums through the exchange
      val coreAggs = Seq(
        max(when(col("__rk") <= k && col("__rel"), 1L).otherwise(0L))
          .as("hits_at_k"),
        (sum(when(col("__rk") <= k && col("__rel"), 1L).otherwise(0L))
          .cast("double") / lit(k.toDouble)).as("precision_at_k"),
        coalesce(lit(1.0) / min(when(col("__rel"), col("__rk"))), lit(0.0))
          .as("mrr"))
      val extraAggs =
        (if (withNdcg)
          Seq(sum(when(col("__rk") <= k && col("__rel"),
              element_at(typedLit(ndcgWeights(k)), col("__rk").cast("int")))
            .otherwise(0L)).as("__dcg"))
         else Nil) ++
        (if (withNdcg || withMap)
          Seq(sum(when(col("__rel"), 1L).otherwise(0L)).as("__nrel"))
         else Nil) ++
        (if (withMap)
          // AP numerator: Σ over relevant ranks i ≤ k of
          // cum_rel(i) · (LCM div i) — every term an exact long
          Seq(sum(when(col("__rk") <= k && col("__rel"),
              col("__cum") * expr(s"${mapLcm}L div __rk"))
            .otherwise(0L)).as("__apn"))
         else Nil)
      val aggs = coreAggs ++ extraAggs
      val base = ranked.groupBy(col("__q").as(q)).agg(aggs.head, aggs.tail: _*)
      val withNd =
        if (!withNdcg) base
        else base.withColumn("ndcg_at_k", when(col("__nrel") > 0,
            col("__dcg").cast("double") /
              element_at(typedLit(ndcgWeights(k).scanLeft(0L)(_ + _).tail),
                least(col("__nrel"), lit(k.toLong)).cast("int"))
                .cast("double"))
          .otherwise(lit(0.0)))
      val withAp =
        if (!withMap) withNd
        else withNd.withColumn("map_at_k", when(col("__nrel") > 0,
            col("__apn").cast("double") /
              (least(col("__nrel"), lit(k.toLong)) * mapLcm).cast("double"))
          .otherwise(lit(0.0)))
      withAp.drop("__dcg", "__nrel", "__apn")
    }

  /** 1e-6 fixed-point discount weights `round(1e6 / log2(i+1))` for
    * ranks i = 1..k — see [[retrievalEval]]'s ndcg docs. Deterministic:
    * Java's StrictMath-backed log on the driver, rounded once; the same
    * integers are inlined into the oracle SQL. */
  private[graft] def ndcgWeights(k: Int): Seq[Long] =
    (1 to k).map(i => math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))
}
