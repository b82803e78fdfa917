package graft.text

import graft.engine.EtlContext
import graft.expr.OrientExpr
import graft.spec.ComponentSpec
import graft.stages.Stages
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `fuzzyjoin`: edit-distance record linkage over a string column —
  * find, for each probe row, the rows whose value is within
  * `maxDistance` Levenshtein edits (dirty-key joins, entity matching,
  * near-duplicate identifiers). The reference's lookup joins
  * (OLinkTransformer.java:77-174) resolve EXACT keys only; this is the
  * standard warehouse extension for keys that almost match.
  *
  * Never a cross join. Candidates come from a provably COMPLETE q-gram
  * prefix filter: one Levenshtein edit destroys at most `q` of a
  * string's positional q-grams, so a true match within `d` edits
  * shares at least one of ANY `d·q+1` chosen q-grams of the probe
  * (pigeonhole over positions). We choose the `d·q+1` GLOBALLY RAREST
  * grams per probe (document frequencies from one linear aggregation),
  * which minimizes candidate volume — common prefixes ("Customer#…")
  * contribute nothing because their grams are never among the rarest.
  * Strings too short for the guarantee (`len ≤ d·q+q-1`) fall back to
  * a length-band token join (their candidate class is bounded by
  * construction: everything within `d` of a ≤(d·q+q-1)-char string).
  * Candidates then pass a length filter (`|len(a)-len(b)| ≤ d`, implied
  * by the distance bound) and exact Levenshtein verification.
  *
  * Options:
  *  - `field` (required): the string column.
  *  - `idField` (default `doc_id`).
  *  - `maxDistance` (default 2), `q` (default 2).
  *  - `probeIf` (optional expression): rows to search FOR; absent =
  *    every row probes (full fuzzy self-join).
  *  - `mode` (default `best`): `best` = one row per probe with a match
  *    (minimum distance, ties by match value then id); `pairs` = every
  *    match; with no `probeIf`, pairs are canonicalized to
  *    `probe_id < match_id`.
  *
  * Output: `probe_id, probe_val, match_id, match_val, dist` (self
  * matches excluded).
  *
  * Scale shape: with a BOUNDED probe panel (`probeIf` +
  * `broadcastProbeCap`, default 10000 — checked by a `limit(cap+1)`
  * count, never a full count) every probe-side relation broadcasts:
  * document frequencies are computed only for the panel's grams
  * (broadcast semi-join), the rarest-gram window runs over the tiny
  * panel, and the index gram table is scanned ONCE and never shuffled
  * (candidate generation is a BroadcastHashJoin — PlanSpec-locked).
  * Unbounded probes (pairs/self-join mode) use the symmetric plan: one
  * gram-frequency hash aggregation, keyed equi-joins. Either way
  * verification is a per-row expression and candidate volume = Σ over
  * probes of the chosen grams' document frequencies — minimized by
  * picking the rarest. Verification uses the THRESHOLDED Levenshtein
  * (banded DP, O(d·n) per pair with early exit at d+1) — same exact
  * distances for survivors as the unbounded form.
  *
  * LAZINESS EXCEPTION (documented Engine-contract deviation): with
  * `broadcastProbes: auto` (the default) and a `probeIf`, plan
  * construction runs ONE bounded probe job — `limit(cap+1).count()` on
  * the filtered probe side — to decide between the broadcast and
  * symmetric plans. Set `broadcastProbes: true` (assert the panel is
  * small) or `false` (always symmetric) to keep planning fully lazy. */
object FuzzyJoinStage {

  def fuzzyjoin(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fld = spec.str("field").getOrElse(sys.error("fuzzyjoin: `field` required"))
      val id = spec.strOr("idField", "doc_id")
      val d = spec.int("maxDistance", 2)
      val qn = spec.int("q", 2)
      require(d >= 1, s"fuzzyjoin: maxDistance must be >= 1, got $d")
      require(qn >= 2, s"fuzzyjoin: q must be >= 2, got $qn")
      require(df.columns.contains(fld), s"fuzzyjoin: no column '$fld'")
      require(df.columns.contains(id), s"fuzzyjoin: no column '$id'")
      val mode = spec.strOr("mode", "best")
      require(Set("best", "pairs")(mode),
        s"fuzzyjoin: mode must be best|pairs, got '$mode'")
      val probeIf = spec.str("probeIf")

      val k = d * qn + 1            // prefix size with the pigeonhole guarantee
      val shortMax = d * qn + qn - 1 // below this the guarantee vanishes
      // length-band token namespace: NUL-prefixed, so no real q-gram of
      // ordinary text can ever equal a token
      val lenTok = "\u0000len:"

      // POSITIONAL q-grams (ED-Join's location filter, Xiao et al.,
      // public): an edit shifts surviving grams by at most d positions,
      // so a candidate must share a chosen gram at |Δpos| <= d — same
      // pigeonhole completeness (d edits destroy at most d·q positional
      // grams), far fewer candidates when a rare gram recurs across the
      // corpus at scattered positions
      def grams(c: Column): Column =
        when(length(c) < qn, array(struct(c.as("g"), lit(1).as("p"))))
          .otherwise(transform(sequence(lit(1), length(c) - (qn - 1)),
            i => struct(c.substr(i, lit(qn)).as("g"), i.as("p"))))

      // spread the index side across the executors BEFORE gram explode:
      // a compact source (one small parquet file = one partition) would
      // otherwise funnel candidate generation AND Levenshtein
      // verification — the dominant compute — through a single task;
      // one narrow exchange of the raw rows buys full parallelism
      val base = graft.similarity.SimilarityStages.spread(
        df.select(col(id).as("__fid"), col(fld).as("__fval"))
          .where(col("__fid").isNotNull && col("__fval").isNotNull))
      val indexGrams = base.select(col("__fid"), col("__fval"),
        explode(grams(col("__fval"))).as("__gp"))
        .select(col("__fid"), col("__fval"),
          col("__gp.g").as("__g"), col("__gp.p").as("__fp"))
      // short strings additionally index under their length token, so a
      // short PROBE reaches them without any shared gram; +d covers the
      // longest string a short probe may still match
      val indexShort = base.where(length(col("__fval")) <= shortMax + d)
        .select(col("__fid"), col("__fval"),
          concat(lit(lenTok), length(col("__fval")).cast("string")).as("__g"),
          lit(0).as("__fp"))
      val index = indexGrams.unionByName(indexShort)

      val probes0 = probeIf.map(e => df.where(OrientExpr.compile(e, ctx.varMap)))
        .getOrElse(df)
        .select(col(id).as("__pid"), col(fld).as("__pval"))
        .where(col("__pid").isNotNull && col("__pval").isNotNull)
      // a BOUNDED probe panel (the search-mode contract) flips the plan:
      // every probe-side relation broadcasts, document frequencies are
      // computed only for the panel's grams, and the index gram table is
      // scanned ONCE without ever being shuffled. Unbounded probes
      // (pairs/self-join mode) keep the symmetric shuffle plan.
      val probeCap = spec.int("broadcastProbeCap", 10000)
      val smallProbes = spec.strOr("broadcastProbes", "auto") match {
        case "true"  => probeIf.isDefined
        case "false" => false
        // auto: a bounded `limit(cap+1).count()` — the ONE documented
        // exception to the config→one-lazy-plan contract (see scaladoc);
        // set broadcastProbes explicitly to keep planning fully lazy
        case "auto"  => probeIf.isDefined &&
          probes0.limit(probeCap + 1).count() <= probeCap
        case other => sys.error(
          s"fuzzyjoin: broadcastProbes must be auto|true|false, got '$other'")
      }
      def maybeBroadcast(d0: DataFrame): DataFrame =
        if (smallProbes) broadcast(d0) else d0
      val probeGrams = probes0.where(length(col("__pval")) > shortMax)
        .select(col("__pid"), col("__pval"), explode(grams(col("__pval"))).as("__gp"))
        .select(col("__pid"), col("__pval"),
          col("__gp.g").as("__g"), col("__gp.p").as("__pp"))
      // document frequency per gram CONTENT (positional duplicates of a
      // gram within one string inflate its count slightly — harmless:
      // the pigeonhole holds for ANY fixed d·q+1 choice, df only ranks)
      val freq =
        if (smallProbes)
          indexGrams.join(broadcast(probeGrams.select("__g").distinct()), Seq("__g"))
            .groupBy("__g").agg(count(lit(1)).as("__df"))
        else indexGrams.groupBy("__g").agg(count(lit(1)).as("__df"))
      // long probes: the d·q+1 globally rarest positional grams (ties by
      // gram then position — deterministic); grams absent from the index
      // keep df=0 (they cost nothing and the pigeonhole holds for ANY
      // fixed choice)
      val pg =
        if (smallProbes) probeGrams.join(broadcast(freq), Seq("__g"), "left")
          .na.fill(0L, Seq("__df"))
        else probeGrams.join(freq, Seq("__g"), "left").na.fill(0L, Seq("__df"))
      val wPrefix = Window.partitionBy("__pid")
        .orderBy(col("__df").asc, col("__g").asc, col("__pp").asc)
      val prefix = pg.withColumn("__rn", row_number().over(wPrefix))
        .where(col("__rn") <= k).select("__pid", "__pval", "__g", "__pp")
      // short probes: length-band tokens [len-d, len+d] (position 0 on
      // both sides — the band filter is a no-op for tokens)
      val shortTokens = probes0.where(length(col("__pval")) <= shortMax)
        .select(col("__pid"), col("__pval"), explode(
          transform(sequence(greatest(length(col("__pval")) - d, lit(1)),
              length(col("__pval")) + d),
            l => concat(lit(lenTok), l.cast("string")))).as("__g"),
          lit(0).as("__pp"))

      // NO candidate dedup here: a pair reached through several shared
      // grams verifies 2-3× redundantly — micro-seconds of banded DP —
      // which is far cheaper than a full-candidate-set distinct (a wide
      // string-row exchange that measured 3× the verification cost);
      // duplicates are collapsed AFTER the distance filter on the
      // thousand-fold-smaller survivor set (pairs) or fall out of the
      // rank-1 window for free (best)
      val cand = index
        .join(maybeBroadcast(prefix.unionByName(shortTokens)), Seq("__g"))
        .where(col("__pid") =!= col("__fid") &&
          abs(col("__pp") - col("__fp")) <= d &&
          abs(length(col("__pval")) - length(col("__fval"))) <= d)
        .select("__pid", "__pval", "__fid", "__fval")

      // thresholded form: banded DP that early-exits once the distance
      // provably exceeds d (O(d·n) per pair, not O(n²)); returns -1 for
      // over-threshold pairs, and the surviving values are the same
      // exact distances the 2-arg form yields (hash-identical output)
      val verified = cand
        .withColumn("dist", levenshtein(col("__pval"), col("__fval"), d).cast("bigint"))
        .where(col("dist") >= 0)
        .select(col("__pid").as("probe_id"), col("__pval").as("probe_val"),
          col("__fid").as("match_id"), col("__fval").as("match_val"), col("dist"))

      mode match {
        case "pairs" =>
          val v = verified.distinct() // post-verify: survivor-set-sized
          if (probeIf.isEmpty) v.where(col("probe_id") < col("match_id"))
          else v
        case _ =>
          // duplicate (probe, match) rows tie exactly in the ordering —
          // rn = 1 picks one copy deterministically, no dedup needed
          val wBest = Window.partitionBy("probe_id")
            .orderBy(col("dist").asc, col("match_val").asc, col("match_id").asc)
          verified.withColumn("__rn", row_number().over(wBest))
            .where(col("__rn") === 1).drop("__rn")
      }
    }
}
