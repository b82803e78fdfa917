package graft

import graft.spec.ComponentSpec
import graft.stages.StatStages
import org.apache.spark.sql.functions._

/** zscore — per-group standardization. Locked: exact semantics on a
  * hand-computable group, zero-variance null (not a blow-up), global
  * mode via the one-row broadcast attach, and the plan shape (hash
  * aggregation + join back — never a Window over every row). */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  private def stage(name: String, opts: (String, Any)*) =
    graft.engine.Engine.transformers(name)(ComponentSpec(name, opts.toMap), newCtx())

  test("hllsketch/hllmerge: merge of shard sketches == one whole-table sketch") {
    val ctx = newCtx()
    // 10k values split across 7 shards: the merged estimate must be
    // IDENTICAL to sketching the whole column at once (HLL state is a
    // per-bucket max — shard boundaries can't change it)
    val df = spark.range(10000).select((col("id") % 7).as("shard"),
      (col("id") % 4096).as("v")) // 4096 true distinct
    val perShard = StatStages.hllSketch(ComponentSpec("hllsketch",
      Map("field" -> "v", "groupBy" -> "shard")), ctx)(df)
    assert(perShard.count() == 7)
    val merged = StatStages.hllMerge(ComponentSpec("hllmerge", Map()), ctx)(perShard)
      .select("distinct_est").as[Long].head()
    val whole = StatStages.hllSketch(ComponentSpec("hllsketch",
      Map("field" -> "v")), ctx)(df)
    val wholeEst = whole.select(expr("hll_sketch_estimate(hll_sketch)"))
      .as[Long].head()
    assert(merged == wholeEst)
    assert(math.abs(merged - 4096L) <= 0.05 * 4096) // within the lgK-12 bound
    // keepSketch surfaces the merged binary for further rollups
    val kept = StatStages.hllMerge(ComponentSpec("hllmerge",
      Map("keepSketch" -> true)), ctx)(perShard)
    assert(kept.columns.toSeq == Seq("distinct_est", "hll_sketch_merged"))
    // bad lgK fails at plan time with the range named
    val e = intercept[IllegalArgumentException](StatStages.hllSketch(
      ComponentSpec("hllsketch", Map("field" -> "v", "lgConfigK" -> 99)), ctx)(df))
    assert(e.getMessage.contains("lgConfigK"))
  }

  test("checksum/checksummerge: shard-merge identity, sensitivity, null-position") {
    val ctx = newCtx()
    val df = spark.range(10000).select((col("id") % 7).as("shard"),
      col("id").as("a"), concat(lit("s"), col("id") % 100).as("b"))
    def sums(d: org.apache.spark.sql.DataFrame) =
      d.select("n_rows", "xor64", "sum_mod").as[(Long, Long, String)].head()
    val whole = sums(StatStages.checksum(ComponentSpec("checksum",
      Map("fields" -> Seq("a", "b"))), ctx)(df))
    assert(whole._1 == 10000L)
    // EXACT shard-merge identity (no sketch error): per-shard grains
    // merged == the whole-table checksum
    val grains = StatStages.checksum(ComponentSpec("checksum",
      Map("fields" -> Seq("a", "b"), "groupBy" -> "shard")), ctx)(df)
    assert(grains.count() == 7)
    val merged = sums(StatStages.checksumMerge(
      ComponentSpec("checksummerge", Map()), ctx)(grains))
    assert(merged == whole)
    // order independence: a reversed input checksums identically
    val rev = sums(StatStages.checksum(ComponentSpec("checksum",
      Map("fields" -> Seq("a", "b"))), ctx)(df.orderBy(col("a").desc)))
    assert(rev == whole)
    // sensitivity: one flipped value, one lost row, one duplicated row
    // all change at least one component
    def tampered(d: org.apache.spark.sql.DataFrame) =
      sums(StatStages.checksum(ComponentSpec("checksum",
        Map("fields" -> Seq("a", "b"))), ctx)(d))
    assert(tampered(df.withColumn("b",
      when(col("a") === 5000, lit("flip")).otherwise(col("b")))) != whole)
    assert(tampered(df.where(col("a") =!= 5000)) != whole)
    assert(tampered(df.unionAll(df.where(col("a") === 5000))) != whole)
    // the null-position mask: (null, x) and (x, null) rows differ
    val n1 = Seq((Option.empty[String], Option("x"))).toDF("a", "b")
    val n2 = Seq((Option("x"), Option.empty[String])).toDF("a", "b")
    assert(tampered(n1) != tampered(n2))
    // guards
    assert(intercept[Exception](StatStages.checksumMerge(
      ComponentSpec("checksummerge", Map()), ctx)(df)).getMessage
      .contains("checksum grain table"))
  }

  test("kllsketch/kllmerge: shard-merge identity (no-compaction regime) + rank bound") {
    val ctx = newCtx()
    // EXACT regime: n per shard ≤ k means KLL never compacts — the
    // sketch retains every value, so shard-merge must EQUAL the exact
    // type-sorted quantiles (the only regime where a randomized sketch
    // admits an identity spec)
    val df = spark.range(400).select((col("id") % 4).as("shard"),
      col("id").cast("double").as("v"))
    val perShard = StatStages.kllSketch(ComponentSpec("kllsketch",
      Map("field" -> "v", "groupBy" -> "shard", "k" -> 512)), ctx)(df)
    assert(perShard.count() == 4)
    // a JSON-list key list groups like the comma string
    val byList = StatStages.kllSketch(ComponentSpec("kllsketch",
      Map("field" -> "v", "groupBy" -> Seq("shard", "half"))), ctx)(
      df.withColumn("half", col("shard") % 2))
    assert(byList.columns.toSeq == Seq("shard", "half", "kll_sketch"))
    assert(byList.count() == 4)
    val m = StatStages.kllMerge(ComponentSpec("kllmerge",
      Map("probs" -> Seq(0.0, 0.5, 1.0))), ctx)(perShard)
      .select("p0", "p50", "p100", "n_values").head()
    assert(m.getLong(3) == 400L, "KLL tracks n exactly through merges")
    assert(m.getDouble(0) == 0.0 && m.getDouble(2) == 399.0)
    assert(m.getDouble(1) == 199.0 || m.getDouble(1) == 200.0) // inclusive median of 0..399
    // BOUND regime: 50k values through k=200 sketches (compaction
    // happens) — the merged p50 must sit within the 99% rank-error
    // envelope of the true median (~1.65% of rank at k=200; assert 5%)
    val big = spark.range(50000).select((col("id") % 8).as("shard"),
      col("id").cast("double").as("v"))
    val bigMerged = StatStages.kllMerge(ComponentSpec("kllmerge", Map()), ctx)(
      StatStages.kllSketch(ComponentSpec("kllsketch",
        Map("field" -> "v", "groupBy" -> "shard")), ctx)(big))
      .select("p50", "n_values").head()
    assert(bigMerged.getLong(1) == 50000L)
    assert(math.abs(bigMerged.getDouble(0) - 25000.0) <= 0.05 * 50000,
      s"merged p50 ${bigMerged.getDouble(0)} outside the rank bound")
    // keepSketch surfaces the merged binary for further rollups
    val kept = StatStages.kllMerge(ComponentSpec("kllmerge",
      Map("keepSketch" -> true)), ctx)(perShard)
    assert(kept.columns.toSeq == Seq("p50", "n_values", "kll_sketch_merged"))
    // SQL surface: the natural decimal spelling 0.5 must work (SQL
    // parses it as DecimalType, not Double — r17 review)
    val sqlQ = spark.sql("SELECT graft_kll_quantile(" +
      "graft_kll_agg(CAST(id AS DOUBLE), 200), 0.5) AS p50 FROM range(101)")
      .as[Double].head()
    assert(sqlQ == 50.0, s"SQL decimal-literal quantile: $sqlQ")
    // guards fail loud at plan time
    assert(intercept[IllegalArgumentException](StatStages.kllSketch(
      ComponentSpec("kllsketch", Map("field" -> "v", "k" -> 4)), ctx)(df))
      .getMessage.contains("k out of range"))
    assert(intercept[Exception](StatStages.kllMerge(
      ComponentSpec("kllmerge", Map("probs" -> Seq(1.5))), ctx)(perShard))
      .getMessage.contains("outside [0, 1]"))
  }

  test("topksketch/topkmerge: exact regime identity + guaranteed heavy hitter") {
    val ctx = newCtx()
    // EXACT regime: distinct items < maxMapSize means the MG map never
    // purges — merged counts are exact (est == lb == ub == true count)
    val df = spark.range(3000).select((col("id") % 3).as("shard"),
      concat(lit("item"), col("id") % 10).as("w"))
    val perShard = StatStages.topkSketch(ComponentSpec("topksketch",
      Map("itemField" -> "w", "groupBy" -> "shard", "maxMapSize" -> 64)),
      ctx)(df)
    assert(perShard.count() == 3)
    val merged = StatStages.topkMerge(ComponentSpec("topkmerge",
      Map("maxMapSize" -> 64)), ctx)(perShard)
      .select("item", "est", "lb", "ub").collect()
    assert(merged.length == 10)
    assert(merged.forall(r => r.getLong(1) == 300L &&
      r.getLong(2) == 300L && r.getLong(3) == 300L),
      "no-purge regime must be exact through shard merges")
    // weightField: weighted counts (item0 gets 10x) and k truncation
    val weighted = StatStages.topkMerge(ComponentSpec("topkmerge",
      Map("maxMapSize" -> 64, "k" -> 1)), ctx)(
      StatStages.topkSketch(ComponentSpec("topksketch",
        Map("itemField" -> "w", "maxMapSize" -> 64,
            "weightField" -> "wt")), ctx)(
        df.withColumn("wt", when(col("w") === "item0", 10L).otherwise(1L))))
      .select("item", "est").collect()
    assert(weighted.toSeq.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("item0", 3000L)))
    // PURGE regime: 100 distinct through an 8-counter map with one
    // planted heavy hitter (60% of mass) — NO_FALSE_NEGATIVES must
    // return it with lb <= true <= ub
    val zipf = spark.range(10000).select(
      when(col("id") % 10 < 6, lit("hot"))
        .otherwise(concat(lit("cold"), col("id") % 100)).as("w"))
    val hot = StatStages.topkMerge(ComponentSpec("topkmerge",
      Map("maxMapSize" -> 8)), ctx)(
      StatStages.topkSketch(ComponentSpec("topksketch",
        Map("itemField" -> "w", "maxMapSize" -> 8)), ctx)(zipf))
      .where(col("item") === "hot").select("lb", "ub").collect()
    assert(hot.length == 1, "a 60%-mass item is guaranteed present")
    assert(hot.head.getLong(0) <= 6000L && 6000L <= hot.head.getLong(1))
    // guards fail loud
    assert(intercept[IllegalArgumentException](StatStages.topkSketch(
      ComponentSpec("topksketch",
        Map("itemField" -> "w", "maxMapSize" -> 100)), ctx)(df))
      .getMessage.contains("power of two"))
  }

  test("minmaxscale: [0,1] per group, constant group nulls, null-safe keys") {
    val df = Seq(("a", 10.0), ("a", 20.0), ("a", 30.0),
      ("b", 5.0), ("b", 5.0),
      (null.asInstanceOf[String], 7.0), (null.asInstanceOf[String], 9.0))
      .toDF("k", "x")
    val out = StatStages.minMaxScale(ComponentSpec("minmaxscale",
      Map("field" -> "x", "keyField" -> "k")), newCtx())(df)
      .orderBy("k", "x").select("k", "x", "x_scaled").collect()
    val a = out.filter(r => !r.isNullAt(0) && r.getString(0) == "a")
    assert(a.map(_.getDouble(2)).toSeq == Seq(0.0, 0.5, 1.0))
    val b = out.filter(r => !r.isNullAt(0) && r.getString(0) == "b")
    assert(b.forall(_.isNullAt(2)))       // constant group → null
    val n = out.filter(_.isNullAt(0))     // null key forms its own group
    assert(n.map(_.getDouble(2)).toSeq == Seq(0.0, 1.0))
  }

  test("featurehash: fixed dims, zero-mean signs, unseen tokens map consistently") {
    val ctx = newCtx()
    val df = Seq((1L, "alpha beta alpha"), (2L, "alpha"), (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = StatStages.featureHash(ComponentSpec("featurehash",
      Map("k" -> 8)), ctx)(df).orderBy("doc_id")
      .select("features").collect()
    val v1 = out(0).getSeq[Long](0)
    val v2 = out(1).getSeq[Long](0)
    assert(v1.length == 8 && v2.length == 8)
    // linearity: doc1 = 2×alpha + 1×beta, so v1 - 2·v2 is beta's one-hot
    val beta = v1.zip(v2).map { case (a, b) => a - 2 * b }
    assert(beta.map(math.abs).sum == 1)
    assert(out(2).getSeq[Long](0).forall(_ == 0L)) // empty text → zero vector
    assert(out(3).isNullAt(0))                     // null text → null
    // unsigned mode: plain counts, total = token count
    val counts = StatStages.featureHash(ComponentSpec("featurehash",
      Map("k" -> 8, "signed" -> false)), ctx)(df)
      .where(col("doc_id") === 1).select("features").head().getSeq[Long](0)
    assert(counts.sum == 3 && counts.forall(_ >= 0))
  }

  test("labelencode: sorted deterministic ids, null passthrough, mapping persistence") {
    val ctx = newCtx()
    val df = Seq("banana", "apple", "cherry", "apple", null)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "fruit")
    val out = StatStages.labelEncode(ComponentSpec("labelencode",
      Map("field" -> "fruit")), ctx)(df)
      .orderBy("id").select("fruit", "fruit_id").collect()
    // sorted order: apple=0, banana=1, cherry=2; null stays null
    assert(out.map(r => (r.getString(0),
      if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq ==
      Seq(("banana", 1L), ("apple", 0L), ("cherry", 2L), ("apple", 0L), (null, -1L)))
    // persistence: save, apply to data with an UNSEEN value → null id
    val model = java.nio.file.Files.createTempDirectory("graft_le")
      .resolve("map.tsv").toString
    StatStages.labelEncode(ComponentSpec("labelencode",
      Map("field" -> "fruit", "saveMapping" -> model)), ctx)(df).collect()
    val later = Seq((1L, "cherry"), (2L, "durian")).toDF("id", "fruit")
    val applied = StatStages.labelEncode(ComponentSpec("labelencode",
      Map("field" -> "fruit", "loadMapping" -> model)), ctx)(later)
      .orderBy("id").select("fruit_id").collect()
    assert(applied(0).getLong(0) == 2L)
    assert(applied(1).isNullAt(0)) // unseen: surfaced, never renumbered
    // startAt shifts the base
    val shifted = StatStages.labelEncode(ComponentSpec("labelencode",
      Map("field" -> "fruit", "startAt" -> 10)), ctx)(df)
      .where(col("fruit") === "apple").select("fruit_id").as[Long].head()
    assert(shifted == 10L)
  }

  test("zscore method=mad: robust to the outlier it flags; zero-MAD group nulls") {
    // group a: {1,2,3,4,100} — median 3, deviations {2,1,0,1,97} → MAD 1;
    // the outlier's robust z = 97 (mean/std would be dragged to z≈1.8
    // and MISS it at any sane threshold — the masking failure)
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 100.0),
      ("b", 7.0), ("b", 7.0), ("b", 7.0)).toDF("k", "x")
    val out = StatStages.zscore(ComponentSpec("zscore", Map(
      "field" -> "x", "keyField" -> "k", "method" -> "mad",
      "threshold" -> "10")), newCtx())(df)
      .orderBy("k", "x").select("k", "x", "x_z", "x_z_outlier").collect()
    val a = out.filter(_.getString(0) == "a")
    assert(a.map(_.getDouble(2)).toSeq == Seq(-2.0, -1.0, 0.0, 1.0, 97.0))
    assert(a.map(_.getBoolean(3)).toSeq == Seq(false, false, false, false, true))
    // constant group: MAD 0 → null z and null flag, not a div-by-zero
    val b = out.filter(_.getString(0) == "b")
    assert(b.forall(r => r.isNullAt(2) && r.isNullAt(3)))
    // classic std method on the same data: the outlier's |z| stays < 2 —
    // the documented reason mad exists
    val std = StatStages.zscore(ComponentSpec("zscore", Map(
      "field" -> "x", "keyField" -> "k")), newCtx())(df)
      .where(col("x") === 100.0).select("x_z").as[Double].head()
    assert(std < 2.0, s"std z of the gross outlier was $std")
  }

  test("zscore: hand-computed group values; zero-variance group yields null z") {
    val df = Seq(("a", 1L), ("a", 3L), ("b", 5L), ("b", 5L)).toDF("k", "x")
    val out = StatStages.zscore(ComponentSpec("zscore",
      Map("field" -> "x", "keyField" -> "k", "threshold" -> "0.5")), newCtx())(df)
      .orderBy("k", "x")
      .select("k", "x", "x_z", "x_z_outlier")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getBoolean(3)))).toSeq
    // group a: mean 2, var ((1+9) - 4*4/2)/2 = 1, std 1 → z = ±1
    assert(out == Seq(
      ("a", 1L, Some(-1.0), Some(true)),
      ("a", 3L, Some(1.0), Some(true)),
      ("b", 5L, None, None),
      ("b", 5L, None, None)))
  }

  test("zscore: null group key standardizes in its own group, rows preserved") {
    val df = Seq((Option("a"), 1L), (Option("a"), 3L),
      (None: Option[String], 10L), (None: Option[String], 30L)).toDF("k", "x")
    val out = StatStages.zscore(ComponentSpec("zscore",
      Map("field" -> "x", "keyField" -> "k")), newCtx())(df)
    assert(out.count() == 4, "null-key rows must not vanish from the join back")
    val nullZ = out.filter(col("k").isNull).orderBy("x")
      .select("x_z").as[Double].collect().toSeq
    // null group: mean 20, var ((100+900) - 40*40/2)/2 = 100, std 10 → z = ±1
    assert(nullZ == Seq(-1.0, 1.0))
  }

  test("zscore global mode: one-row stats attach; outlier flag optional") {
    val df = Seq(1L, 2L, 3L, 4L).toDF("x")
    val out = StatStages.zscore(ComponentSpec("zscore",
      Map("field" -> "x")), newCtx())(df)
    assert(out.columns.toSeq == Seq("x", "x_z"))
    val zs = out.orderBy("x").select("x_z").as[Double].collect().toSeq
    // mean 2.5, var 1.25
    val std = math.sqrt(1.25)
    assert(zs == Seq(-1.5 / std, -0.5 / std, 0.5 / std, 1.5 / std))
  }

  test("zscore plan: hash aggregation joined back, no Window node") {
    val df = (1L to 100L).map(i => (s"g${i % 5}", i)).toDF("k", "x")
    val out = StatStages.zscore(ComponentSpec("zscore",
      Map("field" -> "x", "keyField" -> "k")), newCtx())(df)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"zscore must not window:\n$plan")
    assert(plan.contains("HashAggregate"), s"expected hash agg:\n$plan")
  }

  test("winsorize: hand-computed clips per group; nulls stay null; flag column") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // group a: values 0..10 -> p10 = 1.0, p90 = 9.0 (type-7)
    val a = (0 to 10).map(v => ("a", java.lang.Long.valueOf(v.toLong)))
    val b = Seq(("b", java.lang.Long.valueOf(100L)), ("b", java.lang.Long.valueOf(200L)),
      ("b", null.asInstanceOf[java.lang.Long]))
    val df = (a ++ b).toDF("g", "x")
    val out = stage("winsorize", "field" -> "x", "keyField" -> "g",
      "lower" -> "0.1", "upper" -> "0.9", "flagField" -> "clip")(df)
      .orderBy(col("g"), col("x").asc_nulls_last).collect()
    val av = out.filter(_.getString(0) == "a").map(r => (r.getDouble(2), r.getBoolean(3)))
    assert(av.toSeq == Seq((1.0, true), (1.0, false), (2.0, false), (3.0, false),
      (4.0, false), (5.0, false), (6.0, false), (7.0, false), (8.0, false),
      (9.0, false), (9.0, true)))
    // null input -> null output, not a clamp to the lower bound
    val bn = out.filter(r => r.getString(0) == "b" && r.isNullAt(1))
    assert(bn.length == 1 && bn.head.isNullAt(2) && !bn.head.getBoolean(3))
    // global mode (no keyField): one bound pair for the whole frame
    val g = stage("winsorize", "field" -> "x", "lower" -> "0.1",
      "upper" -> "0.9")(df.select("x"))
      .agg(max("x_w"), min("x_w")).head()
    assert(g.getDouble(0) <= 200.0 && g.getDouble(1) >= 0.0)
    // null-safe group key: a null g clips within ITS group, row kept
    val withNullKey = Seq((null.asInstanceOf[String], 5L), (null.asInstanceOf[String], 15L))
      .toDF("g", "x")
    val nk = stage("winsorize", "field" -> "x", "keyField" -> "g")(withNullKey)
    assert(nk.count() == 2)
    val e = intercept[Exception](
      stage("winsorize", "field" -> "x", "lower" -> "0.9", "upper" -> "0.5")(df))
    assert(e.getMessage.contains("lower"))
  }

  test("quantiles exact: type-7 interpolation per group; global mode; prob naming") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 10L),
      ("b", 5L)).toDF("k", "x")
    val out = StatStages.quantiles(ComponentSpec("quantiles",
      Map("field" -> "x", "keyField" -> "k",
        "probs" -> Seq(0.5, 0.999), "mode" -> "exact")), newCtx())(df)
    assert(out.columns.toSeq == Seq("k", "p50", "p99_9"))
    val m = out.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // a: pos(0.5) = 1.5 → 2 + 0.5·(3−2) = 2.5; pos(0.999) = 2.997 →
    // 3 + 0.997·7
    assert(m("a")._1 == 2.5 && math.abs(m("a")._2 - (3 + 0.997 * 7)) < 1e-9)
    assert(m("b") == ((5.0, 5.0)))
    val g = StatStages.quantiles(ComponentSpec("quantiles",
      Map("field" -> "x", "mode" -> "exact")), newCtx())(df)
    assert(g.columns.toSeq == Seq("p50") && g.head().getDouble(0) == 3.0)
  }

  test("quantiles approx: GK sketch lands within rank-error of exact") {
    val df = (1L to 10000L).map(i => ("g", i)).toDF("k", "x")
    def run(mode: String) = StatStages.quantiles(ComponentSpec("quantiles",
      Map("field" -> "x", "keyField" -> "k", "probs" -> Seq(0.5, 0.9),
        "mode" -> mode, "accuracy" -> 1000)), newCtx())(df)
      .select("p50", "p90").head()
    val ap = run("approx"); val ex = run("exact")
    // rank error ≤ n/accuracy = 10 ranks ≈ 10 in value space here
    assert(math.abs(ap.getDouble(0) - ex.getDouble(0)) <= 11,
      s"p50 approx ${ap.getDouble(0)} vs exact ${ex.getDouble(0)}")
    assert(math.abs(ap.getDouble(1) - ex.getDouble(1)) <= 11)
  }

  test("quantiles guards: bad prob, bad mode, non-numeric field") {
    val df = Seq(("a", 1L)).toDF("k", "x")
    def mk(o: Map[String, Any]) =
      StatStages.quantiles(ComponentSpec("quantiles", o), newCtx())(df)
    assert(intercept[Exception](mk(Map("field" -> "x", "probs" -> Seq(1.5))))
      .getMessage.contains("[0, 1]"))
    assert(intercept[Exception](mk(Map("field" -> "x", "mode" -> "turbo")))
      .getMessage.contains("mode"))
    assert(intercept[Exception](mk(Map("field" -> "k")))
      .getMessage.contains("numeric"))
  }

  test("zscore guards: missing field, non-numeric field, colliding outField") {
    val df = Seq(("a", 1L)).toDF("k", "x")
    def mk(o: Map[String, Any]) =
      StatStages.zscore(ComponentSpec("zscore", o), newCtx())(df)
    assert(intercept[Exception](mk(Map())).getMessage.contains("field"))
    assert(intercept[Exception](mk(Map("field" -> "k")))
      .getMessage.contains("numeric"))
    assert(intercept[Exception](mk(Map("field" -> "x", "outField" -> "k")))
      .getMessage.contains("outField"))
  }

  test("impute: mean/median/constant fills; all-null group stays null; mean guards type") {
    val ctx = newCtx()
    import spark.implicits._
    val df = Seq(("a", Some(10L)), ("a", Some(20L)), ("a", None),
      ("b", Some(5L)), ("b", None), ("c", None),
      (null, Some(7L)), (null, None))
      .toDF("g", "v")
    def run(opts: (String, Any)*): Map[(String, Option[Long]), Option[Double]] =
      graft.stages.StatStages.impute(ComponentSpec("impute",
        Map("field" -> "v", "keyField" -> "g") ++ opts.toMap), ctx)(df)
        .select(col("g"), col("v"), col("v_imputed"))
        .as[(String, Option[Long], Option[Double])].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    val mean = run("strategy" -> "mean")
    assert(mean(("a", None)) == Some(15.0) && mean(("b", None)) == Some(5.0))
    assert(mean(("a", Some(10L))) == Some(10.0)) // non-null passes through
    assert(mean(("c", None)).isEmpty)            // all-null group stays null
    val med = run("strategy" -> "median")
    assert(med(("a", None)) == Some(15.0) && med(("b", None)) == Some(5.0))
    // a NULL key is a real group: its NULL fills from its own statistic
    assert(mean((null, None)) == Some(7.0) && med((null, None)) == Some(7.0))
    assert(graft.stages.StatStages.impute(ComponentSpec("impute",
      Map("field" -> "v", "keyField" -> "g")), ctx)(df).columns.toSeq ==
      Seq("g", "v", "v_imputed"))
    val const = run("strategy" -> "constant", "value" -> -1)
    assert(const(("c", None)) == Some(-1.0))
    // mean over a float column fails LOUD (decimal cast would truncate)
    val e = intercept[Exception](graft.stages.StatStages.impute(
      ComponentSpec("impute", Map("field" -> "x", "strategy" -> "mean")),
      ctx)(Seq(1.5).toDF("x")))
    assert(e.getMessage.contains("INTEGRAL"))
  }

  test("quantilebin: equal-frequency bins, cut ties stay low, nulls stay null") {
    val ctx = newCtx()
    import spark.implicits._
    // values 1..8 in one group: quartile cuts (type-7) at 2.75, 4.5,
    // 6.25 → bins 0,0,1,1,2,2,3,3
    val df = ((1L to 8L).map(v => ("g", Some(v))) :+ (("g", None: Option[Long])))
      .toDF("k", "v")
    val out = graft.stages.StatStages.quantileBin(ComponentSpec("quantilebin",
      Map("field" -> "v", "bins" -> 4, "keyField" -> "k")), ctx)(df)
      .select("v", "v_bin").as[(Option[Long], Option[Int])].collect().toMap
    assert(out == Map(Some(1L) -> Some(0), Some(2L) -> Some(0),
      Some(3L) -> Some(1), Some(4L) -> Some(1), Some(5L) -> Some(2),
      Some(6L) -> Some(2), Some(7L) -> Some(3), Some(8L) -> Some(3),
      None -> None))
    // a value EQUAL to a cut stays in the LOWER bin: constant tail
    // makes the median an exact data value
    val tie = Seq(1L, 5L, 5L, 9L).map(("t", _)).toDF("k", "v")
    val tied = graft.stages.StatStages.quantileBin(ComponentSpec("quantilebin",
      Map("field" -> "v", "bins" -> 2, "keyField" -> "k")), ctx)(tie)
      .select("v", "v_bin").as[(Long, Int)].collect().toSet
    assert(tied == Set((1L, 0), (5L, 0), (9L, 1))) // median 5.0, 5 !> 5
    // a NULL key is a real group: its rows stay, binned within it, and
    // the input's column order is kept
    val nk = Seq(("t", 1L), ("t", 9L), (null, 2L), (null, 4L), (null, 6L), (null, 8L))
      .toDF("k", "v").select("v", "k")
    val nkBins = graft.stages.StatStages.quantileBin(ComponentSpec("quantilebin",
      Map("field" -> "v", "bins" -> 2, "keyField" -> "k")), ctx)(nk)
    assert(nkBins.select("k", "v", "v_bin").as[(String, Long, Int)].collect().toSet ==
      Set(("t", 1L, 0), ("t", 9L, 1), (null, 2L, 0), (null, 4L, 0), (null, 6L, 1),
        (null, 8L, 1)))
    assert(nkBins.columns.toSeq == Seq("v", "k", "v_bin"))
    // global (key-less) path + bad-config guards
    val g = graft.stages.StatStages.quantileBin(ComponentSpec("quantilebin",
      Map("field" -> "v", "bins" -> 2)), ctx)(tie)
    assert(g.where(col("v_bin") === 1).count() == 1)
    assert(intercept[Exception](graft.stages.StatStages.quantileBin(
      ComponentSpec("quantilebin", Map("field" -> "v", "bins" -> 1)), ctx)(tie))
      .getMessage.contains("bins"))
  }

  test("correlate: exact co-moments — perfect fit, degenerate groups, global row") {
    val ctx = newCtx()
    import spark.implicits._
    // group a: y = 3x + 2 exactly → r = 1, slope 3, intercept 2;
    // group b: constant x → zero variance, null fit;
    // group c: perfectly anti-correlated → r = -1
    val df = Seq(
      ("a", 1L, 5L), ("a", 2L, 8L), ("a", 3L, 11L), ("a", 4L, 14L),
      ("b", 7L, 1L), ("b", 7L, 9L),
      ("c", 1L, 4L), ("c", 2L, 2L), ("c", 3L, 0L))
      .toDF("g", "x", "y")
    val out = graft.stages.StatStages.correlate(ComponentSpec("correlate",
      Map("xField" -> "x", "yField" -> "y", "groupBy" -> "g")), ctx)(df)
      .select("g", "n", "r", "slope", "intercept")
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // r lands within one ulp of ±1 (sqrt(vx)·sqrt(vy) rounds twice —
    // deterministically: the oracle compare is hash-exact on the same
    // value); slope/intercept come out exactly
    assert(out("a")._1 == 4L && math.abs(out("a")._2.get - 1.0) < 1e-15)
    assert(out("a")._3 == Some(3.0) && out("a")._4 == Some(2.0))
    assert(out("b") == ((2L, None, None, None)))
    assert(math.abs(out("c")._2.get + 1.0) < 1e-15)
    // no groupBy → one global row over everything
    val g = graft.stages.StatStages.correlate(ComponentSpec("correlate",
      Map("xField" -> "x", "yField" -> "y")), ctx)(df)
    assert(g.count() == 1 && g.select("n").as[Long].head() == 9L)
    // missing required option fails loud
    assert(intercept[Exception](graft.stages.StatStages.correlate(
      ComponentSpec("correlate", Map("yField" -> "y")), ctx)(df))
      .getMessage.contains("xField"))
    // non-integral input fails loud (ADVICE r15: the decimal(38,0)
    // exact-sum cast would silently ROUND fractional x/y — the same
    // contract impute's mean strategy enforces)
    val frac = Seq((1.5, 2L), (2.5, 3L)).toDF("x", "y")
    val fe = intercept[Exception](graft.stages.StatStages.correlate(
      ComponentSpec("correlate", Map("xField" -> "x", "yField" -> "y")),
      ctx)(frac))
    assert(fe.getMessage.contains("INTEGRAL"), fe.getMessage)
  }

  test("labelencode: cardinality guard fails loud naming featurehash") {
    val ctx = newCtx()
    val df = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "cat")
    // past the documented bound the global-window id assignment IS the
    // job — the guard must name the scalable migration
    val e = intercept[Exception](StatStages.labelEncode(ComponentSpec(
      "labelencode", Map("field" -> "cat", "maxCardinality" -> 5)), ctx)(df))
    assert(e.getMessage.contains("featurehash"), e.getMessage)
    assert(e.getMessage.contains("5"))
    // at the bound exactly (10 distinct ≤ 10) it still encodes
    val ok = StatStages.labelEncode(ComponentSpec("labelencode",
      Map("field" -> "cat", "maxCardinality" -> 10)), ctx)(df)
    assert(ok.where(col("cat_id").isNotNull).count() == 10)
  }

  test("kanonymity: filter/flag/suppress actions; nulls form a group; guards") {
    val ctx = newCtx()
    import spark.implicits._
    // quasi groups: (a,1)×3, (a,2)×2, (null,1)×2, (b,1)×1
    val df = (Seq.fill(3)((Some("a"), 1L)) ++ Seq.fill(2)((Some("a"), 2L)) ++
      Seq.fill(2)((None: Option[String], 1L)) :+ ((Some("b"), 1L)))
      .zipWithIndex.map { case ((q1, q2), i) => (i.toLong, q1, q2) }
      .toDF("id", "q1", "q2")
    def run(opts: (String, Any)*) = StatStages.kAnonymity(ComponentSpec(
      "kanonymity", Map("fields" -> Seq("q1", "q2")) ++ opts.toMap), ctx)(df)
    // filter (default): only the singleton (b,1) row is withheld; the
    // NULL quasi group (size 2) must pass — nulls group together
    val kept = run("k" -> 2).select("q1", "q2")
      .as[(Option[String], Long)].collect().toSeq
    assert(kept.size == 7 && !kept.contains((Some("b"), 1L)))
    assert(kept.count(_._1.isEmpty) == 2)
    // k=3 keeps only the size-3 group
    assert(run("k" -> 3).count() == 3)
    // flag keeps every row and marks the small group false
    val flags = run("k" -> 2, "action" -> "flag")
      .select("q1", "q2", "k_anonymous")
      .as[(Option[String], Long, Boolean)].collect().toSeq
    assert(flags.size == 8)
    assert(flags.filter(!_._3).map(r => (r._1, r._2)) == Seq((Some("b"), 1L)))
    // suppress keeps every row but NULLs the quasi columns in small groups
    val sup = run("k" -> 2, "action" -> "suppress")
      .select("id", "q1").as[(Long, Option[String])].collect().toMap
    assert(sup.size == 8 && sup(7L).isEmpty) // the (b,1) row, quasi wiped
    assert(sup(0L) == Some("a"))             // large groups untouched
    // l-diversity: the (a,1)×3 group is k-ok at k=2 but its sensitive
    // values are HOMOGENEOUS — l=2 withholds it; (a,2) carries 2
    // distinct sensitive values and passes
    val ldf = Seq(("a", 1L, "s1"), ("a", 1L, "s1"), ("a", 1L, "s1"),
      ("a", 2L, "s1"), ("a", 2L, "s2")).toDF("q1", "q2", "sens")
    val ld = StatStages.kAnonymity(ComponentSpec("kanonymity",
      Map("fields" -> Seq("q1", "q2"), "k" -> 2, "l" -> 2,
        "sensitiveField" -> "sens")), ctx)(ldf)
      .select("q2").as[Long].collect().toSeq
    assert(ld == Seq(2L, 2L), ld.toString)
    // l > 1 without a sensitiveField fails loud
    assert(intercept[Exception](run("l" -> 3))
      .getMessage.contains("sensitiveField"))
    // guards: missing fields, unknown column, k < 2, bad action
    assert(intercept[Exception](run("fields" -> Seq.empty[String]))
      .getMessage.contains("fields"))
    assert(intercept[Exception](StatStages.kAnonymity(ComponentSpec(
      "kanonymity", Map("fields" -> Seq("zzz"))), ctx)(df))
      .getMessage.contains("zzz"))
    assert(intercept[Exception](run("k" -> 1)).getMessage.contains("k"))
    assert(intercept[Exception](run("action" -> "zap").collect())
      .getMessage.contains("action"))
  }

  test("chisquare: 2x2 statistic matches hand computation; degenerate → null") {
    val ctx = newCtx()
    import spark.implicits._
    // (f1,c0)×3 (f1,c1)×1 (f2,c0)×1 (f2,c1)×3 (null,c0)×2 → n=10
    val df = (Seq.fill(3)((Some("f1"), 0L)) ++ Seq((Some("f1"), 1L)) ++
      Seq((Some("f2"), 0L)) ++ Seq.fill(3)((Some("f2"), 1L)) ++
      Seq.fill(2)((None: Option[String], 0L)))
      .toDF("feature", "class")
    val out = StatStages.chiSquare(ComponentSpec("chisquare", Map()), ctx)(df)
      .select("feature", "class", "n11", "n_feature", "n_class", "n", "chi2")
      .as[(Option[String], Long, Long, Long, Long, Long, Option[Double])]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    assert(out.size == 5)
    // (f1,c0): O = [3,1;3,3], diff = 9−3 = 6, chi2 = 10·36/(4·6·6·4) = 0.625
    assert(out((Some("f1"), 0L)) == ((3L, 4L, 6L, 10L, Some(0.625))))
    // the NULL feature is a real group: O = [2,0;4,4], diff = 8,
    // chi2 = 10·64/(2·8·6·4) = 640/384
    assert(out((None, 0L)) == ((2L, 2L, 6L, 10L, Some(640.0 / 384.0))))
    // minCount prunes rare pairs AFTER the marginals are fixed
    val pruned = StatStages.chiSquare(ComponentSpec("chisquare",
      Map("minCount" -> 2)), ctx)(df)
    assert(pruned.count() == 3) // (f1,c1) and (f2,c0) singletons dropped
    // single-class input: m4 = 0 → null chi2, never ±Inf
    val degen = Seq(("f1", 0L), ("f2", 0L)).toDF("feature", "class")
    val d = StatStages.chiSquare(ComponentSpec("chisquare", Map()), ctx)(degen)
      .select("chi2").as[Option[Double]].collect().toSeq
    assert(d == Seq(None, None))
    // missing column fails loud
    assert(intercept[Exception](StatStages.chiSquare(ComponentSpec(
      "chisquare", Map("featureField" -> "zzz")), ctx)(df))
      .getMessage.contains("zzz"))
  }

  test("onehot: sorted dummy columns, null→all-zeros, dropFirst, guards") {
    val ctx = newCtx()
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, Some("b!")), (3L, None), (4L, Some("a")))
      .toDF("id", "x")
    def run(opts: (String, Any)*) = StatStages.oneHot(ComponentSpec(
      "onehot", Map("field" -> "x") ++ opts.toMap), ctx)(df)
    val out = run()
    assert(out.columns.toSeq == Seq("id", "x", "x_a", "x_b_")) // sorted, sanitized
    val rows = out.select("id", "x_a", "x_b_")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows(1L) == ((1L, 0L)) && rows(2L) == ((0L, 1L)))
    assert(rows(3L) == ((0L, 0L)))                 // NULL claims no column
    // dropFirst drops the first sorted level (dummy-trap convention)
    assert(run("dropFirst" -> true).columns.toSeq == Seq("id", "x", "x_b_"))
    // cardinality overflow names the migration
    val e = intercept[Exception](run("maxCardinality" -> 1))
    assert(e.getMessage.contains("featurehash"), e.getMessage)
    // post-sanitize collision fails loud rather than merging categories
    val coll = Seq((1L, "b!"), (2L, "b?")).toDF("id", "x")
    val ce = intercept[Exception](StatStages.oneHot(ComponentSpec(
      "onehot", Map("field" -> "x")), ctx)(coll))
    assert(ce.getMessage.contains("collide"), ce.getMessage)
  }

  test("percentrank: tie-shared ranks per group; keyless requires global ack") {
    val ctx = newCtx()
    import spark.implicits._
    val df = Seq(("g", 10L), ("g", 20L), ("g", 20L), ("g", 30L), ("h", 5L))
      .toDF("k", "v")
    val out = StatStages.percentRank(ComponentSpec("percentrank",
      Map("field" -> "v", "groupBy" -> Seq("k"))), ctx)(df)
      .select("k", "v", "v_pct").as[(String, Long, Double)].collect()
    assert(out.filter(_._1 == "g").map(r => (r._2, r._3)).sorted.toSeq ==
      Seq((10L, 0.0), (20L, 1.0 / 3.0), (20L, 1.0 / 3.0), (30L, 1.0)))
    assert(out.filter(_._1 == "h").map(_._3).toSeq == Seq(0.0)) // n=1 → 0
    // keyless percent_rank is a single-reducer sort: refuse by default
    val e = intercept[Exception](StatStages.percentRank(ComponentSpec(
      "percentrank", Map("field" -> "v")), ctx)(df))
    assert(e.getMessage.contains("quantilebin"), e.getMessage)
    assert(StatStages.percentRank(ComponentSpec("percentrank",
      Map("field" -> "v", "global" -> true)), ctx)(df).count() == 5)
    // keyless INTEGRAL path (two-level rank prefix) must equal the
    // percent_rank window EXACTLY, ties + NULL-first included
    val kv = Seq(Some(10L), Some(20L), Some(20L), Some(40L), None,
      Some(-3L), Some(40L), Some(7L)).toDF("v")
    val fast = StatStages.percentRank(ComponentSpec("percentrank",
      Map("field" -> "v", "global" -> true)), ctx)(kv)
      .select("v", "v_pct").as[(Option[Long], Double)].collect()
      .sortBy(r => (r._1.getOrElse(Long.MinValue), r._2))
    val ref = kv.withColumn("v_pct", percent_rank().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("v").asc)))
      .select("v", "v_pct").as[(Option[Long], Double)].collect()
      .sortBy(r => (r._1.getOrElse(Long.MinValue), r._2))
    assert(fast.toSeq == ref.toSeq)
    // the distributed path must not sort all rows through one partition
    val plan = StatStages.percentRank(ComponentSpec("percentrank",
      Map("field" -> "v", "global" -> true)), ctx)(kv)
      .queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(__bkt"),
      s"keyless integral percentrank must window by bucket:\n$plan")
    // an all-NULL field is legal input: min/max aggregate to NULL and
    // the span overflow guard must NOT fire (r17 review: spanOf raised
    // its misleading 2^63 error on the NULL span)
    val allNull = Seq(Option.empty[Long], Option.empty[Long]).toDF("v")
    assert(StatStages.percentRank(ComponentSpec("percentrank",
      Map("field" -> "v", "global" -> true)), ctx)(allNull).count() == 2)
    // ...while a REAL 2^63 span fails loud with the named error
    val wide = Seq(Long.MinValue, 1L).toDF("v")
    val ov = intercept[Exception](StatStages.percentRank(ComponentSpec(
      "percentrank", Map("field" -> "v", "global" -> true)), ctx)(wide)
      .collect())
    assert(ov.getMessage.contains("2^63"), ov.getMessage)
    // a comma-string key list groups like the JSON list
    val two = df.withColumn("h", col("v") % 20)
    def pcts(groupBy: Any) = StatStages.percentRank(ComponentSpec("percentrank",
      Map("field" -> "v", "groupBy" -> groupBy)), ctx)(two)
      .select("k", "h", "v", "v_pct").as[(String, Long, Long, Double)].collect().toSet
    assert(pcts("k, h") == pcts(Seq("k", "h")))
    assert(pcts("k, h").size == 4)
  }

  test("proportions: Wilson CI matches an independent computation; null ≠ trial") {
    val ctx = newCtx()
    import spark.implicits._
    // g: 3/4 converted plus one NULL (not a trial); h: 0/2
    val df = Seq(("g", Some(true)), ("g", Some(true)), ("g", Some(true)),
      ("g", Some(false)), ("g", None), ("h", Some(false)), ("h", Some(false)))
      .toDF("k", "c")
    val out = StatStages.proportions(ComponentSpec("proportions",
      Map("successField" -> "c", "groupBy" -> Seq("k"))), ctx)(df)
      .select("k", "n", "successes", "rate", "ci_low", "ci_high")
      .as[(String, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    def wilson(s: Long, n: Long): (Double, Double) = {
      val z = 1.96; val p = s.toDouble / n; val t = z * z / n
      val c0 = (p + t / 2.0) / (1.0 + t)
      val h = z * math.sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n)) / (1.0 + t)
      (c0 - h, c0 + h)
    }
    val (gl, gh) = wilson(3, 4)
    assert(out("g")._1 == 4L && out("g")._2 == 3L && out("g")._3 == 0.75)
    assert(math.abs(out("g")._4 - gl) < 1e-12 && math.abs(out("g")._5 - gh) < 1e-12)
    // zero successes: the interval still has positive width (Wilson's
    // point vs the degenerate ±z√(pq/n) = 0)
    assert(out("h")._3 == 0.0 && out("h")._4 == wilson(0, 2)._1 &&
      out("h")._5 > 0.1)
    // numeric success column (nonzero = success); global one-row mode
    val num = Seq(1L, 0L, 2L).toDF("c")
    val g = StatStages.proportions(ComponentSpec("proportions",
      Map("successField" -> "c")), ctx)(num)
      .select("n", "successes").as[(Long, Long)].head()
    assert(g == ((3L, 2L)))
    // string success column fails loud
    assert(intercept[Exception](StatStages.proportions(ComponentSpec(
      "proportions", Map("successField" -> "k", "groupBy" -> Seq("k"))),
      ctx)(df)).getMessage.contains("boolean or numeric"))
  }

  test("entropy: floor-log2 bits hand values; null category; constant→0; global") {
    val ctx = newCtx()
    import spark.implicits._
    val df = Seq(("a", Some("x")), ("a", Some("x")), ("a", Some("x")),
      ("a", Some("y")), ("b", Some("z")), ("b", Some("z")),
      ("c", Some("x")), ("c", Some("y")), ("c", None), ("c", Some("w")))
      .toDF("g", "v")
    val out = StatStages.entropy(ComponentSpec("entropy",
      Map("field" -> "v", "groupBy" -> Seq("g"))), ctx)(df)
      .select("g", "n", "distinct_vals", "info_bits", "entropy_bits")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // a: x×3 → ⌊log2(4 div 3)⌋ = 0 each, y×1 → ⌊log2 4⌋ = 2 → 2/4
    assert(out("a") == ((4L, 2L, 2L, 0.5)))
    // constant column: zero bits — the "is it informative" floor
    assert(out("b") == ((2L, 1L, 0L, 0.0)))
    // all-distinct incl. the NULL category: 4 × ⌊log2 4⌋ = 8 → 2.0
    assert(out("c") == ((4L, 4L, 8L, 2.0)))
    // global mode: one row over everything
    val g = StatStages.entropy(ComponentSpec("entropy",
      Map("field" -> "v")), ctx)(df)
      .select("n", "distinct_vals").as[(Long, Long)].collect().toSeq
    assert(g == Seq((10L, 5L))) // categories: x y z w and the NULL one
    assert(intercept[Exception](StatStages.entropy(
      ComponentSpec("entropy", Map()), ctx)(df)).getMessage.contains("field"))
    assert(intercept[Exception](StatStages.entropy(ComponentSpec(
      "entropy", Map("field" -> "v", "groupBy" -> Seq("zz"))), ctx)(df))
      .getMessage.contains("zz"))
  }

  test("freqpairs: pair support/lift hand values; set semantics; oversize guard") {
    val ctx = newCtx()
    import spark.implicits._
    // b1:{x,y,z} b2:{x,y} b3:{x,x,y — dup dedups} b4:{z} → 4 baskets
    val df = Seq(("b1", "x"), ("b1", "y"), ("b1", "z"), ("b2", "x"),
      ("b2", "y"), ("b3", "x"), ("b3", "x"), ("b3", "y"), ("b4", "z"))
      .toDF("bk", "it")
    def run(opts: (String, Any)*) = StatStages.freqPairs(ComponentSpec(
      "freqpairs", Map("basketField" -> "bk", "itemField" -> "it")
        ++ opts.toMap), ctx)(df)
      .select("item1", "item2", "n_pair", "n_item1", "n_item2",
        "n_baskets", "support", "lift_bits")
      .as[(String, String, Long, Long, Long, Long, Double, Long)]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7, r._8))).toMap
    // default minCount=2: only (x,y) — 3 baskets of 4, support 0.75;
    // lift a = 3·4 = 12 ≥ b = 3·3 = 9 → +len(bin(12 div 9 = 1)) = +1
    val out = run()
    assert(out == Map(("x", "y") -> ((3L, 3L, 3L, 4L, 0.75, 1L))))
    // minCount=1 surfaces the rare pairs; (x,z) is ANTI-associated:
    // a = 1·4 = 4 < b = 3·2 = 6 → −len(bin(6 div 4 = 1)) = −1
    val all = run("minCount" -> 1)
    assert(all.size == 3)
    assert(all(("x", "z")) == ((1L, 3L, 2L, 4L, 0.25, -1L)))
    assert(all(("y", "z")) == ((1L, 3L, 2L, 4L, 0.25, -1L)))
    // oversizeAction=error (default) fails loud past maxBasketSize
    val e = intercept[Exception](run("maxBasketSize" -> 2))
    assert(e.getMessage.contains("maxBasketSize"), e.getMessage)
    // drop excludes the oversized basket: (x,y) now from b2+b3 of 3 baskets
    val dropped = run("maxBasketSize" -> 2, "oversizeAction" -> "drop")
    assert(dropped == Map(("x", "y") -> ((2L, 2L, 2L, 3L, 2.0 / 3.0, 1L))))
    // required options fail loud
    assert(intercept[Exception](StatStages.freqPairs(ComponentSpec(
      "freqpairs", Map("itemField" -> "it")), ctx)(df))
      .getMessage.contains("basketField"))
  }

  test("gini: exact impurity hand values; null category; constant→0; global") {
    val ctx = newCtx()
    import spark.implicits._
    val df = Seq(("a", Some("x")), ("a", Some("x")), ("a", Some("x")),
      ("a", Some("y")), ("b", Some("z")), ("b", Some("z")),
      ("c", Some("x")), ("c", Some("y")), ("c", None), ("c", Some("w")))
      .toDF("g", "v")
    val out = StatStages.gini(ComponentSpec("gini",
      Map("field" -> "v", "groupBy" -> Seq("g"))), ctx)(df)
      .select("g", "n", "distinct_vals", "gini_num", "gini")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // a: 16 − (9+1) = 6 → 0.375; b constant → 0; c all-distinct with
    // the NULL category: 16 − 4 = 12 → 0.75
    assert(out("a") == ((4L, 2L, 6L, 0.375)))
    assert(out("b") == ((2L, 1L, 0L, 0.0)))
    assert(out("c") == ((4L, 4L, 12L, 0.75)))
    val g = StatStages.gini(ComponentSpec("gini", Map("field" -> "v")),
      ctx)(df).select("n", "distinct_vals").as[(Long, Long)].head()
    assert(g == ((10L, 5L)))
    assert(intercept[Exception](StatStages.gini(
      ComponentSpec("gini", Map()), ctx)(df)).getMessage.contains("field"))
  }

  test("mutualinfo: integer-bits association hand values; nulls dropped; minCount") {
    val ctx = newCtx()
    import spark.implicits._
    val df = Seq(
      Some("f1") -> Some("A"), Some("f1") -> Some("A"), Some("f1") -> Some("A"),
      Some("f1") -> Some("B"), Some("f2") -> Some("A"), Some("f2") -> Some("B"),
      Some("f2") -> Some("B"), Some("f2") -> Some("B"),
      None -> Some("A"), Some("f1") -> None) // dropped
      .toDF("tok", "cls")
    val out = StatStages.mutualInfo(ComponentSpec("mutualinfo",
      Map("featureField" -> "tok", "classField" -> "cls")), ctx)(df)
      .select("feature", "n", "mi_bits", "mi_rate")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // N=8, marginals all 4. f1A: a=24 ≥ b=16 → +1 ×3; f1B: a=8 < 16 →
    // −len(bin(2)) = −2 ×1 → mi_bits 1; f2 symmetric
    assert(out("f1") == ((4L, 1L, 0.25)))
    assert(out("f2") == ((4L, 1L, 0.25)))
    // minCount prunes whole features
    val pruned = StatStages.mutualInfo(ComponentSpec("mutualinfo",
      Map("featureField" -> "tok", "classField" -> "cls",
        "minCount" -> 5)), ctx)(df)
    assert(pruned.count() == 0L)
    assert(intercept[Exception](StatStages.mutualInfo(ComponentSpec(
      "mutualinfo", Map("featureField" -> "tok")), ctx)(df))
      .getMessage.contains("classField"))
  }

  test("robustscale: median/IQR hand values; zero-IQR null; keyless global") {
    val ctx = newCtx()
    import spark.implicits._
    val df = Seq(("g", Some(1L)), ("g", Some(2L)), ("g", Some(3L)),
      ("g", Some(4L)), ("g", Some(5L)), ("g", None),
      ("c", Some(7L)), ("c", Some(7L)))
      .toDF("k", "x")
    val out = StatStages.robustScale(ComponentSpec("robustscale",
      Map("field" -> "x", "keyField" -> "k")), ctx)(df)
      .select("k", "x", "x_robust")
      .as[(String, Option[Long], Option[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // g: q1=2 med=3 q3=4 (integral indexes) → (x−3)/2
    assert(out(("g", Some(1L))) == Some(-1.0))
    assert(out(("g", Some(3L))) == Some(0.0))
    assert(out(("g", Some(5L))) == Some(1.0))
    assert(out(("g", None)).isEmpty, "null value passes through null")
    assert(out(("c", Some(7L))).isEmpty, "zero IQR → null, not a blow-up")
    // keyless: one global triple broadcast back
    val g = StatStages.robustScale(ComponentSpec("robustscale",
      Map("field" -> "x")), ctx)(df.where(col("x").isNotNull))
    assert(g.count() == 7L)
    assert(intercept[Exception](StatStages.robustScale(ComponentSpec(
      "robustscale", Map("field" -> "x", "mode" -> "zz")), ctx)(df))
      .getMessage.contains("exact|approx"))
  }

  test("regressioneval: MAE/MSE/RMSE/R2 hand values; zero-variance null r2") {
    val ctx = newCtx()
    import spark.implicits._
    val df = Seq((10L, 12L), (20L, 18L), (30L, 30L), (40L, 44L))
      .toDF("y", "yhat")
    val out = StatStages.regressionEval(ComponentSpec("regressioneval",
      Map("labelField" -> "y", "predField" -> "yhat")), ctx)(df)
      .select("n", "mae", "mse", "rmse", "r2")
      .as[(Long, Double, Double, Double, Option[Double])].head()
    // e = 2,−2,0,4: Σ|e|=8 Σe²=24; sst_num = 4·3000 − 100² = 2000
    assert(out == ((4L, 2.0, 6.0, math.sqrt(6.0), Some(1.0 - 96.0 / 2000.0))))
    // constant actuals: zero variance → null r2 (mae still defined)
    val const = Seq((5L, 6L), (5L, 4L)).toDF("y", "yhat")
    val c = StatStages.regressionEval(ComponentSpec("regressioneval",
      Map("labelField" -> "y", "predField" -> "yhat")), ctx)(const)
      .select("mae", "r2").as[(Double, Option[Double])].head()
    assert(c == ((1.0, None)))
    // non-integral fails loud
    val dbl = Seq((0.5, 0.5)).toDF("y", "yhat")
    assert(intercept[Exception](StatStages.regressionEval(ComponentSpec(
      "regressioneval", Map("labelField" -> "y", "predField" -> "yhat")),
      ctx)(dbl)).getMessage.contains("INTEGRAL"))
  }

  test("calibration: reliability bins hand values; integral score guard") {
    val ctx = newCtx()
    import spark.implicits._
    val df = Seq((50L, false), (50L, false), (150L, true),
      (950L, true), (990L, true), (910L, false))
      .toDF("s", "y")
    val out = StatStages.calibration(ComponentSpec("calibration",
      Map("scoreField" -> "s", "labelField" -> "y")), ctx)(df)
      .select("bin", "n", "positives", "conf", "acc", "gap")
      .as[(Long, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(out(0L) == ((2L, 0L, 0.05, 0.0, 0.0 - 0.05)))
    assert(out(1L) == ((1L, 1L, 0.15, 1.0, 1.0 - 0.15)))
    val conf9 = 2850.0 / 3.0 / 1000.0
    assert(out(9L) == ((3L, 2L, conf9, 2.0 / 3.0, 2.0 / 3.0 - conf9)))
    assert(intercept[Exception](StatStages.calibration(ComponentSpec(
      "calibration", Map("scoreField" -> "s", "labelField" -> "y",
        "bins" -> 1)), ctx)(df)).getMessage.contains("bins"))
    val dbl = Seq((0.5, true)).toDF("s", "y")
    assert(intercept[Exception](StatStages.calibration(ComponentSpec(
      "calibration", Map("scoreField" -> "s", "labelField" -> "y")),
      ctx)(dbl)).getMessage.contains("INTEGRAL"))
  }

  test("abtest: z vs control hand value; degenerate null; missing control loud") {
    val ctx = newCtx()
    import spark.implicits._
    val df = Seq(("c", true), ("c", false), ("c", false), ("c", false),
      ("v", true), ("v", true), ("v", true), ("v", false),
      ("d", false), ("d", false))
      .toDF("arm", "ok")
    val out = StatStages.abTest(ComponentSpec("abtest",
      Map("variantField" -> "arm", "successField" -> "ok",
        "control" -> "c")), ctx)(df)
      .select("variant", "n", "successes", "rate", "control_rate", "z")
      .as[(String, Long, Long, Double, Double, Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // v vs c: p1=3/4, p0=1/4, pooled=4/8 → z = 0.5/√(0.25·0.5) = √2
    val zv = (3.0 / 4.0 - 1.0 / 4.0) /
      math.sqrt(0.5 * (1.0 - 0.5) * (1.0 / 4.0 + 1.0 / 4.0))
    assert(out("v") == ((4L, 3L, 0.75, 0.25, Some(zv))))
    assert(out("d")._1 == 2L && out("d")._5.isDefined)
    assert(!out.contains("c"), "control is the baseline, not a row")
    // pooled rate 0 → null z
    val degen = Seq(("c", false), ("x", false)).toDF("arm", "ok")
    val d = StatStages.abTest(ComponentSpec("abtest",
      Map("variantField" -> "arm", "successField" -> "ok",
        "control" -> "c")), ctx)(degen)
      .select("z").as[Option[Double]].head()
    assert(d.isEmpty)
    assert(intercept[Exception](StatStages.abTest(ComponentSpec("abtest",
      Map("variantField" -> "arm", "successField" -> "ok",
        "control" -> "zzz")), ctx)(df).count())
      .getMessage.contains("control"))
  }

  test("survival: Kaplan-Meier hand curve; censoring; guards") {
    val ctx = newCtx()
    import spark.implicits._
    // t=1 event, t=2 event + censored, t=3 event, t=4 censored
    val df = Seq((1L, true), (2L, true), (2L, false), (3L, true),
      (4L, false)).toDF("t", "e")
    val out = StatStages.survival(ComponentSpec("survival",
      Map("timeField" -> "t", "eventField" -> "e")), ctx)(df)
      .select("time", "n_risk", "events", "censored", "survival")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val s1 = 1.0 - 1.0 / 5.0
    val s2 = s1 * (1.0 - 1.0 / 4.0)
    val s3 = s2 * (1.0 - 1.0 / 2.0)
    assert(out(1L) == ((5L, 1L, 0L, s1)))
    assert(out(2L) == ((4L, 1L, 1L, s2)))
    assert(out(3L) == ((2L, 1L, 0L, s3)))
    assert(out(4L) == ((1L, 0L, 1L, s3 * (1.0 - 0.0 / 1.0))))
    // grouped curves are independent
    val g = Seq(("a", 1L, true), ("a", 2L, false), ("b", 1L, false))
      .toDF("g", "t", "e")
    val byG = StatStages.survival(ComponentSpec("survival",
      Map("timeField" -> "t", "eventField" -> "e",
        "groupBy" -> Seq("g"))), ctx)(g)
      .select("g", "time", "n_risk", "survival")
      .as[(String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(byG(("a", 1L)) == ((2L, 1.0 - 1.0 / 2.0)))
    assert(byG(("b", 1L)) == ((1L, 1.0 - 0.0 / 1.0)))
    // guards: distinct-time bound; integral time
    assert(intercept[Exception](StatStages.survival(ComponentSpec(
      "survival", Map("timeField" -> "t", "eventField" -> "e",
        "maxTimes" -> 2)), ctx)(df)).getMessage.contains("maxTimes"))
    val dbl = Seq((0.5, true)).toDF("t", "e")
    assert(intercept[Exception](StatStages.survival(ComponentSpec(
      "survival", Map("timeField" -> "t", "eventField" -> "e")),
      ctx)(dbl)).getMessage.contains("INTEGRAL"))
  }

  test("concentration: exact Gini of key volumes; ties; uniform=0; groups") {
    val ctx = newCtx()
    import spark.implicits._
    // key volumes (row counts): a=1, b=1, c=3, d=5 → sorted Σi·x = 32,
    // S=10, n=4 → G = (64 − 50)/40 = 0.35; max_share = 0.5
    val df = (Seq("a", "b") ++ Seq.fill(3)("c") ++ Seq.fill(5)("d"))
      .toDF("k")
    val out = StatStages.concentration(ComponentSpec("concentration",
      Map("keyField" -> "k")), ctx)(df)
      .select("n_keys", "total", "max_share", "gini")
      .as[(Long, Long, Double, Double)].head()
    assert(out == ((4L, 10L, 0.5, 14.0 / 40.0)))
    // uniform volumes → G = 0
    val uni = Seq("x", "y", "z").toDF("k")
    assert(StatStages.concentration(ComponentSpec("concentration",
      Map("keyField" -> "k")), ctx)(uni)
      .select("gini").as[Double].head() == 0.0)
    // explicit integral valueField + groups
    val g = Seq(("g1", "a", 1L), ("g1", "b", 9L), ("g2", "a", 2L),
      ("g2", "b", 2L)).toDF("grp", "k", "v")
    val byG = StatStages.concentration(ComponentSpec("concentration",
      Map("keyField" -> "k", "valueField" -> "v",
        "groupBy" -> Seq("grp"))), ctx)(g)
      .select("grp", "gini").as[(String, Double)].collect().toMap
    // g1: Σi·x = 1 + 18 = 19 → (38 − 30)/20 = 0.4; g2 uniform → 0
    assert(byG("g1") == 8.0 / 20.0 && byG("g2") == 0.0)
    // a key whose values are all NULL has no volume and is no key:
    // {A: NULL, B: 1, C: 2} is {B: 1, C: 2} — Σi·x = 5, S = 3, n = 2
    val withNull = Seq(("A", None), ("B", Some(1L)), ("C", Some(2L))).toDF("k", "v")
    assert(StatStages.concentration(ComponentSpec("concentration",
      Map("keyField" -> "k", "valueField" -> "v")), ctx)(withNull)
      .select("n_keys", "total", "gini").as[(Long, Long, Double)].head() ==
      ((2L, 3L, 1.0 / 6.0)))
    assert(intercept[Exception](StatStages.concentration(ComponentSpec(
      "concentration", Map()), ctx)(df)).getMessage.contains("keyField"))
  }

  test("bucketize: explicit-edge bins; boundaries inclusive; null passes; guards") {
    val ctx = newCtx()
    import spark.implicits._
    val df = Seq(Some(-5L), Some(0L), Some(9L), Some(10L), Some(11L),
      Some(99L), Some(100L), None).toDF("v")
    val out = StatStages.bucketize(ComponentSpec("bucketize",
      Map("field" -> "v", "splits" -> Seq(0, 10, 100))), ctx)(df)
      .select("v", "v_bin").as[(Option[Long], Option[Long])].collect().toMap
    assert(out(Some(-5L)) == Some(0L))
    assert(out(Some(0L)) == Some(1L), "edges are inclusive lower bounds")
    assert(out(Some(9L)) == Some(1L))
    assert(out(Some(10L)) == Some(2L))
    assert(out(Some(99L)) == Some(2L))
    assert(out(Some(100L)) == Some(3L))
    assert(out(None).isEmpty)
    assert(intercept[Exception](StatStages.bucketize(ComponentSpec(
      "bucketize", Map("field" -> "v", "splits" -> Seq(10, 0))),
      ctx)(df)).getMessage.contains("sorted"))
    val dbl = Seq(0.5).toDF("v")
    assert(intercept[Exception](StatStages.bucketize(ComponentSpec(
      "bucketize", Map("field" -> "v", "splits" -> Seq(1))), ctx)(dbl))
      .getMessage.contains("INTEGRAL"))
  }

  test("tcloseness: exact TVD per quasi group; absent-value mass; actions") {
    val ctx = newCtx()
    import spark.implicits._
    // global {a:3, b:3}: homogeneous groups sit at TVD 0.5 (present
    // term 6 + absent term 6 over 2·2·6); the balanced group at 0
    val df = Seq(("q1", "a"), ("q1", "a"), ("q2", "b"), ("q2", "b"),
      ("q3", "a"), ("q3", "b")).toDF("q", "s")
    def run(opts: (String, Any)*) = StatStages.tCloseness(ComponentSpec(
      "tcloseness", Map("fields" -> Seq("q"), "sensitiveField" -> "s")
        ++ opts.toMap), ctx)(df)
    val flagged = run("t" -> "0.4", "action" -> "flag")
      .select("q", "tvd", "t_close").as[(String, Double, Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toSet
    assert(flagged == Set("q1" -> ((0.5, false)), "q2" -> ((0.5, false)),
      "q3" -> ((0.0, true))))
    // filter drops the skewed groups' rows
    assert(run("t" -> "0.4").select("q").as[String].collect().toSeq
      .forall(_ == "q3"))
    assert(run("t" -> "0.6").count() == 6L, "t=0.6 admits everything")
    // NULL sensitive values and NULL quasi keys are real — no row loss
    val withNulls = Seq((Some("q1"), Some("a")), (Some("q1"), None),
      (None, Some("a")), (None, None)).toDF("q", "s")
    assert(StatStages.tCloseness(ComponentSpec("tcloseness",
      Map("fields" -> Seq("q"), "sensitiveField" -> "s", "t" -> "1.0",
        "action" -> "flag")), ctx)(withNulls).count() == 4L)
    assert(intercept[Exception](run("t" -> "1.5").count())
      .getMessage.contains("t must"))
    assert(intercept[Exception](StatStages.tCloseness(ComponentSpec(
      "tcloseness", Map("fields" -> Seq("q"), "sensitiveField" -> "s")),
      ctx)(df)).getMessage.contains("`t`"))
  }

  test("schemadiff: both/mismatch/only classifications; metadata-only") {
    val ctx = newCtx()
    import spark.implicits._
    Seq((1L, "x", 2.0)).toDF("id", "a", "c")
      .createOrReplaceTempView("sd_right")
    val left = Seq((1L, 1, true)).toDF("id", "a", "b")
    val out = StatStages.schemaDiff(ComponentSpec("schemadiff",
      Map("against" -> "sd_right")), ctx)(left)
      .select("column", "type_left", "type_right", "status")
      .as[(String, Option[String], Option[String], String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("id") == ((Some("bigint"), Some("bigint"), "both")))
    assert(out("a") == ((Some("int"), Some("string"), "type_mismatch")))
    assert(out("b") == ((Some("boolean"), None, "left_only")))
    assert(out("c") == ((None, Some("double"), "right_only")))
    assert(intercept[Exception](StatStages.schemaDiff(ComponentSpec(
      "schemadiff", Map()), ctx)(left)).getMessage.contains("against"))
  }

  test("kstest: exact two-sample KS distance; arg-max location; integral guard") {
    val ctx = newCtx()
    import spark.implicits._
    val cur = Seq(1L, 2L, 2L, 5L).toDF("v")
    Seq(2L, 5L, 5L, 9L).toDF("v").createOrReplaceTempView("ks_base")
    // cums: v1 (1,0)→4; v2 (3,1)→8; v5 (4,3)→4; v9 (4,4)→0 → max 8 at 2
    val out = StatStages.ksTest(ComponentSpec("kstest",
      Map("field" -> "v", "against" -> "ks_base")), ctx)(cur)
      .select("n_cur", "n_base", "distinct_vals", "ks_num", "ks", "ks_at")
      .as[(Long, Long, Long, Long, Double, Long)].head()
    assert(out == ((4L, 4L, 4L, 8L, 0.5, 2L)))
    // identical samples → D = 0, location = the earliest value
    Seq(1L, 2L).toDF("v").createOrReplaceTempView("ks_same")
    val z = StatStages.ksTest(ComponentSpec("kstest",
      Map("field" -> "v", "against" -> "ks_same")), ctx)(Seq(1L, 2L).toDF("v"))
      .select("ks_num", "ks", "ks_at").as[(Long, Double, Long)].head()
    assert(z == ((0L, 0.0, 1L)))
    val dbl = Seq(0.5).toDF("v")
    assert(intercept[Exception](StatStages.ksTest(ComponentSpec("kstest",
      Map("field" -> "v", "against" -> "ks_base")), ctx)(dbl))
      .getMessage.contains("INTEGRAL"))
    assert(intercept[Exception](StatStages.ksTest(ComponentSpec("kstest",
      Map("field" -> "v")), ctx)(cur)).getMessage.contains("against"))
  }

  test("drift: exact TVD hand values; one-sided values; detail mode; nulls") {
    val ctx = newCtx()
    import spark.implicits._
    val cur = Seq("a", "a", "a", "b").toDF("v")
    Seq("a", "a", "b", "b", "c", "c").toDF("v")
      .createOrReplaceTempView("drift_base")
    // TVD = ½(|3/4−2/6| + |1/4−2/6| + |0−2/6|) = 5/12;
    // num = |18−8| + |6−8| + |0−8| = 20, denom = 2·4·6 = 48
    val out = StatStages.drift(ComponentSpec("drift",
      Map("field" -> "v", "against" -> "drift_base")), ctx)(cur)
      .select("n_cur", "n_base", "distinct_vals", "tvd_num", "tvd")
      .as[(Long, Long, Long, Long, Double)].head()
    assert(out == ((4L, 6L, 3L, 20L, 20.0 / 48.0)))
    // detail mode: per-value rates and contributions, incl. the
    // baseline-only value c
    val det = StatStages.drift(ComponentSpec("drift",
      Map("field" -> "v", "against" -> "drift_base", "mode" -> "detail")),
      ctx)(cur)
      .select("value", "n_cur", "n_base", "cur_rate", "base_rate", "contrib_num")
      .as[(String, Long, Long, Double, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(det("a") == ((3L, 2L, 0.75, 2.0 / 6.0, 10L)))
    assert(det("c") == ((0L, 2L, 0.0, 2.0 / 6.0, 8L)))
    // NULL is a real category on both sides (null-safe join)
    val curN = Seq(Some("a"), None).toDF("v")
    Seq(Option.empty[String], None).toDF("v")
      .createOrReplaceTempView("drift_base_n")
    // cur: a 1/2, null 1/2; base: null 2/2 → TVD = ½(1/2 + 1/2) = 0.5
    val n = StatStages.drift(ComponentSpec("drift",
      Map("field" -> "v", "against" -> "drift_base_n")), ctx)(curN)
      .select("distinct_vals", "tvd").as[(Long, Double)].head()
    assert(n == ((2L, 0.5)))
    assert(intercept[Exception](StatStages.drift(ComponentSpec("drift",
      Map("field" -> "v")), ctx)(cur)).getMessage.contains("against"))
  }

  test("classifyeval: per-class hand values; null rows unscored; overall mode") {
    val ctx = newCtx()
    import spark.implicits._
    val df = Seq(
      Some("a") -> Some("a"), Some("a") -> Some("a"), Some("a") -> Some("b"),
      Some("b") -> Some("b"), Some("b") -> Some("a"), Some("b") -> Some("c"),
      Some("b") -> Some("d"), Some("c") -> Some("c"),
      None -> Some("a"), Some("a") -> None) // unscored
      .toDF("y", "yhat")
    val out = StatStages.classifyEval(ComponentSpec("classifyeval",
      Map("labelField" -> "y", "predField" -> "yhat")), ctx)(df)
      .select("class", "tp", "fp", "fn", "support", "precision", "recall", "f1")
      .as[(String, Long, Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7, r._8))).toMap
    assert(out("a") == ((2L, 1L, 1L, 3L,
      Some(2.0 / 3.0), Some(2.0 / 3.0), Some(4.0 / 6.0))))
    assert(out("b") == ((1L, 1L, 3L, 4L, Some(0.5), Some(0.25), Some(2.0 / 6.0))))
    assert(out("c") == ((1L, 1L, 0L, 1L, Some(0.5), Some(1.0), Some(2.0 / 3.0))))
    // predicted-only class: zero support → null recall, f1 from counts
    assert(out("d") == ((0L, 1L, 0L, 0L, Some(0.0), None, Some(0.0))))
    val g = StatStages.classifyEval(ComponentSpec("classifyeval",
      Map("labelField" -> "y", "predField" -> "yhat", "mode" -> "overall")),
      ctx)(df).select("n", "correct", "accuracy")
      .as[(Long, Long, Double)].head()
    assert(g == ((8L, 4L, 0.5)))
    assert(intercept[Exception](StatStages.classifyEval(ComponentSpec(
      "classifyeval", Map("labelField" -> "y", "predField" -> "yhat",
        "mode" -> "zz")), ctx)(df)).getMessage.contains("perclass"))
    assert(intercept[Exception](StatStages.classifyEval(ComponentSpec(
      "classifyeval", Map("labelField" -> "y")), ctx)(df))
      .getMessage.contains("predField"))
  }

  test("auc: tie-aware Mann-Whitney hand value; degenerate null; integral guard") {
    val ctx = newCtx()
    import spark.implicits._
    // pos scores {3,5,5}, neg {1,3,4}: U = 1.5 + 3 + 3 = 7.5 → 7.5/9
    val df = Seq((3L, true), (5L, true), (5L, true),
      (1L, false), (3L, false), (4L, false)).toDF("s", "y")
    val out = StatStages.auc(ComponentSpec("auc",
      Map("scoreField" -> "s", "labelField" -> "y")), ctx)(df)
      .select("n_pos", "n_neg", "auc").as[(Long, Long, Double)].head()
    assert(out == ((3L, 3L, 7.5 / 9.0)))
    // grouped: g1 as above, g2 all-positive → null auc; null rows unscored
    val gdf = Seq(
      (Some("g1"), Some(3L), Some(true)), (Some("g1"), Some(5L), Some(true)),
      (Some("g1"), Some(5L), Some(true)), (Some("g1"), Some(1L), Some(false)),
      (Some("g1"), Some(3L), Some(false)), (Some("g1"), Some(4L), Some(false)),
      (Some("g2"), Some(9L), Some(true)), (Some("g2"), Some(2L), Some(true)),
      (Some("g1"), None, Some(true)), (Some("g1"), Some(7L), None))
      .toDF("g", "s", "y")
    val byG = StatStages.auc(ComponentSpec("auc",
      Map("scoreField" -> "s", "labelField" -> "y",
        "groupBy" -> Seq("g"))), ctx)(gdf)
      .select("g", "n_pos", "n_neg", "auc")
      .as[(String, Long, Long, Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(byG("g1") == ((3L, 3L, Some(7.5 / 9.0))))
    assert(byG("g2") == ((2L, 0L, None)))
    // perfect separation and perfect inversion
    val sep = Seq((10L, true), (9L, true), (2L, false)).toDF("s", "y")
    assert(StatStages.auc(ComponentSpec("auc", Map("scoreField" -> "s",
      "labelField" -> "y")), ctx)(sep).select("auc").as[Double].head() == 1.0)
    val inv = Seq((1L, true), (9L, false)).toDF("s", "y")
    assert(StatStages.auc(ComponentSpec("auc", Map("scoreField" -> "s",
      "labelField" -> "y")), ctx)(inv).select("auc").as[Double].head() == 0.0)
    // non-integral score fails loud naming the quantize migration
    val dbl = Seq((0.5, true)).toDF("s", "y")
    assert(intercept[Exception](StatStages.auc(ComponentSpec("auc",
      Map("scoreField" -> "s", "labelField" -> "y")), ctx)(dbl))
      .getMessage.contains("INTEGRAL"))
  }

  test("targetencode: smoothed encoding hand values; null category; prior fallback") {
    val ctx = newCtx()
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), Some(10L)), (2L, Some("a"), Some(20L)),
      (3L, Some("b"), Some(30L)), (4L, Some("b"), None),
      (5L, Some("c"), None), (6L, None, Some(40L)))
      .toDF("id", "cat", "y")
    // μ = 100/4 = 25, m = 2: a → 80/4, b → 80/3, null-cat → 90/3,
    // c (no stats) → μ
    val out = StatStages.targetEncode(ComponentSpec("targetencode",
      Map("field" -> "cat", "targetField" -> "y", "smoothing" -> "2")),
      ctx)(df)
      .select("id", "cat_enc").as[(Long, Double)].collect().toMap
    assert(out(1L) == 20.0 && out(2L) == 20.0)
    assert(out(3L) == 80.0 / 3.0 && out(4L) == 80.0 / 3.0)
    assert(out(5L) == 25.0) // prior fallback: category with no observations
    assert(out(6L) == 30.0) // NULL is a real category
    // non-integral target fails loud; cardinality guard names featurehash
    val dbl = df.withColumn("y", col("y").cast("double"))
    assert(intercept[Exception](StatStages.targetEncode(ComponentSpec(
      "targetencode", Map("field" -> "cat", "targetField" -> "y")),
      ctx)(dbl)).getMessage.contains("INTEGRAL"))
    assert(intercept[Exception](StatStages.targetEncode(ComponentSpec(
      "targetencode", Map("field" -> "cat", "targetField" -> "y",
        "maxCardinality" -> 2)), ctx)(df))
      .getMessage.contains("featurehash"))
    assert(intercept[Exception](StatStages.targetEncode(ComponentSpec(
      "targetencode", Map("field" -> "cat", "targetField" -> "y",
        "outputField" -> "cat")), ctx)(df))
      .getMessage.contains("exists"))
  }
}
