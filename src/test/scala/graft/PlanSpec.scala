package graft

import graft.engine.Engine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the 100 TB posture, checked in CI:
  * filters reach the parquet scan, projections prune the read schema,
  * small dims broadcast, the fused CSV path is a native vectorized scan
  * (no zipWithIndex RDD pass), and exact dedup partial-aggregates
  * map-side. A plan regression fails the suite even while results stay
  * correct. */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan.toString
  }
  private def analyzedPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("flow skip on parquet: predicate pushed to the scan") {
    val out = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/lineitem.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"flow": {"operation": "skip", "if": "l_quantity > 45"}}],
      "loader": {"memory": {}} }""").select("l_orderkey", "l_quantity")
    val plan = analyzedPlan(out)
    assert(plan.contains("PushedFilters:") &&
      plan.replaceAll("\\s", "").contains("l_quantity"),
      s"filter not pushed:\n$plan")
  }

  test("column pruning: two-column projection reads a two-column schema") {
    val out = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/lineitem.parquet"}},
      "extractor": {"parquet": {}},
      "loader": {"memory": {}} }""").select("l_orderkey", "l_quantity")
    val plan = analyzedPlan(out)
    val schema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(schema.contains("l_orderkey") && schema.contains("l_quantity"))
    assert(!schema.contains("l_comment") && !schema.contains("l_extendedprice"),
      s"scan reads more than the projection:\n$schema")
  }

  test("link join broadcasts the small dimension") {
    val ctx = newCtx()
    val out = graft.stages.LookupStages.link(
      graft.spec.ComponentSpec("link", Map(
        "joinFieldName" -> "o_custkey", "lookup" -> "customer.c_custkey",
        "linkFieldName" -> "cust_link")), ctx)(ctx.table("orders"))
    assert(planOf(out).contains("BroadcastHashJoin"),
      "small dim should broadcast, not shuffle")
  }

  test("hint stage forces a broadcast join; repartition controls layout") {
    val ctx = newCtx()
    // the hint survives the __input temp-view registration into the
    // downstream SQL join's physical plan
    val out = Engine.runJson(ctx, s"""{
      "source": {"file": {"path": "$sfDir/customer.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [
        {"hint": {"name": "broadcast"}},
        {"code": {"language": "sql", "code":
          "SELECT o.o_orderkey, c.c_name FROM orders o JOIN __input c ON o.o_custkey = c.c_custkey"}}],
      "loader": {"memory": {}} }""")
    assert(planOf(out).contains("BroadcastHashJoin"),
      s"hinted join should broadcast:\n${planOf(out)}")
    // merge hint: the same join plans as a sort-merge instead
    val smj = Engine.runJson(ctx, s"""{
      "source": {"file": {"path": "$sfDir/customer.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [
        {"hint": {"name": "merge"}},
        {"code": {"language": "sql", "code":
          "SELECT o.o_orderkey, c.c_name FROM orders o JOIN __input c ON o.o_custkey = c.c_custkey"}}],
      "loader": {"memory": {}} }""")
    assert(planOf(smj).contains("SortMergeJoin"),
      s"merge hint should plan SMJ:\n${planOf(smj)}")
    // repartition: exact partition count on the requested keys
    val rep = Engine.runJson(ctx, s"""{
      "source": {"file": {"path": "$sfDir/orders.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"repartition": {"num": 7, "by": "o_custkey"}}],
      "loader": {"memory": {}} }""")
    assert(rep.rdd.getNumPartitions == 7)
    // coalesce: narrow, no exchange in the plan
    val co = Engine.runJson(ctx, s"""{
      "source": {"file": {"path": "$sfDir/orders.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"repartition": {"num": 1, "coalesce": true}}],
      "loader": {"memory": {}} }""")
    assert(co.rdd.getNumPartitions == 1)
    assert(!co.queryExecution.executedPlan.toString.contains("Exchange"),
      "coalesce must not shuffle")
    // bad hint name is refused with the allowed set
    val e = intercept[Exception](Engine.runJson(ctx, s"""{
      "source": {"file": {"path": "$sfDir/customer.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"hint": {"name": "bogus"}}],
      "loader": {"memory": {}} }"""))
    assert(e.getMessage.contains("broadcast|merge"))
  }

  test("fused file+row+csv compiles to one native csv scan (no zipWithIndex)") {
    val path = {
      val f = java.nio.file.Files.createTempFile("plan_csv", ".csv")
      java.nio.file.Files.write(f, "a,b\n1,x\n2,y\n".getBytes("UTF-8")); f.toString
    }
    val out = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$path"}},
      "extractor": {"row": {}},
      "transformers": [{"csv": {"columns": ["a:integer", "b:string"]}}],
      "loader": {"memory": {}} }""")
    val plan = analyzedPlan(out)
    assert(plan.contains("FileScan csv"), s"expected native csv scan:\n$plan")
    assert(!plan.contains("zippedWithIndex") && !plan.contains("ExistingRDD"),
      s"fused path must not fall back to the RDD text scan:\n$plan")
  }

  test("plain text ingest (no line semantics) is a native text scan") {
    val path = {
      val f = java.nio.file.Files.createTempFile("plan_txt", ".txt")
      java.nio.file.Files.write(f, "l1\nl2\n".getBytes("UTF-8")); f.toString
    }
    val out = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$path"}},
      "extractor": {"row": {}},
      "loader": {"memory": {}} }""")
    val plan = analyzedPlan(out)
    assert(plan.contains("FileScan text"), s"expected native text scan:\n$plan")
    assert(!plan.contains("ExistingRDD"), s"no RDD conversion expected:\n$plan")
  }

  test("exact dedup partial-aggregates before the shuffle (map-side combine)") {
    val ctx = newCtx()
    val out = graft.dedup.DedupStages.dedup(graft.spec.ComponentSpec("dedup",
      Map("keyFields" -> Seq("n_chars"), "tiebreakField" -> "doc_id")), ctx)(
      ctx.table("documents"))
    // AQE toString carries Initial + Final sections — audit the final one
    val plan = planOf(out).split("== Initial Plan ==").head
    // partial (map-side) min_by before the single exchange, final after
    assert(plan.contains("partial_min_by"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("minhash/simhash signatures are pure projections — no shuffle") {
    val ctx = newCtx()
    val docs = ctx.table("documents")
    val mh = docs.select(col("doc_id"),
      graft.functions.VectorExpressions.minhashSig(
        graft.functions.VectorExpressions.shingleHashes(col("text"), 3), 64))
    assert(!planOf(mh).contains("Exchange"),
      "minhash signature computation must not shuffle")
    val sh = docs.select(col("doc_id"),
      graft.functions.VectorExpressions.simHash64(col("text")))
    assert(!planOf(sh).contains("Exchange"),
      "simhash signature computation must not shuffle")
  }

  test("bucketed parquet write: agg + self-join on the bucket key, no shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/orders.parquet"}},
      "extractor": {"parquet": {}},
      "loader": {"parquet": {"path": "$dir/orders_b", "table": "orders_b",
        "bucketBy": ["o_custkey"], "buckets": 4, "sortBy": ["o_custkey"]}} }""")
    val t = spark.table("orders_b")
    // aggregation on the bucket key: bucketing replaces the exchange
    val agg = t.groupBy("o_custkey").count()
    assert(!planOf(agg).contains("Exchange"),
      s"bucketed groupBy must not shuffle:\n${planOf(agg)}")
    // self-join on the bucket key: both sides pre-partitioned, no exchange
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = t.as("x").join(t.as("y"), "o_custkey")
      assert(!planOf(j).contains("Exchange"),
        s"bucketed self-join must not shuffle:\n${planOf(j)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("similarity topk: query side broadcast, base never shuffles pre-join") {
    val ctx = newCtx()
    val out = graft.similarity.SimilarityStages.topk(
      ctx.table("embeddings").where("vec_id < 5"),
      ctx.table("embeddings"), "vec_id", "embedding", 3)
    val plan = planOf(out)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side should broadcast:\n$plan")
  }

  test("similarity topk role flip: smaller side broadcasts when the query batch outgrows the cap") {
    val ctx = newCtx()
    val emb = ctx.table("embeddings")
    // query batch (whole table) > cap, base (3 rows) under it → the
    // FLIPPED plan must broadcast the base side (__bv columns), not the
    // query side — this is the r18-verdict scale guard
    val out = graft.similarity.SimilarityStages.topk(
      emb, emb.where("vec_id < 3"), "vec_id", "embedding", 2,
      excludeSelf = false, maxBroadcastRows = 3L, allowFlip = true)
    // the broadcast hint must sit on the BASE subtree (__bv), never the
    // query batch (__qv)
    val hinted = out.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
        h.child.output.map(_.name)
    }.flatten
    assert(hinted.contains("__bv") && !hinted.contains("__qv"),
      s"flipped plan must broadcast the BASE side, hinted cols: $hinted")
    // output contract unchanged: identical rows to the unflipped plan
    val ref = graft.similarity.SimilarityStages.topk(
      emb, emb.where("vec_id < 3"), "vec_id", "embedding", 2,
      excludeSelf = false)
    assert(out.orderBy("q_id", "rank").collect().toSeq ==
      ref.orderBy("q_id", "rank").collect().toSeq)
  }

  test("nbclassify: per-class constants broadcast; no full-table exchange of text") {
    val ctx = newCtx()
    import spark.implicits._
    Seq(("good", "a a b"), ("bad", "c a")).toDF("label", "text")
      .createOrReplaceTempView("__nb_plan_train")
    val out = graft.text.TextStages.nbClassify(
      graft.spec.ComponentSpec("nbclassify", Map(
        "labeled" -> "SELECT * FROM __nb_plan_train")), ctx)(
      ctx.table("documents").select("doc_id", "text"))
    val plan = planOf(out)
    // the |classes|-row constants frame rides a broadcast, never a
    // shuffle (the explicit broadcast(classes) cross join)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"classes must broadcast:\n$plan")
    // document TEXT never crosses an exchange — only ids/tokens/counts
    // do (the docTok aggregation projects text away pre-shuffle)
    val exchanges = "(?s)Exchange[^\\n]*\\n".r.findAllIn(
      plan.split("== Initial Plan ==").head).toList
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")),
      s"text must not ride an exchange:\n${exchanges.mkString}")
  }

  test("similarity topk: loud named errors past maxBroadcastRows") {
    val ctx = newCtx()
    val emb = ctx.table("embeddings")
    // same-table mode (no flip available): named error with migrations
    val e1 = intercept[IllegalArgumentException] {
      graft.similarity.SimilarityStages.topk(
        emb, emb, "vec_id", "embedding", 2, maxBroadcastRows = 3L)
    }
    assert(e1.getMessage.contains("maxBroadcastRows") &&
      e1.getMessage.contains("similarityivf"), e1.getMessage)
    // queryTable mode with BOTH sides over the cap: no safe broadcast
    val e2 = intercept[IllegalArgumentException] {
      graft.similarity.SimilarityStages.topk(
        emb, emb, "vec_id", "embedding", 2,
        excludeSelf = false, maxBroadcastRows = 1L, allowFlip = true)
    }
    assert(e2.getMessage.contains("both sides") &&
      e2.getMessage.contains("similarityivf"), e2.getMessage)
  }

  test("bucketed upsert read: bucket isin is a PartitionFilter (pruned listing)") {
    // the same read expression Loaders.upsertDelta builds for an
    // affected-bucket scan: the __bucket predicate must prune partition
    // DIRECTORIES at planning (PartitionFilters), never surface as a
    // row filter over a full scan — this is what makes upsert cost
    // track delta size at 100 TB
    val dir = java.nio.file.Files.createTempDirectory("graft_bktplan").toString
    Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/customer.parquet"}},
      "extractor": {"parquet": {}},
      "loader": {"parquet": {"path": "$dir/tbl", "mode": "upsert",
                             "key": "c_custkey", "buckets": 8}} }""")
    val plan = analyzedPlan(spark.read.parquet(s"$dir/tbl")
      .where(col("__bucket").isin(2, 5)))
    val part = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(part.contains("__bucket"),
      s"bucket predicate must be a PartitionFilter:\n$plan")
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(!pushed.contains("__bucket"),
      s"bucket column must prune directories, not row-filter:\n$plan")
  }

  test("bucketed upsert read through a recorded schema: only the named bucket dirs") {
    // the read Loaders.upsertDelta builds once the sidecar records the
    // table's schema: the file index holds just the affected bucket dirs,
    // so there is no bucket predicate left to prune, and a bucket that
    // does not exist yet reads as an empty frame of the schema
    val dir = java.nio.file.Files.createTempDirectory("graft_bktrows").toString
    Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/customer.parquet"}},
      "extractor": {"parquet": {}},
      "loader": {"parquet": {"path": "$dir/tbl", "mode": "upsert",
                             "key": "c_custkey", "buckets": 8}} }""")
    val whole = spark.read.parquet(s"$dir/tbl")
    val schema = whole.drop("__bucket").schema
    val rows = graft.loaders.Loaders.bucketRows(newCtx(), s"$dir/tbl", Seq(2, 5), schema)
    val plan = analyzedPlan(rows)
    assert(plan.contains("InMemoryFileIndex(2 paths)"), s"only the two bucket dirs:\n$plan")
    for (field <- Seq("PartitionFilters", "PushedFilters")) {
      val filters = s"$field: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan).map(_.group(1))
      assert(filters.exists(!_.contains("__bucket")), s"no bucket predicate in $field:\n$plan")
    }
    assert(rows.count() == whole.where(col("__bucket").isin(2, 5)).count())
    val none = graft.loaders.Loaders.bucketRows(newCtx(), s"$dir/tbl", Seq(99), schema)
    assert(none.schema == schema && none.count() == 0)
  }

  test("gremlin repeat(out).times(k) plans exactly k edge joins") {
    val ctx = newCtx()
    import spark.implicits._
    ctx.addVertices(Seq(("a", "p"), ("b", "p")).toDF("id", "label"))
    ctx.addEdges(Seq(("a", "b", "next"), ("b", "a", "next"))
      .toDF("src", "dst", "label"))
    def joins(script: String): Int = {
      val out = graft.stages.Stages.command(
        graft.spec.ComponentSpec("command", Map("command" -> script)),
        ctx)(spark.emptyDataFrame)
      // count logical joins BEFORE execution — the unroll bound is a
      // plan property, independent of AQE's physical choices. Each hop
      // is an edge join + a label re-attach join (2 per hop).
      out.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.length
    }
    val k1 = joins("g.V().repeat(out('next')).times(1).count()")
    val k3 = joins("g.V().repeat(out('next')).times(3).count()")
    assert(k3 - k1 == 4, s"expected 2 extra joins per extra hop, " +
      s"got k1=$k1 k3=$k3") // 2 hops more = 4 joins more
  }

  test("partitioned write: partition filter prunes, not a data filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/supplier.parquet"}},
      "extractor": {"parquet": {}},
      "loader": {"parquet": {"path": "$dir/supp", "mode": "overwrite",
                             "partitionBy": ["s_nationkey"]}} }""")
    val plan = analyzedPlan(
      spark.read.parquet(s"$dir/supp").where(col("s_nationkey") === 3))
    val part = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(part.contains("s_nationkey"),
      s"partition filter not applied as PartitionFilters:\n$plan")
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(!pushed.contains("s_nationkey"),
      s"partition column must prune directories, not row-filter:\n$plan")
  }

  test("similarity topk: bounded-heap agg partial-aggregates map-side (no N×Q window sort)") {
    val ctx = newCtx()
    val out = graft.similarity.SimilarityStages.topk(
      ctx.table("embeddings").where("vec_id < 5"),
      ctx.table("embeddings"), "vec_id", "embedding", 3)
    val plan = planOf(out).split("== Initial Plan ==").head
    // TypedImperativeAggregate runs in ObjectHashAggregate with a
    // partial pass before the exchange — the scored rows never
    // shuffle whole, only ≤ k pairs per query per task do
    assert(plan.contains("ObjectHashAggregate"), s"expected object hash agg:\n$plan")
    assert(plan.contains("partial_graft_topk"), s"expected map-side partial top-k:\n$plan")
    assert(!plan.contains("Window"), s"window form should be gone:\n$plan")
  }

  private def exchanges(plan: String): Int =
    "Exchange".r.findAllMatchIn(plan.split("== Initial Plan ==").head).size

  test("chunk + sentencesplit are shuffle-free projections over a pruned scan") {
    val chunk = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/documents.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"chunk": {"chunkTokens": 32, "overlap": 8}}],
      "loader": {"memory": {}} }""")
    val cPlan = planOf(chunk)
    assert(exchanges(cPlan) == 0, s"chunk must not shuffle:\n$cPlan")
    val cSchema = cPlan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(cSchema.contains("doc_id") && cSchema.contains("text") &&
      !cSchema.contains("lang"), s"chunk scan should read only id+text:\n$cSchema")
    val sent = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/documents.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"sentencesplit": {}}],
      "loader": {"memory": {}} }""")
    assert(exchanges(planOf(sent)) == 0, "sentencesplit must not shuffle")
  }

  test("tfidf: both counts partial-aggregate map-side; scan pruned to id+text") {
    val ctx = newCtx()
    val out = graft.text.TextStages.tfidf(
      graft.spec.ComponentSpec("tfidf", Map("k" -> 3)), ctx)(ctx.table("documents"))
    val plan = planOf(out)
    assert(plan.contains("partial_count"),
      s"tf/df counts must partial-aggregate before their exchanges:\n$plan")
    val schema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!schema.contains("lang") && !schema.contains("source"),
      s"tfidf scan should read only id+text:\n$schema")
  }

  test("groupcap threshold: partial heap before the exchange, no Window") {
    val ctx = newCtx()
    val out = graft.text.WebStages.groupcap(
      graft.spec.ComponentSpec("groupcap", Map("groupField" -> "lang",
        "orderField" -> "doc_id", "maxPerGroup" -> 5,
        "algorithm" -> "threshold")), ctx)(ctx.table("documents"))
    val plan = planOf(out)
    assert(plan.contains("partial_graft_topk"),
      s"threshold plan must partial-aggregate the per-group heap:\n$plan")
    assert(!plan.contains("Window"),
      s"threshold plan must not contain a window:\n$plan")
  }

  test("spread: exchange-bearing key-less input repartitions WITHOUT plan-time execution") {
    import org.apache.spark.sql.functions.{col, count}
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    // an upstream aggregate means df.rdd would materialize AQE stages at
    // plan-build — spread must take the unconditional-repartition path
    val agg = base.groupBy("lang").agg(count("*").as("n"))
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = QueryMeter.jobsOf(spark) { out = graft.similarity.SimilarityStages.spread(agg) }
    assert(jobs == 0, "spread ran a job at plan-build time for an exchange-bearing input")
    assert(out.queryExecution.analyzed.toString.contains("Repartition"),
      "exchange-bearing input must be unconditionally repartitioned")
    // a plain scan projection keeps the probe-and-skip fast path
    val scan = base.select("doc_id", "text").where(col("doc_id") > 0)
    val spreadScan = graft.similarity.SimilarityStages.spread(scan)
    assert(spreadScan.collect().length == scan.count().toInt)
  }

  test("mm_phash is a partition-parallel map; hammingpairs bands, never all-pairs") {
    import spark.implicits._
    val ctx = newCtx()
    val media = Seq((1L, graft.multimodal.MediaFixtures.phashPayload(1L)))
      .toDF("media_id", "payload")
    val hashPlan = planOf(graft.multimodal.MultimodalStages.phash(
      graft.spec.ComponentSpec("mm_phash", Map("idField" -> "media_id")),
      ctx)(media))
    assert(exchanges(hashPlan) == 0,
      s"perceptual hashing must not shuffle:\n$hashPlan")
    val hashes = Seq((1L, 7L), (2L, 5L)).toDF("doc_id", "h")
    val pairPlan = planOf(graft.dedup.DedupStages.hammingPairs(
      graft.spec.ComponentSpec("hammingpairs", Map("hashField" -> "h")),
      ctx)(hashes))
    assert(!pairPlan.contains("CartesianProduct") &&
      !pairPlan.contains("BroadcastNestedLoopJoin"),
      s"banded join must stay an equi-join:\n$pairPlan")
  }

  test("mm decode paths: partition-parallel map, ZERO exchanges") {
    import spark.implicits._
    val ctx = newCtx()
    val media = Seq((1L, graft.multimodal.MediaFixtures.payload(1L)))
      .toDF("media_id", "payload")
    val imgPlan = planOf(graft.multimodal.MultimodalStages.decode(
      graft.spec.ComponentSpec("mm_decode", Map("idField" -> "media_id")),
      ctx)(media))
    assert(exchanges(imgPlan) == 0,
      s"image decode must not shuffle:\n$imgPlan")
    val audio = Seq((1L, graft.multimodal.MediaFixtures.audioPayload(1L)))
      .toDF("media_id", "payload")
    val audPlan = planOf(graft.multimodal.MultimodalStages.audio(
      graft.spec.ComponentSpec("mm_audio", Map("idField" -> "media_id")),
      ctx)(audio))
    assert(exchanges(audPlan) == 0,
      s"audio decode must not shuffle:\n$audPlan")
  }

  test("motif: connected pattern plans an equi-join, not a cartesian") {
    val ctx = newCtx()
    import spark.implicits._
    ctx.addEdges((1L to 2000L).map(i => (s"o$i", s"c${i % 97}", "placed"))
      .toDF("src", "dst", "label"))
    val out = graft.graph.GraphStages.motif(
      graft.spec.ComponentSpec("motif", Map(
        "pattern" -> "(a)-[:placed]->(c); (b)-[:placed]->(c)",
        "where" -> "a < b")), ctx)(spark.emptyDataFrame)
    val plan = planOf(out)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"V-motif must join on the shared vertex:\n$plan")
  }

  test("corpusstats: ONE aggregation pass (single exchange)") {
    val ctx = newCtx()
    val out = graft.text.TextStages.corpusstats(
      graft.spec.ComponentSpec("corpusstats", Map("field" -> "n_chars")),
      ctx)(ctx.table("documents"))
    val plan = planOf(out)
    assert(exchanges(plan) == 1, s"expected one partial->final exchange:\n$plan")
  }

  test("similarity_ivf: cell assignment is a projection — no join or agg before the probe join") {
    val ctx = newCtx()
    val out = graft.similarity.SimilarityStages.similarityIvf(
      graft.spec.ComponentSpec("similarityivf", Map("k" -> 3)),
      ctx)(ctx.table("embeddings"))
    val plan = planOf(out)
    // the only join is probes x assigned on the cell key; the old form
    // scored centroids through a crossJoin (BroadcastNestedLoopJoin) and
    // ranked them with a heap agg KEYED on the vector
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"centroid scoring must be a projection, not a join:\n$plan")
    assert(!plan.contains("Window"), s"no window expected:\n$plan")
  }

  test("asofjoin: ONE shuffle on the key — no join node, no candidate pairs") {
    val ctx = newCtx()
    ctx.table("events").createOrReplaceTempView("events")
    val out = graft.temporal.TemporalStages.asofJoin(
      graft.spec.ComponentSpec("asofjoin", Map(
        "right" -> ("SELECT user_id, ts, event_id AS rid FROM events " +
          "WHERE event_type = 'click'"),
        "on" -> "user_id", "leftTime" -> "ts")),
      ctx)(ctx.table("events").where(col("event_type") === "purchase"))
    val plan = planOf(out)
    // the merge-asof is union -> ONE hash exchange on user_id -> sorted
    // window; a join-based formulation would blow up candidates
    assert(exchanges(plan) == 1, s"expected one keyed exchange:\n$plan")
    assert(!plan.contains("Join"), s"no join node expected:\n$plan")
  }

  test("asofjoin nearest: both scan directions share ONE keyed exchange") {
    val ctx = newCtx()
    ctx.table("events").createOrReplaceTempView("events")
    val out = graft.temporal.TemporalStages.asofJoin(
      graft.spec.ComponentSpec("asofjoin", Map(
        "right" -> ("SELECT user_id, ts, event_id AS rid FROM events " +
          "WHERE event_type = 'click'"),
        "on" -> "user_id", "leftTime" -> "ts", "direction" -> "nearest")),
      ctx)(ctx.table("events").where(col("event_type") === "purchase"))
    val plan = planOf(out)
    // backward + forward fills are two same-partitioning windows: Spark
    // reuses the exchange and only re-sorts within partitions
    assert(exchanges(plan) == 1,
      s"nearest must not add a second shuffle:\n$plan")
    assert(!plan.contains("Join"), s"no join node expected:\n$plan")
  }

  test("rangejoin keyless bin path: equi-join, never a nested-loop cartesian") {
    val ctx = newCtx()
    ctx.table("events").createOrReplaceTempView("events")
    val out = graft.temporal.TemporalStages.rangeJoin(
      graft.spec.ComponentSpec("rangejoin", Map(
        "right" -> ("SELECT date_trunc('hour', ts) AS start, " +
          "date_trunc('hour', ts) + INTERVAL 1 HOUR AS end " +
          "FROM events GROUP BY 1"),
        "leftTime" -> "ts", "binWidth" -> 3600)),
      ctx)(ctx.table("events").where(col("event_type") === "purchase"))
    val plan = planOf(out)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"binned range join must be an equi-join:\n$plan")
    assert(plan.contains("Join"), s"expected a hash equi-join:\n$plan")
  }

  test("bm25: df side broadcasts; top-k is TakeOrdered, not a global sort") {
    val ctx = newCtx()
    val out = graft.text.TextStages.bm25(
      graft.spec.ComponentSpec("bm25", Map(
        "query" -> "hash join", "idfMode" -> "linear", "k" -> 5)),
      ctx)(ctx.table("documents"))
    val plan = planOf(out)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered (per-partition heaps), not a sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-term df is tiny and must broadcast:\n$plan")
  }

  test("kmeans: assignment is a per-row projection — no join, no shuffle") {
    val ctx = newCtx()
    val out = graft.similarity.SimilarityStages.kmeans(
      graft.spec.ComponentSpec("kmeans", Map("k" -> 4)),
      ctx)(ctx.table("embeddings"))
    val plan = planOf(out)
    assert(exchanges(plan) == 0, s"assignment must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"assignment must not join:\n$plan")
  }

  test("resample agg mode is ONE hash aggregation with map-side combine") {
    val out = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/events.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"resample": {"keyField": "event_type",
        "tsField": "ts", "every": 3600, "aggs": ["count"]}}],
      "loader": {"memory": {}} }""")
    val plan = planOf(out)
    assert(exchanges(plan) == 1, s"resample agg = one exchange:\n$plan")
    assert("HashAggregate".r.findAllMatchIn(plan).size >= 2,
      s"expected partial+final aggregation (map-side combine):\n$plan")
    assert(!plan.contains("Join"), s"agg mode must not join:\n$plan")
  }

  test("resample linear fill pays no more exchanges or sorts than ffill") {
    // the prev/next windows share the fill window's partitioning AND
    // ordering — the second/third Window nodes must reuse the first's
    // sort, not add their own
    def run(fill: String) = planOf(Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/events.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [
        {"command": {"command": "SELECT ts, user_id, event_id FROM events WHERE event_type = 'purchase'"}},
        {"resample": {"keyField": "user_id", "tsField": "ts",
          "every": 86400, "aggs": ["count"], "fill": "$fill"}}],
      "loader": {"memory": {}} }"""))
    val (ff, lin) = (run("ffill"), run("linear"))
    def sorts(p: String) = "Sort ".r.findAllMatchIn(p).size
    assert(exchanges(lin) == exchanges(ff),
      s"linear added an exchange over ffill:\nffill:\n$ff\nlinear:\n$lin")
    assert(sorts(lin) == sorts(ff),
      s"linear added a sort over ffill (windows must share one sort):\nffill:\n$ff\nlinear:\n$lin")
  }

  test("bpe + tokeninfo plans: bpe is a shuffle-free codegen'd projection") {
    val bpe = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/documents.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"bpe": {"field": "text", "numMerges": 20,
        "trainRows": 32}}],
      "loader": {"memory": {}} }""")
    val plan = planOf(bpe)
    // r19: the encode may spread an under-parallel input (ONE
    // round-robin repartition — a no-op on already-parallel corpora);
    // what stays forbidden is any KEYED exchange: the encode is a
    // projection, never a join/aggregation
    assert(exchanges(plan) <= 1, s"bpe apply must not shuffle by key:\n$plan")
    assert(!plan.contains("hashpartitioning"),
      s"bpe apply must carry no keyed exchange:\n$plan")
    assert(plan.contains("graft_bpe_encode"), s"native expression missing:\n$plan")
    // `*(n)` prefixes mark whole-stage-codegen stages in the plan string
    assert(plan.contains(") Project"), s"should stay in codegen:\n$plan")
    assert(plan.contains("*("), s"should stay in codegen:\n$plan")
  }

  test("ivfpq: the cell-join stream carries codes, not vectors, on the base side") {
    val out = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/embeddings.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"similarityivf": {"idField": "vec_id",
        "field": "embedding", "k": 3, "nCells": 8, "nProbe": 4,
        "lloydIters": 2, "trainRows": 128, "pqM": 8, "pqK": 16,
        "refine": 2}}],
      "loader": {"memory": {}} }""")
    val plan = planOf(out)
    // the ADC-scored candidate join must exist, and the approximate
    // (pre-refine) scoring must read the LUT + codes, not raw vectors
    assert(plan.contains("graft_pq_adc"), s"ADC scoring missing:\n$plan")
    assert(plan.contains("graft_pq_encode"), s"PQ encode missing:\n$plan")
    assert(plan.contains("graft_pq_lut"), s"PQ LUT missing:\n$plan")
  }

  test("etl parameters: the lateral rewrite plans a bounded join count, not O(tuples) unions") {
    // 60 distinct tuples: the per-tuple path would union 60 child plans
    // (≥ 60 joins after the group re-attach); the lateral path is ONE
    // decorrelated join + the parent re-attach join, regardless of
    // tuple count
    val ctx = newCtx()
    val out = graft.stages.LookupStages.etl(graft.spec.ComponentSpec("etl", Map(
      "parameters" -> Map("p" -> "pk"),
      "pipeline" -> Map(
        "source" -> Map("file" -> Map("path" -> s"$sfDir/customer.parquet")),
        "extractor" -> Map("parquet" -> Map.empty[String, Any]),
        "transformers" -> List(Map("command" -> Map("command" ->
          "SELECT c_custkey FROM input WHERE c_custkey % 60 = $p")))),
      "fieldName" -> "members", "fieldType" -> "EMBEDDEDLIST",
      "valueFieldName" -> "c_custkey")), ctx)(
      ctx.table("customer").select((col("c_custkey") % 60).as("pk")).distinct())
    val logicalJoins = out.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.length
    val unions = out.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.length
    assert(logicalJoins <= 4,
      s"lateral etl should plan O(1) joins, got $logicalJoins")
    assert(unions == 0, s"lateral etl must not union per-tuple children, " +
      s"got $unions unions")
    assert(out.count() == 60)
  }

  test("gremlin local(limit): one window over the hop join, no checkpoint materialization") {
    val ctx = newCtx()
    import spark.implicits._
    ctx.addVertices(Seq(("a", "p"), ("b", "p"), ("c", "p")).toDF("id", "label"))
    ctx.addEdges(Seq(("a", "b", "n"), ("a", "c", "n"), ("b", "c", "n"))
      .toDF("src", "dst", "label"))
    val out = graft.stages.Stages.command(
      graft.spec.ComponentSpec("command", Map("command" ->
        "g.V().local(out('n').limit(1))")), ctx)(spark.emptyDataFrame)
    val optimized = out.queryExecution.optimizedPlan
    val windows = optimized.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.length
    assert(windows == 1, s"expected exactly one per-traverser window:\n$optimized")
    // the single-subtree id needs no LogicalRDD checkpoint scan
    assert(!optimized.toString.contains("LogicalRDD"),
      s"local(limit) must not checkpoint-materialize:\n$optimized")
  }

  test("boilerplate: hot set broadcasts into the anti join; no cartesian") {
    val ctx = newCtx()
    // a corpus where the kept side is NON-empty: with every line hot,
    // AQE's empty-relation propagation legitimately collapses the whole
    // join away (observed at sf0.001 word granularity)
    val docs = spark.range(100).select(col("id").as("doc_id"),
      concat_ws("\n", lit("hot line"),
        concat(lit("unique-"), col("id"))).as("text"))
    val out = graft.text.TextStages.boilerplate(
      graft.spec.ComponentSpec("boilerplate", Map("minDocs" -> 3)),
      ctx)(docs)
    val plan = planOf(out)
    assert("BroadcastHashJoin \\[[^\\]]*\\], \\[[^\\]]*\\], LeftAnti".r
        .findFirstIn(plan).isDefined,
      s"the vocab-bounded hot set must broadcast into a LeftAnti join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"no nested loop:\n$plan")
  }

  test("intervaljoin binned path: equi-join on (key, bin), never a nested loop") {
    val ctx = newCtx()
    ctx.table("events").createOrReplaceTempView("events")
    val out = graft.temporal.TemporalStages.intervalJoin(
      graft.spec.ComponentSpec("intervaljoin", Map(
        "right" -> ("SELECT event_id AS rid, user_id, ts AS rs, " +
          "ts + INTERVAL 30 MINUTE AS re FROM events WHERE event_type = 'error'"),
        "leftStart" -> "ls", "leftEnd" -> "le",
        "rightStart" -> "rs", "rightEnd" -> "re",
        "on" -> "user_id", "binWidth" -> 600)),
      ctx)(ctx.table("events").where(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts").as("ls"),
          (col("ts") + expr("INTERVAL 10 MINUTE")).as("le")))
    val plan = planOf(out)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"binned interval join must be an equi-join:\n$plan")
    assert(plan.contains("Join"), s"expected a hash equi-join:\n$plan")
  }

  test("funnel: per-step min-aggs + key joins — no window over event history") {
    val ctx = newCtx()
    import spark.implicits._
    val ev = (1L to 5000L).map(i => (i % 400, i.toDouble, Seq("a", "b", "c")((i % 3).toInt)))
      .toDF("u", "t", "e")
    val out = graft.temporal.TemporalStages.funnel(
      graft.spec.ComponentSpec("funnel", Map("keyField" -> "u",
        "tsField" -> "t", "typeField" -> "e",
        "steps" -> Seq("a", "b", "c"), "window" -> 100)), ctx)(ev)
    val plan = planOf(out)
    // the per-key progression must come from filtered min-aggregates +
    // narrow key joins — a Window here would sort every key's full
    // event history; partial aggregation must appear (map-side combine)
    assert(!plan.contains("Window"), s"funnel must not window:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"no nested loop:\n$plan")
    assert("partial_min|partial.*min|HashAggregate".r.findFirstIn(plan).isDefined,
      s"expected hash aggregates:\n$plan")
  }

  test("retrievaleval: ONE query-partitioned window; metrics from (q, rank, rel) triples") {
    val ctx = newCtx()
    import spark.implicits._
    val cand = (1L to 4000L).map(i =>
      (s"q${i % 50}", s"d$i", (i * 37 % 100).toDouble, (i % 7 == 0)))
      .toDF("query_id", "doc_id", "score", "rel")
      .withColumn("label", when(col("rel"), 1).otherwise(0)).drop("rel")
    val out = graft.similarity.SimilarityStages.retrievalEval(
      graft.spec.ComponentSpec("retrievaleval", Map("k" -> 5)), ctx)(cand)
    // AQE's toString prints the final AND the initial plan — count
    // windows in the FINAL section only
    val plan = planOf(out).split("== Initial Plan ==").head
    // exactly one Window (the per-query row_number), PARTITIONED by the
    // query key — a global (partition-less) sort would funnel every
    // candidate through one task
    assert("Window ".r.findAllIn(plan).size == 1, s"one window expected:\n$plan")
    assert(plan.contains("windowspecdefinition(__q"),
      s"window must partition by query:\n$plan")
  }

  test("clusteringcoef: shared deg/oriented lineage persists — one symmetrize pass") {
    // r14 verdict #5: deg is read 3× and oriented 3× (e1, e2, closing
    // join); without persists the symmetrize+distinct+join lineage
    // re-runs per reference. The persisted frames surface as
    // InMemoryTableScan nodes, and the raw edge relation must appear in
    // the executed plan ONLY under cache-materialization scans.
    val ctx = newCtx()
    import spark.implicits._
    ctx.addEdges((1L to 500L).flatMap(i =>
      Seq((s"v${i % 50}", s"v${(i * 7) % 50}", "e"))).toDF("src", "dst", "label"))
    val out = graft.graph.GraphStages.clusteringCoef(
      graft.spec.ComponentSpec("clusteringcoef", Map.empty), ctx)(
      spark.emptyDataFrame)
    val plan = planOf(out)
    assert(plan.contains("InMemoryTableScan"),
      s"deg/oriented must read from cache, not recompute:\n$plan")
    // the final assembly reads deg + oriented (e1/e2/closing) from
    // cache: at most cache-materialization scans touch the edge rows,
    // so the executed plan's in-memory scans dominate its join inputs
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 3,
      s"e1, e2 and the closing join must all hit the cache:\n$plan")
    ctx.releaseCache()
  }

  test("linkpredict: cached adjacency feeds wedge join; no nested loop; one pair agg") {
    val ctx = newCtx()
    import spark.implicits._
    // ring + chords: every vertex degree ~4, plenty of wedges
    val edges = (0L until 2000L).flatMap(i =>
      Seq((s"v$i", s"v${(i + 1) % 2000}"), (s"v$i", s"v${(i + 7) % 2000}")))
      .toDF("src", "dst").withColumn("label", lit("e"))
    ctx.addEdges(edges)
    val out = graft.graph.GraphStages.linkPredict(
      graft.spec.ComponentSpec("linkpredict", Map("minCommon" -> 1)),
      ctx)(spark.emptyDataFrame)
    val plan = planOf(out)
    // wedges come from the PERSISTED symmetric adjacency (built once),
    // scores from hash aggregation — never a cartesian/nested loop over
    // candidate pairs, never a window
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"no nested loop:\n$plan")
    assert(!plan.contains("Window"), s"no window:\n$plan")
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"sym/deg must be cache hits, not recomputed lineage:\n$plan")
    assert(plan.contains("HashAggregate"), s"pair agg must hash:\n$plan")
    ctx.releaseCache()
  }

  test("freqpairs: one basket exchange, in-row pair explode, no self-join") {
    val ctx = newCtx()
    import spark.implicits._
    // 1997 is prime to 40: a basket's ~10 items differ (2000 would
    // alias every basket to ONE item and the whole result to empty)
    val rows = (1L to 20000L).map(i => (i % 1997, (i * 31) % 40))
      .toDF("bk", "it")
    val out = graft.stages.StatStages.freqPairs(
      graft.spec.ComponentSpec("freqpairs",
        Map("basketField" -> "bk", "itemField" -> "it", "minCount" -> 2)),
      ctx)(rows)
    val plan = planOf(out)
    // the ONE BroadcastNestedLoopJoin is the broadcast ONE-ROW n_baskets
    // attach (the repo's stat-attach pattern); anything beyond it — or
    // any cartesian — would be a real pair-space blowup
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    assert("BroadcastNestedLoopJoin".r
      .findAllIn(plan.split("== Initial Plan ==")(0)).size <= 1,
      s"only the one-row total attach may nest:\n$plan")
    // r19: pair candidates come from an IN-ROW explode of the
    // checkpointed per-basket item set (one basket exchange total) —
    // a basket-keyed SortMergeJoin/ShuffledHashJoin would mean the s²
    // self-join came back
    assert(plan.contains("Generate explode"), s"in-row pair explode:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no basket self-join (pairs are generated in row):\n$plan")
    // the basket sets and item marginals are row-block checkpoints
    // (Scan ExistingRDD), read — never recomputed — by the guard, the
    // total, the marginals and the pair pass
    assert("Scan ExistingRDD".r.findAllIn(plan).size >= 3,
      s"baskets/marginals must be checkpointed:\n$plan")
    ctx.releaseCache()
  }

  test("transitions/cumulate: ONE keyed window each, no event-row join fan-out") {
    val ctx = newCtx()
    import spark.implicits._
    val ev = (1L to 8000L).map(i =>
      (i % 500, i.toDouble, i, Seq("a", "b", "c")((i % 3).toInt)))
      .toDF("u", "t", "eid", "s")
    val tr = graft.temporal.TemporalStages.transitions(
      graft.spec.ComponentSpec("transitions", Map("keyField" -> "u",
        "tsField" -> "t", "tieField" -> "eid", "stateField" -> "s")), ctx)(ev)
    // AQE's toString prints the final AND the initial plan — count in
    // the FINAL section only (the retrievaleval lock's rule)
    val trPlan = planOf(tr).split("== Initial Plan ==")(0)
    assert("Window".r.findAllIn(trPlan).size <= 1,
      s"transitions: one lead window:\n$trPlan")
    assert(trPlan.contains("HashAggregate"), s"matrix agg must hash:\n$trPlan")
    val cu = graft.temporal.TemporalStages.cumulate(
      graft.spec.ComponentSpec("cumulate", Map("keyField" -> "u",
        "tsField" -> "t", "tieField" -> "eid",
        "valueFields" -> Seq("eid"))), ctx)(ev)
    val cuPlan = planOf(cu).split("== Initial Plan ==")(0)
    // cum_n and the cumsum ride ONE window spec — a second sort/exchange
    // would mean the specs diverged
    assert("Exchange hashpartitioning".r.findAllIn(cuPlan).size <= 1,
      s"cumulate: one keyed exchange:\n$cuPlan")
  }

  test("auc/kstest/concentration: two-level prefix — the data-side window partitions by bucket") {
    import org.apache.spark.sql.functions.{col, expr}
    val ctx = newCtx()
    val ev = ctx.table("events")
      .select(expr("CAST(round(value * 100) AS BIGINT) % 1000").as("s"),
        expr("event_type = 'purchase'").as("y"),
        expr("CASE WHEN event_id % 5 = 0 THEN 0 ELSE user_id % 200 END").as("k"))
    def check(name: String, plan: String): Unit = {
      // the per-value running sum must partition by the range bucket —
      // a keyless global window would show a SinglePartition exchange
      // feeding a windowspec with an empty partition clause. The ONLY
      // single-partition exchange allowed is the ≤256-row level-1
      // bucket-total prefix (and the final one-row collect).
      assert(plan.contains("windowspecdefinition(__bkt"),
        s"$name: level-2 window must partition by __bkt:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name: no cartesian:\n$plan")
    }
    val aucPlan = planOf(graft.stages.StatStages.auc(
      graft.spec.ComponentSpec("auc",
        Map("scoreField" -> "s", "labelField" -> "y")), ctx)(ev))
    check("auc", aucPlan)
    spark.range(1).selectExpr("CAST(id AS BIGINT) % 7 AS v")
    ctx.table("events")
      .selectExpr("CAST(round(value * 100) AS BIGINT) % 1000 AS v")
      .createOrReplaceTempView("plan_ks_base")
    val ksPlan = planOf(graft.stages.StatStages.ksTest(
      graft.spec.ComponentSpec("kstest",
        Map("field" -> "v", "against" -> "plan_ks_base")),
      ctx)(ev.select(col("s").as("v"))))
    check("kstest", ksPlan)
    val gPlan = planOf(graft.stages.StatStages.concentration(
      graft.spec.ComponentSpec("concentration", Map("keyField" -> "k")),
      ctx)(ev.select("k")))
    check("concentration", gPlan)
  }

  test("ewma/changepoint: ONE keyed exchange drives the event window; no cartesian") {
    import org.apache.spark.sql.functions.expr
    val ctx = newCtx()
    val ev = ctx.table("events").select(
      expr("event_id").as("eid"), expr("user_id % 50").as("uid"),
      expr("ts"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val ewmaPlan = planOf(graft.temporal.TemporalStages.ewma(
      graft.spec.ComponentSpec("ewma", Map("field" -> "cents",
        "keyField" -> "uid", "tsField" -> "ts", "tieField" -> "eid")),
      ctx)(ev)).split("== Initial Plan ==").head // AQE echoes both plans
    assert("Exchange hashpartitioning".r.findAllIn(ewmaPlan).size <= 1,
      s"ewma: one keyed exchange:\n$ewmaPlan")
    assert(!ewmaPlan.contains("Exchange SinglePartition"),
      s"ewma: never a global sort:\n$ewmaPlan")
    val cpPlan = planOf(graft.temporal.TemporalStages.changepoint(
      graft.spec.ComponentSpec("changepoint", Map("keyField" -> "uid",
        "tsField" -> "ts", "tieField" -> "eid", "valueField" -> "cents")),
      ctx)(ev))
    assert(!cpPlan.contains("Exchange SinglePartition"),
      s"changepoint: never a global sort:\n$cpPlan")
    assert(!cpPlan.contains("CartesianProduct"),
      s"changepoint: no cartesian:\n$cpPlan")
  }

  test("targetencode/linededup: stats broadcast back onto the rows") {
    import org.apache.spark.sql.functions.expr
    val ctx = newCtx()
    val orders = ctx.table("orders").select(expr("o_orderkey"),
      expr("o_orderpriority").as("prio"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val tePlan = planOf(graft.stages.StatStages.targetEncode(
      graft.spec.ComponentSpec("targetencode",
        Map("field" -> "prio", "targetField" -> "cents")), ctx)(orders))
    assert("BroadcastHashJoin".r.findAllIn(tePlan).size >= 1,
      s"targetencode: the category table must broadcast:\n$tePlan")
    assert(!tePlan.contains("SortMergeJoin"),
      s"targetencode: the data side must never shuffle for the join:\n$tePlan")
    val ldPlan = planOf(graft.dedup.DedupStages.lineDedup(
      graft.spec.ComponentSpec("linededup", Map()), ctx)(
      ctx.table("documents").select("doc_id", "text")))
    assert(ldPlan.contains("BroadcastHashJoin"),
      s"linededup: duplicate table joins broadcast:\n$ldPlan")
  }

  test("kllsketch/topksketch/checksum: ONE aggregation with map-side partials") {
    import org.apache.spark.sql.functions.expr
    val ctx = newCtx()
    val li = ctx.table("lineitem").select(expr("l_returnflag"),
      expr("l_quantity"), expr("l_orderkey"))
    // sketch aggregates run in ObjectHashAggregate with a partial pass:
    // each task reduces its slice to one sketch BEFORE the exchange —
    // the property that makes a 100 TB rollup one scan
    val kllPlan = planOf(graft.stages.StatStages.kllSketch(
      graft.spec.ComponentSpec("kllsketch",
        Map("field" -> "l_quantity", "groupBy" -> "l_returnflag")), ctx)(li))
    assert(kllPlan.contains("ObjectHashAggregate") &&
      "partial_graft_kll_agg".r.findAllIn(kllPlan).nonEmpty,
      s"kllsketch: map-side partial sketch aggregation expected:\n$kllPlan")
    val fqPlan = planOf(graft.stages.StatStages.topkSketch(
      graft.spec.ComponentSpec("topksketch",
        Map("itemField" -> "l_returnflag")), ctx)(li))
    assert(fqPlan.contains("ObjectHashAggregate") &&
      "partial_graft_freq_agg".r.findAllIn(fqPlan).nonEmpty,
      s"topksketch: map-side partial sketch aggregation expected:\n$fqPlan")
    // checksum is plain HashAggregate (codegen'd long/decimal state),
    // still with a partial pass and no extra exchange
    val ckPlan = planOf(graft.stages.StatStages.checksum(
      graft.spec.ComponentSpec("checksum",
        Map("groupBy" -> "l_returnflag")), ctx)(li))
    // AQE prints Initial + Final plan sections, so every physical node
    // appears twice: ONE real exchange == at most 2 string occurrences
    assert("partial_bit_xor".r.findAllIn(ckPlan).nonEmpty &&
      "Exchange".r.findAllIn(ckPlan).size <= 2,
      s"checksum: one exchange, partial aggregation:\n$ckPlan")
  }
}
