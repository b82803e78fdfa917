package graft

import graft.engine.EtlHaltException
import graft.spec.ComponentSpec
import graft.stages.LookupStages
import graft.stages.LookupStages.Unresolved
import org.apache.spark.sql.functions._

class LookupSpec extends SparkSpec {
  import spark.implicits._

  private def linkStage(opts: (String, Any)*) =
    LookupStages.link(ComponentSpec("link", opts.toMap), newCtx())
  private def mergeStage(opts: (String, Any)*) =
    LookupStages.merge(ComponentSpec("merge", opts.toMap), newCtx())

  test("link LINK: resolve orders.o_custkey → customer, counts match join arithmetic") {
    val ctx = newCtx()
    val orders = ctx.table("orders")
    val out = linkStage(
      "joinFieldName" -> "o_custkey", "lookup" -> "customer.c_custkey",
      "linkFieldName" -> "cust_link")(orders)
    assert(out.count() == orders.count())
    // every o_custkey exists in customer in the fixtures → all resolved
    assert(out.filter(col("cust_link").isNull).count() == 0)
    assert(out.filter(col("cust_link") =!= col("o_custkey")).count() == 0)
  }

  test("link SKIP vs NOTHING on dangling keys") {
    val ctx = newCtx()
    val orders = ctx.table("orders")
      .withColumn("o_custkey",
        when(col("o_orderkey") % 10 === 0, col("o_custkey") + 1000000)
          .otherwise(col("o_custkey")))
    val dangling = orders.filter(col("o_custkey") >= 1000000).count()
    assert(dangling > 0)

    val ctxN = newCtx()
    val nothing = LookupStages.link(ComponentSpec("link", Map(
      "joinFieldName" -> "o_custkey", "lookup" -> "customer.c_custkey",
      "linkFieldName" -> "cust_link", "unresolvedLinkAction" -> "NOTHING")), ctxN)(orders)
    assert(nothing.count() == orders.count())
    assert(nothing.filter(col("cust_link").isNull).count() == dangling)

    val skip = LookupStages.link(ComponentSpec("link", Map(
      "joinFieldName" -> "o_custkey", "lookup" -> "customer.c_custkey",
      "linkFieldName" -> "cust_link", "unresolvedLinkAction" -> "SKIP")), newCtx())(orders)
    assert(skip.count() == orders.count() - dangling)
  }

  test("link CREATE: stubs added, everything resolves, dim widened in context") {
    val ctx = newCtx()
    val orders = ctx.table("orders")
      .withColumn("o_custkey",
        when(col("o_orderkey") % 10 === 0, col("o_custkey") + 1000000)
          .otherwise(col("o_custkey")))
    val before = ctx.table("customer").count()
    val out = LookupStages.link(ComponentSpec("link", Map(
      "joinFieldName" -> "o_custkey", "lookup" -> "customer.c_custkey",
      "linkFieldName" -> "cust_link", "unresolvedLinkAction" -> "CREATE")), ctx)(orders)
    assert(out.filter(col("cust_link").isNull).count() == 0)
    val widened = ctx.table("customer").count()
    assert(widened > before) // stub rows inserted
  }

  test("link HALT (eager) throws on unresolved") {
    val ctx = newCtx()
    val orders = ctx.table("orders").withColumn("o_custkey", col("o_custkey") + 1000000)
    intercept[EtlHaltException] {
      LookupStages.link(ComponentSpec("link", Map(
        "joinFieldName" -> "o_custkey", "lookup" -> "customer.c_custkey",
        "linkFieldName" -> "cust_link", "haltMode" -> "eager",
        "unresolvedLinkAction" -> "HALT")), ctx)(orders)
        .count()
    }
  }

  test("link HALT (deferred): raised via drainChecks after the action") {
    val ctx = newCtx()
    val orders = ctx.table("orders").withColumn("o_custkey", col("o_custkey") + 1000000)
    LookupStages.link(ComponentSpec("link", Map(
      "joinFieldName" -> "o_custkey", "lookup" -> "customer.c_custkey",
      "linkFieldName" -> "cust_link", "unresolvedLinkAction" -> "HALT")), ctx)(orders)
      .count()
    intercept[EtlHaltException] { ctx.drainChecks() }
  }

  test("link WARNING bumps the warnings accumulator (stats parity)") {
    val ctx = newCtx()
    val orders = ctx.table("orders").withColumn("o_custkey",
      when(col("o_orderkey") % 10 === 0, col("o_custkey") + 1000000)
        .otherwise(col("o_custkey")))
    // unresolved = rows whose (modified) key misses the dim — includes the
    // fixture's own dangling FKs and null keys (reference lookup(null)
    // fails → policy applies, OLinkTransformer.java:131-160)
    val expected = orders.join(ctx.table("customer"),
      orders("o_custkey") === col("c_custkey"), "left_anti").count()
    LookupStages.link(ComponentSpec("link", Map(
      "joinFieldName" -> "o_custkey", "lookup" -> "customer.c_custkey",
      "linkFieldName" -> "cust_link", "unresolvedLinkAction" -> "WARNING")), ctx)(orders)
      .count()
    ctx.drainChecks()
    assert(ctx.warnings.value == expected)
  }

  test("link removeJoinField drops the FK column") {
    val ctx = newCtx()
    val out = LookupStages.link(ComponentSpec("link", Map(
      "joinFieldName" -> "o_custkey", "lookup" -> "customer.c_custkey",
      "linkFieldName" -> "cust_link", "removeJoinField" -> true)), ctx)(ctx.table("orders"))
    assert(!out.columns.contains("o_custkey"))
    assert(out.columns.contains("cust_link"))
  }

  test("link LINKLIST from multi-valued join field") {
    val ctx = newCtx()
    val df = Seq((1, Seq(0L, 1L)), (2, Seq(2L))).toDF("id", "keys")
    val out = LookupStages.link(ComponentSpec("link", Map(
      "joinFieldName" -> "keys", "lookup" -> "customer.c_custkey",
      "linkFieldName" -> "links", "type" -> "LINKLIST")), ctx)(df)
    val r = out.orderBy("id").collect()
    assert(r(0).getSeq[Long](r(0).fieldIndex("links")).toList == List(0L, 1L))
    assert(r(1).getSeq[Long](r(1).fieldIndex("links")).toList == List(2L))
  }

  test("merge: matched rows updated with incoming fields; upsertResult = MERGE table") {
    val ctx = newCtx()
    val customer = ctx.table("customer")
    // delta: every 10th customer gets a new balance + segment
    val delta = customer.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), (col("c_acctbal") + 100).as("c_acctbal"),
        lit("UPSERTED").as("c_mktsegment"))
    val merged = LookupStages.merge(ComponentSpec("merge", Map(
      "joinFieldName" -> "c_custkey", "lookup" -> "customer.c_custkey")), ctx)(delta)
    // merged stream carries dim-only columns (c_name, c_nationkey)
    assert(merged.columns.toSet ==
      Set("c_custkey", "c_acctbal", "c_mktsegment", "c_name", "c_nationkey"))
    assert(merged.filter(col("c_mktsegment") =!= "UPSERTED").count() == 0)

    val table = LookupStages.upsertResult(customer, merged, "c_custkey")
    assert(table.count() == customer.count()) // pure update, no inserts
    val touched = table.filter(col("c_custkey") % 10 === 0)
    assert(touched.filter(col("c_mktsegment") =!= "UPSERTED").count() == 0)
    val untouched = table.filter(col("c_custkey") % 10 =!= 0)
      .select("c_custkey", "c_mktsegment")
      .exceptAll(customer.filter(col("c_custkey") % 10 =!= 0)
        .select("c_custkey", "c_mktsegment"))
    assert(untouched.isEmpty)
  }

  test("merge SKIP drops unmatched; NOTHING passes them through (insert path)") {
    val ctx = newCtx()
    val delta = Seq((99999L, 42.0, "NEW"), (0L, 1.0, "UPD"))
      .toDF("c_custkey", "c_acctbal", "c_mktsegment")
    val skip = LookupStages.mergeRecords(delta, ctx.table("customer"),
      "c_custkey", "c_custkey", Unresolved.Skip, ctx)
    assert(skip.count() == 1)
    val nothing = LookupStages.mergeRecords(delta, ctx.table("customer"),
      "c_custkey", "c_custkey", Unresolved.Nothing, ctx)
    assert(nothing.count() == 2)
    // upsert with the NOTHING stream inserts the new row
    val table = LookupStages.upsertResult(ctx.table("customer"), nothing, "c_custkey")
    assert(table.count() == ctx.table("customer").count() + 1)
  }

  test("vertex + edge: graph contract, edge count == join arithmetic") {
    val ctx = newCtx()
    val customers = graft.stages.Stages.vertex(
      ComponentSpec("vertex", Map("class" -> "customer", "idField" -> "c_custkey")), ctx)(
      ctx.table("customer"))
    assert(customers.columns.contains("id") && customers.columns.contains("label"))
    val orders = graft.stages.Stages.vertex(
      ComponentSpec("vertex", Map("class" -> "order", "idField" -> "o_orderkey")), ctx)(
      ctx.table("orders"))
    LookupStages.edge(ComponentSpec("edge", Map(
      "class" -> "placed_order", "joinFieldName" -> "o_custkey",
      "lookup" -> "customer.c_custkey")), ctx)(orders)
    val edges = ctx.edges.get
    val expected = ctx.table("orders").join(ctx.table("customer"),
      col("o_custkey") === col("c_custkey")).count()
    assert(edges.count() == expected)
    assert(edges.select("label").distinct().head().getString(0) == "placed_order")
    // direction out: src = order id
    assert(edges.join(ctx.table("orders"),
      edges("src") === ctx.table("orders")("o_orderkey").cast("string")).count() == expected)
  }

  test("edge direction=in swaps src/dst") {
    val ctx = newCtx()
    val orders = graft.stages.Stages.vertex(
      ComponentSpec("vertex", Map("class" -> "order", "idField" -> "o_orderkey")), ctx)(
      ctx.table("orders"))
    LookupStages.edge(ComponentSpec("edge", Map(
      "class" -> "ordered_by", "joinFieldName" -> "o_custkey",
      "lookup" -> "customer.c_custkey", "direction" -> "in")), ctx)(orders)
    val edges = ctx.edges.get
    // src = customer key now
    val custKeys = ctx.table("customer").select(col("c_custkey").cast("string")).as[String].collect().toSet
    assert(edges.select("src").as[String].collect().forall(custKeys.contains))
  }

  test("nested etl: child grouped + embedded into parent (one join, not N runs)") {
    val ctx = newCtx()
    val parent = ctx.table("customer")
    val child = ctx.table("orders")
    val out = LookupStages.nestedEtl(parent, child, "c_custkey", "o_custkey",
      "order_keys", "EMBEDDEDLIST", valueFieldName = "o_orderkey")
    assert(out.count() == parent.count())
    val expected = child.groupBy("o_custkey").count()
    val joined = out.join(expected, out("c_custkey") === expected("o_custkey"))
    assert(joined.filter(size(col("order_keys")) =!= col("count")).count() == 0)

    val asMap = LookupStages.nestedEtl(parent, child, "c_custkey", "o_custkey",
      "order_prices", "EMBEDDEDMAP", keyFieldName = "o_orderkey", valueFieldName = "o_totalprice")
    val m = asMap.filter(col("order_prices").isNotNull).head()
      .getAs[Map[Long, Double]]("order_prices")
    assert(m.nonEmpty)
  }

  test("etl parameters: lateral rewrite — thousands of tuples, one plan, no cap") {
    val ctx = newCtx()
    val childPath = java.nio.file.Files
      .createTempDirectory("graft_etl_lateral").toString + "/child"
    spark.range(20000).select((col("id") % 5000).as("k"), col("id").as("v"))
      .write.mode("overwrite").parquet(childPath)
    val parent = spark.range(5000).select(col("id").as("pk"))
    // 5000 distinct tuples: the per-tuple path would refuse at the
    // 1000-tuple cap — reaching rows proves the lateral path planned,
    // and the wall-clock bound proves it planned as ONE plan
    val t0 = System.nanoTime()
    val out = LookupStages.etl(ComponentSpec("etl", Map(
      "parameters" -> Map("p" -> "pk"),
      "pipeline" -> Map(
        "source" -> Map("file" -> Map("path" -> childPath)),
        "extractor" -> Map("parquet" -> Map.empty[String, Any]),
        "transformers" -> List(Map("command" -> Map("command" ->
          "SELECT v FROM input WHERE k = $p")))),
      "fieldName" -> "vals", "fieldType" -> "EMBEDDEDLIST",
      "valueFieldName" -> "v")), ctx)(parent)
    val rows = out.collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(rows.length == 5000)
    val r7 = rows.find(_.getAs[Long]("pk") == 7L).get
    assert(r7.getSeq[Long](r7.fieldIndex("vals")).toList ==
      List(7L, 5007L, 10007L, 15007L))
    assert(secs < 60, s"5000-tuple lateral etl took $secs s — " +
      "the one-plan rewrite should be seconds, not O(tuples) plan builds")
  }

  test("etl parameters: quoted param falls back per-tuple; results match the lateral") {
    val ctx = newCtx()
    // region (5 tuples) → nations per region; the lateral-eligible form
    def run(sql: String) = LookupStages.etl(ComponentSpec("etl", Map(
      "parameters" -> Map("rk" -> "r_regionkey"),
      "pipeline" -> Map(
        "source" -> Map("file" -> Map("path" -> s"$sfDir/nation.parquet")),
        "extractor" -> Map("parquet" -> Map.empty[String, Any]),
        "transformers" -> List(Map("command" -> Map("command" -> sql)))),
      "fieldName" -> "nk", "fieldType" -> "EMBEDDEDLIST",
      "valueFieldName" -> "n_nationkey")), ctx)(ctx.table("region"))
      .select(col("r_regionkey"), col("nk"))
      .orderBy("r_regionkey").collect().toSeq
      .map(r => (r.getAs[Number]("r_regionkey").longValue,
        r.getSeq[Any](r.fieldIndex("nk")).map(_.toString).toList))
    val lateral = run("SELECT n_nationkey FROM input WHERE n_regionkey = $rk")
    // the quoted '$rk' is a VALUE substitution — lateral must refuse
    // (a column ref inside quotes would be literal text) and the
    // per-tuple path must produce the identical embedding
    val perTuple = run(
      "SELECT n_nationkey FROM input WHERE CAST(n_regionkey AS STRING) = '$rk'")
    assert(lateral == perTuple)
    assert(lateral.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L))
    assert(lateral.head._2.nonEmpty)
    // Spark SQL's default parser reads "double-quoted" spans as string
    // literals too — the lateral guard must refuse them the same way
    // (a column ref rewritten inside one would be silent literal text)
    val perTupleDq = run(
      "SELECT n_nationkey FROM input WHERE CAST(n_regionkey AS STRING) = \"$rk\"")
    assert(lateral == perTupleDq)
  }

  test("etl inline pipeline parses like a top-level config: `skip` alias, one-key components") {
    val ctx = newCtx()
    def run(transformers: List[Map[String, Any]]) = LookupStages.etl(ComponentSpec("etl", Map(
      "pipeline" -> Map(
        "source" -> Map("file" -> Map("path" -> s"$sfDir/nation.parquet")),
        "extractor" -> Map("parquet" -> Map.empty[String, Any]),
        "transformers" -> transformers),
      "joinFieldName" -> "r_regionkey", "childJoinFieldName" -> "n_regionkey",
      "fieldName" -> "nk", "fieldType" -> "EMBEDDEDLIST",
      "valueFieldName" -> "n_nationkey")), ctx)(ctx.table("region"))
    val kept = run(List(Map("skip" -> Map("expression" -> "n_nationkey >= 5"))))
      .select("nk").collect().toSeq
      .flatMap(r => Option(r.getSeq[Any](0)).toSeq.flatten.map(_.toString.toLong))
    assert(kept.sorted == Seq(0L, 1L, 2L, 3L, 4L))
    // a component map with two keys is a config error, never dropped
    val e = intercept[IllegalArgumentException](run(List(
      Map("skip" -> Map("expression" -> "n_nationkey >= 5"),
        "rename" -> Map("n_name" -> "name")))))
    assert(e.getMessage.contains("exactly one key"), e.getMessage)
  }

  test("etl parameters: empty parent (zero tuples) yields empty output, not a crash") {
    val ctx = newCtx()
    // quoted param forces the per-tuple path, whose tuple collect sees
    // zero distinct tuples — the output is empty with the parent schema
    // plus the field column
    val out = LookupStages.etl(ComponentSpec("etl", Map(
      "parameters" -> Map("rk" -> "r_regionkey"),
      "pipeline" -> Map(
        "source" -> Map("file" -> Map("path" -> s"$sfDir/nation.parquet")),
        "extractor" -> Map("parquet" -> Map.empty[String, Any]),
        "transformers" -> List(Map("command" -> Map("command" ->
          "SELECT n_nationkey FROM input WHERE CAST(n_regionkey AS STRING) = '$rk'")))),
      "fieldName" -> "nk", "fieldType" -> "EMBEDDEDLIST",
      "valueFieldName" -> "n_nationkey")), ctx)(
      ctx.table("region").where(lit(false)))
    assert(out.columns.contains("nk"))
    assert(out.count() == 0L)
  }

  test("lookup via SELECT form") {
    val ctx = newCtx()
    val out = LookupStages.link(ComponentSpec("link", Map(
      "joinFieldName" -> "o_custkey",
      "lookup" -> "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'",
      "linkFieldName" -> "building_cust", "unresolvedLinkAction" -> "SKIP")), ctx)(
      ctx.table("orders"))
    val expected = ctx.table("orders").join(
      ctx.table("customer").filter(col("c_mktsegment") === "BUILDING"),
      col("o_custkey") === col("c_custkey")).count()
    assert(out.count() == expected)
  }

  test("skewjoin: salted join equals the plain join exactly; left keeps misses once") {
    val ctx = newCtx()
    import spark.implicits._
    // a HOT key (k=1 on 400 of 500 rows) + keys with no dimension match
    val left = (1L to 500L).map(i =>
      (i, if (i <= 400) 1L else i % 7)).toDF("rid", "k")
    Seq((1L, "hot"), (2L, "a"), (3L, "b")).toDF("k", "name")
      .createOrReplaceTempView("sj_dim")
    def run(jt: String) = graft.stages.LookupStages.skewjoin(
      ComponentSpec("skewjoin", Map("right" -> "sj_dim", "on" -> "k",
        "saltBuckets" -> 4, "joinType" -> jt)), ctx)(left)
    val inner = run("inner").select("rid", "k", "name")
      .as[(Long, Long, String)].collect().toSet
    val plain = left.join(spark.table("sj_dim"), Seq("k"))
      .select(col("rid"), col("k"), col("name"))
      .as[(Long, Long, String)].collect().toSet
    assert(inner == plain && inner.size > 400)
    // left join: unmatched rows survive EXACTLY once with a null name
    val lj = run("left")
    assert(lj.count() == 500)
    assert(lj.where(col("name").isNull).count() ==
      left.join(spark.table("sj_dim"), Seq("k"), "left_anti").count())
    // the executed join really runs on (key, salt) — the salt column
    // must appear in the join keys, and no nested-loop fallback
    val plan = run("inner").queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt must be a join key:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"))
    // collision guard names the fix
    val err = intercept[Exception](graft.stages.LookupStages.skewjoin(
      ComponentSpec("skewjoin", Map("right" -> "sj_dim", "on" -> "k")),
      ctx)(left.withColumn("name", lit("x"))))
    assert(err.getMessage.contains("rightPrefix"))
  }

  test("skewjoin: right-side size guard; duplicate left rows spread across salts") {
    val ctx = newCtx()
    import spark.implicits._
    val left = (1L to 100L).map(i => (i, 1L)).toDF("rid", "k")
    (1L to 50L).map(i => (i, s"n$i")).toDF("k", "name")
      .createOrReplaceTempView("sj_big_dim")
    // planted oversized right (50 rows > maxRightRows 10): the stage
    // must fail LOUD with the replication math, not silently shuffle
    // saltBuckets × |right|
    val e = intercept[Exception](graft.stages.LookupStages.skewjoin(
      ComponentSpec("skewjoin", Map("right" -> "sj_big_dim", "on" -> "k",
        "maxRightRows" -> 10)), ctx)(left))
    assert(e.getMessage.contains("maxRightRows"), e.getMessage)
    assert(e.getMessage.contains("replicated"), e.getMessage)
    // EXACT-DUPLICATE left rows (narrow projection of a hot key — the
    // ADVICE r15 hazard: a whole-row hash co-salts them into one
    // reducer): results stay exact and the plan salts by key + a
    // per-row disambiguator, not the row content
    val dup = Seq.fill(200)((1L, "payload")).toDF("k", "v")
    val out = graft.stages.LookupStages.skewjoin(
      ComponentSpec("skewjoin", Map("right" -> "sj_big_dim", "on" -> "k",
        "saltBuckets" -> 4)), ctx)(dup)
    assert(out.count() == 200)
    // the executed plan can fold a local-relation projection away —
    // assert on the analyzed plan, where the salt expression is visible
    val plan = out.queryExecution.analyzed.toString
    assert(plan.contains("monotonically_increasing_id"),
      s"salt must carry a per-row disambiguator:\n$plan")
  }
}
