package graft

import graft.Fixtures.{emlFixture, epubFixture, exactTop5, fixtures, mboxFixture,
  odtFixture, pdfWarcFixture, scratch, tarFixture, warcFixture, wikiFixture, zipFixture}
import graft.engine.{Engine, EtlContext}
import graft.stages.LookupStages
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry (+ DuckDB `oracleSql` where
  * SQL-expressible) per implemented operator from SURVEY.md §2 plus the
  * LLM-data-pipeline stages. Every query goes through the REAL engine
  * path (JSON pipeline specs → [[graft.engine.Engine.run]]) so the
  * driver's correctness gate exercises the shipped code, not shortcuts.
  *
  * Conventions keeping the DuckDB compare deterministic:
  *  - result columns are aliased identically on both sides;
  *  - both sides ORDER BY the same key(s);
  *  - float outputs are either pass-through/per-row arithmetic (bit-exact
  *    in IEEE double on both engines) or integer-valued sums — never
  *    order-dependent float accumulations.
  */
object SparkEntry {

  private def ctx(spark: SparkSession, sfDir: String): EtlContext = {
    val c = new EtlContext(spark)
    Engine.registerSfTables(c, sfDir)
    c
  }

  // in-memory Derby: the same real JDBC write/read path (DriverManager,
  // batched inserts, typed readback) without Derby's per-commit disk
  // sync — the roundtrip measures the engine's JDBC surface, not /tmp
  private def derbyUrl(sfDir: String): String =
    s"jdbc:derby:memory:graft_${math.abs(sfDir.hashCode)};create=true"

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("link_fk")(spark, "/root/testdata/sf0.001")

  /** Builds every derived fixture of a scale dir ([[Fixtures.all]]).
    * Benchmarks call this in their UNTIMED warm-up so no query carries
    * a fixture's generation in its number; queries themselves hit the
    * memoized path. */
  def warm(spark: SparkSession, sfDir: String): Unit =
    Fixtures.all.foreach(_(spark, sfDir))

  type Q = (SparkSession, String) => DataFrame

  /** An approximate operator graded on recall against exact search: its
    * result and the exact one, both projected to `keys`, and the `floor`
    * the recall must clear under the verdict row named `metric`. */
  final case class Recall(approx: Q, exact: Q, keys: Seq[String], metric: String,
                          floor: Double) {
    /** One row `(__hits, __total)`: the exact rows the approximate result
      * found, and all exact rows. Hits are counted from the EXACT side
      * (a semi-join), so an operator that emits a key row twice cannot
      * inflate recall. Both inputs are persisted lazily: the verdict
      * reads each more than once (the non-empty check, the dedup
      * queries' false-positive leg), and a persist runs each plan ONCE
      * inside the verdict's single action instead of once per reference
      * (similarity_ivf: 4.0 s → one IVF execution). The frames are id
      * pairs, so the cache is tiny; Bench, Verify and Probe clear it
      * between queries. */
    def counted(approxDf: DataFrame, exactDf: DataFrame): DataFrame = {
      approxDf.persist()
      exactDf.persist()
      exactDf.join(approxDf, keys, "left_semi").agg(count(lit(1)).as("__hits"))
        .crossJoin(exactDf.agg(count(lit(1)).as("__total")))
    }

    def counted(s: SparkSession, dir: String): DataFrame = counted(approx(s, dir), exact(s, dir))
  }

  private def embeddings(s: SparkSession, dir: String, transformers: String): DataFrame =
    Engine.runJson(ctx(s, dir), s"""{
      "source": {"file": {"path": "$dir/embeddings.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [$transformers],
      "loader": {"memory": {}} }""")

  /** Cross-table search: base rows `vec_id >= 50`, queries `vec_id < 10`. */
  private def crossEmbeddings(s: SparkSession, dir: String, stage: String,
                              opts: String): DataFrame =
    embeddings(s, dir, s"""
      {"command": {"command":
        "SELECT vec_id, embedding FROM input WHERE vec_id >= 50"}},
      {"$stage": {"idField": "vec_id", "field": "embedding", "k": 5, $opts
        "queryTable": "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10"}}""")
      .select("q_id", "n_id")

  private val exactTop5Pairs: Q = (s, dir) =>
    s.read.parquet(exactTop5(s, dir)).select("q_id", "n_id")
  private val exactCosinePairs: Q = (s, dir) => embeddings(s, dir,
    """{"cosinedup": {"idField": "vec_id", "field": "embedding",
      "threshold": 0.4, "exact": true}}""").select("a", "b")

  /** The one config of each recall-graded query, read by its verdict
    * ([[recallVerdict]]) and by `Probe recall`, which prints each
    * entry's hits/total next to its floor. The recall figures below are
    * `Probe recall` at sf0.01 / sf0.1. Every approximate operator here
    * is deterministic (literal hyperplanes, hash-ordered training
    * samples, fixed Lloyd's rounds, lower-index tie-breaks), so a figure
    * moves only when the operator or the data does. */
  val recalls: Map[String, Recall] = Map(
    // SRP-LSH top-5: recall@5 0.437 / 0.465 (1092/2500, 4648/10000)
    "similarity_lsh" -> Recall((s, dir) => embeddings(s, dir,
      """{"similaritylsh": {"idField": "vec_id", "field": "embedding", "k": 5,
        "nBits": 16, "bands": 4}}""").select("q_id", "n_id"),
      exactTop5Pairs, Seq("q_id", "n_id"), "recall_at_5_ge_0.3", 0.3),
    // nProbe=18 over 32 well-trained cells (5 Lloyd's rounds, 2048-row
    // sample): recall@5 0.904 / 0.897 (2259/2500, 8969/10000), ~0.1
    // over the floor at both scales, at LOWER cost than the old 6/16
    // config (1.7 s vs 2.66 s anchor: better centroids shrink per-cell
    // populations, so more probes scan fewer total candidates)
    "similarity_ivf" -> Recall((s, dir) => embeddings(s, dir,
      """{"similarityivf": {"idField": "vec_id", "field": "embedding", "k": 5,
        "nCells": 32, "nProbe": 18, "lloydIters": 5, "trainRows": 2048}}""")
      .select("q_id", "n_id"),
      exactTop5Pairs, Seq("q_id", "n_id"), "recall_at_5_ge_0.8", 0.8),
    // IVF-PQ: the candidate exchange carries 16 code BYTES per base row
    // instead of the 256-byte float vector (16× smaller big side),
    // queries score candidates via a precomputed ADC table (16 array
    // reads vs 64 multiply-adds), and an exact re-rank of the ADC
    // top-(5·8) shortlist restores score accuracy — ADC error only costs
    // shortlist recall. pqM=16 subspaces × pqK=64 Euclidean centroids
    // over the unit-normalized vectors: recall@5 0.962 / 0.903
    // (2404/2500, 9031/10000), ≥0.1 over the floor at both scales
    "similarity_ivfpq" -> Recall((s, dir) => embeddings(s, dir,
      """{"similarityivf": {"idField": "vec_id", "field": "embedding", "k": 5,
        "nCells": 32, "nProbe": 24, "lloydIters": 5, "trainRows": 2048,
        "pqM": 16, "pqK": 64, "refine": 8}}""").select("q_id", "n_id"),
      exactTop5Pairs, Seq("q_id", "n_id"), "recall_at_5_ge_0.8", 0.8),
    // cross-table IVF against the brute queryTable path over the SAME
    // slices (hash-verified vs DuckDB by similarity_cross): recall@5
    // 0.90 / 0.90 (45/50 at both), 0.1 over the floor at both scales
    "similarity_ivf_cross" -> Recall(
      crossEmbeddings(_, _, "similarityivf",
        """"nCells": 32, "nProbe": 18, "lloydIters": 5, "trainRows": 2048,"""),
      crossEmbeddings(_, _, "similarity", ""),
      Seq("q_id", "n_id"), "recall_at_5_ge_0.8", 0.8),
    // brute-force top-5 over the quantize -> dequantize round trip vs
    // the float-exact top-5, on a probe panel of every 17th vector: the
    // same verdict at 1/17th of the two N x N searches' cost. The exact
    // side is the shared fixture restricted to that panel (top-5 is
    // independent per query, so it equals a filtered exact search):
    // recall@5 0.980 / 0.986 (147/150, 582/590)
    "quantize_embed" -> Recall((s, dir) => embeddings(s, dir,
      """{"quantize": {"field": "embedding"}},
        {"quantize": {"field": "embedding", "mode": "dequantize"}},
        {"similarity": {"idField": "vec_id", "field": "embedding", "k": 5,
          "queryFilter": "vec_id % 17 = 0"}}""").select("q_id", "n_id"),
      (s, dir) => s.read.parquet(exactTop5(s, dir))
        .where(col("q_id") % 17 === 0).select("q_id", "n_id"),
      Seq("q_id", "n_id"), "recall_at_5_ge_0.9", 0.9),
    // SRP-bucketed cosine pairs vs all pairs: recall 0.508 / 0.520
    // (30/59, 478/920)
    "cosine_dup" -> Recall((s, dir) => embeddings(s, dir,
      """{"cosinedup": {"idField": "vec_id", "field": "embedding",
        "threshold": 0.4, "nBits": 16, "bands": 4}}""").select("a", "b"),
      exactCosinePairs, Seq("a", "b"), "recall_ge_0.4", 0.4),
    // cluster-bucketed pairs (k=8, nProbe=3) vs all pairs: recall
    // 1.000 / 0.958 (59/59, 881/920)
    "semantic_dedup" -> Recall((s, dir) => embeddings(s, dir,
      """{"semanticdedup": {"idField": "vec_id", "field": "embedding",
        "threshold": 0.4, "k": 8, "nProbe": 3, "emit": "pairs"}}""").select("a", "b"),
      exactCosinePairs, Seq("a", "b"), "recall_ge_0.8", 0.8))

  /** Deterministic recall-verdict frame for the approximate operators
    * whose raw outputs aren't SQL-expressible: `(metric, pass)` rows —
    * the recall of entry `name` of [[recalls]] must clear its floor, plus
    * a non-empty check and the query's own `legs` on the approximate and
    * exact frames — hash-compared against a constant DuckDB VALUES
    * oracle. Lazy single plan: two 1-row aggregates cross-joined. */
  private def recallVerdict(name: String, s: SparkSession, dir: String)(
      legs: (DataFrame, DataFrame) => Seq[DataFrame] = (_, _) => Nil): DataFrame = {
    val r = recalls(name)
    val approx = r.approx(s, dir)
    val exact = r.exact(s, dir)
    val extra = legs(approx, exact)
    val recall = r.counted(approx, exact).select(lit(r.metric).as("metric"),
      (col("__hits").cast("double") / col("__total") >= r.floor).as("pass"))
    val nonEmpty = approx.agg((count(lit(1)) > 0L).as("pass"))
      .select(lit("results_nonempty").as("metric"), col("pass"))
    extra.foldLeft(recall.unionByName(nonEmpty).orderBy("metric"))(
      _.unionByName(_).orderBy("metric"))
  }

  /** The verdict leg of the dedup queries: no approximate pair is
    * missing from the exact pair set. */
  private def noFalsePositives(approx: DataFrame, exact: DataFrame): Seq[DataFrame] =
    Seq(approx.join(exact, Seq("a", "b"), "left_anti")
      .agg((count(lit(1)) === 0L).as("pass"))
      .select(lit("false_positives_zero").as("metric"), col("pass")))

  def queries: Map[String, Q] = Map(
    // ------------------------------------------------ sources / extractors
    "file_row_count" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/tables/nation_noheader.csv"}},
        "extractor": {"row": {}},
        "transformers": [{"command": {"command": "SELECT count(*) AS n_lines FROM input"}}],
        "loader": {"memory": {}} }""")
    },
    "csv_typed" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/tables/nation.csv"}},
        "extractor": {"row": {}},
        "transformers": [{"csv": {"columns":
          ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"]}}],
        "loader": {"memory": {}} }""").orderBy("n_nationkey")
    },
    "csv_badcells" -> { (s, dir) =>
      // reference per-field conversion-error policy (OCSVTransformer
      // .java:136-140, 171-174): the malformed n_regionkey cells drop to
      // null, the rows survive, and the error counter observes the count
      // (asserted in EngineSpec; the oracle checks the row semantics)
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/tables/nation_dirty.csv"}},
        "extractor": {"row": {}},
        "transformers": [{"csv": {"errorStats": true, "columns":
          ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"]}}],
        "loader": {"memory": {}} }""")
        .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
    },
    "csv_quarantine" -> { (s, dir) =>
      // badRecordsPath-style reject channel: the csv transformer's
      // `errorField` names each row's failed cells; the loader's
      // `quarantinePath` diverts flagged rows (WITH the error detail)
      // to a parquet side-channel and writes only clean rows to the
      // main table. Result = the quarantine read back (the planted
      // every-5th bad n_regionkey rows, error naming the field) plus a
      // clean-row count sentinel proving the main write excluded them.
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      val main = scratch("q_main", dir)
      val q = scratch("q_bad", dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/tables/nation_dirty.csv"}},
        "extractor": {"row": {}},
        "transformers": [{"csv": {"errorField": "__errors", "columns":
          ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"]}}],
        "loader": {"parquet": {"path": "$main", "quarantinePath": "$q"}} }""")
      val quarantined = s.read.parquet(q)
        .select(col("n_nationkey"),
          concat_ws(",", col("__errors")).as("errors"))
      val kept = s.read.parquet(main)
        .agg(count(lit(1)).as("n"))
        .select(lit(-1).cast("int").as("n_nationkey"),
          concat(lit("clean_rows="), col("n")).as("errors"))
      quarantined.unionByName(kept).orderBy("n_nationkey")
    },
    "file_gzip" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/tables/nation.csv.gz"}},
        "extractor": {"row": {}},
        "transformers": [{"csv": {"columns":
          ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"]}}],
        "loader": {"memory": {}} }""").orderBy("n_nationkey")
    },
    "csv_skiprange" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/tables/nation_noheader.csv"}},
        "extractor": {"row": {}},
        "transformers": [{"csv": {"columnsOnFirstLine": false,
          "skipFrom": 0, "skipTo": 4, "columns":
          ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"]}}],
        "loader": {"memory": {}} }""")
        .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
    },
    "json_lines" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/tables/orders_json"}},
        "extractor": {"jsonl": {}},
        "loader": {"memory": {}} }""")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },
    "json_array" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/tables/region_array.json"}},
        "extractor": {"json": {"multiLine": true}},
        "loader": {"memory": {}} }""")
        .select(col("r_regionkey").cast("int").as("r_regionkey"), col("r_name"))
        .orderBy("r_regionkey")
    },
    "jdbc_roundtrip" -> { (s, dir) =>
      val c = ctx(s, dir)
      val url = derbyUrl(dir)
      // write customer → Derby via the jdbc loader, read back via the
      // jdbc extractor (OJDBCExtractor.java:47-314 semantics)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "loader": {"jdbc": {"url": "$url", "table": "customer_rt",
                            "mode": "overwrite", "batchCommit": 1000}} }""")
      Engine.runJson(c, s"""{
        "extractor": {"jdbc": {"url": "$url",
          "query": "SELECT * FROM customer_rt"}},
        "loader": {"memory": {"name": "cust_back"}} }""")
        .select(col("C_CUSTKEY").as("c_custkey"), col("C_NAME").as("c_name"),
          col("C_NATIONKEY").as("c_nationkey"), col("C_ACCTBAL").as("c_acctbal"),
          col("C_MKTSEGMENT").as("c_mktsegment"))
        .orderBy("c_custkey")
    },
    "jdbc_partitioned" -> { (s, dir) =>
      val c = ctx(s, dir)
      val url = derbyUrl(dir)
      // the 100 TB ingest shape the reference's single forward-only
      // cursor (OJDBCExtractor.java:63) cannot express: the scan splits
      // into numPartitions range-bounded cursors, one per task. The
      // parallel-read contract is asserted in-query (6 partitions),
      // the values against the DuckDB oracle.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"command": {"command":
          "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"}}],
        "loader": {"jdbc": {"url": "$url", "table": "orders_part",
                            "mode": "overwrite", "batchCommit": 1000}} }""")
      val back = Engine.runJson(c, s"""{
        "extractor": {"jdbc": {"url": "$url",
          "query": "SELECT * FROM orders_part",
          "partitionColumn": "o_orderkey", "lowerBound": "0",
          "upperBound": "1000000", "numPartitions": 6}},
        "loader": {"memory": {"name": "ord_back"}} }""")
      require(back.rdd.getNumPartitions == 6,
        s"partitioned jdbc read: expected 6 range cursors, " +
        s"got ${back.rdd.getNumPartitions}")
      back.select(col("O_ORDERKEY").as("o_orderkey"),
          col("O_CUSTKEY").as("o_custkey"),
          col("O_TOTALPRICE").as("o_totalprice"))
        .orderBy("o_orderkey")
    },
    "input_stdin" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // `input` source (OInputSource.java:30-51): stdin as the reader.
      // The payload is consumed eagerly at plan-build time (reference
      // parity — a single bounded Reader), so swapping System.in around
      // the build is safe.
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$fx/tables/nation_noheader.csv"))
      val old = System.in
      System.setIn(new java.io.ByteArrayInputStream(bytes))
      try Engine.runJson(c, s"""{
        "source": {"input": {}},
        "extractor": {"row": {}},
        "transformers": [{"csv": {"columnsOnFirstLine": false, "columns":
          ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"]}}],
        "loader": {"memory": {}} }""")
        .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
      finally System.setIn(old)
    },
    // --------------------------------------------------------- transformers
    "field_expr" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/nation.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"field": {"fieldName": "upper_name",
          "expression": "n_name.toUpperCase()"}}],
        "loader": {"memory": {}} }""").orderBy("n_nationkey")
    },
    "field_if" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/part.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"field": {"fieldName": "bonus",
          "expression": "p_retailprice + 10", "if": "p_size > 20"}}],
        "loader": {"memory": {}} }""")
        .select("p_partkey", "p_size", "p_retailprice", "bonus")
        .orderBy("p_partkey")
    },
    "field_remove" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/supplier.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"field": {"fieldName": "s_acctbal", "operation": "remove"}}],
        "loader": {"memory": {}} }""").orderBy("s_suppkey")
    },
    "rename_fields" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/nation.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"rename": {"n_name": "name"}}],
        "loader": {"memory": {}} }""").orderBy("n_nationkey")
    },
    "json_transform" -> { (s, dir) =>
      val c = ctx(s, dir)
      // events.props is a JSON string column (FIXTURES.md) — mid-pipeline
      // from_json (OJSONTransformer.java:30-37)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/events.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"json": {"field": "props", "schema": "k BIGINT",
                                   "keepInput": true}}],
        "loader": {"memory": {}} }""")
        .select("event_id", "k").orderBy("event_id")
    },
    "flow_skip" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/lineitem.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"flow": {"operation": "skip", "if": "l_quantity > 45"}}],
        "loader": {"memory": {}} }""")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    },
    "flow_halt_pass" -> { (s, dir) =>
      val c = ctx(s, dir)
      // halt condition never true → stream passes through; the halt check
      // rides the terminal action (single-pass deferred mode)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"flow": {"operation": "halt", "if": "r_regionkey > 1000"}}],
        "loader": {"memory": {}} }""").orderBy("r_regionkey")
    },
    "merge_upsert" -> { (s, dir) =>
      val c = ctx(s, dir)
      val stream = Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT c_custkey, c_acctbal + 100 AS c_acctbal FROM input WHERE c_custkey % 10 = 0"}},
          {"merge": {"joinFieldName": "c_custkey", "lookup": "customer.c_custkey"}}],
        "loader": {"memory": {"name": "merged_stream"}} }""")
      LookupStages.upsertResult(c.table("customer"), stream, "c_custkey")
        .orderBy("c_custkey")
    },
    "link_fk" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"link": {"joinFieldName": "o_custkey",
          "lookup": "customer.c_custkey", "linkFieldName": "cust_link"}}],
        "loader": {"memory": {}} }""")
        .select("o_orderkey", "o_custkey", "cust_link").orderBy("o_orderkey")
    },
    "link_skip" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"link": {"joinFieldName": "o_custkey",
          "lookup": "SELECT c_custkey FROM customer WHERE c_custkey <= 500",
          "linkFieldName": "cust_link", "unresolvedLinkAction": "SKIP"}}],
        "loader": {"memory": {}} }""")
        .select("o_orderkey", "cust_link").orderBy("o_orderkey")
    },
    "link_create" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"field": {"fieldName": "o_custkey", "expression": "o_custkey + 2000000",
                     "if": "o_orderkey % 100 = 0"}},
          {"link": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "linkFieldName": "cust_link", "unresolvedLinkAction": "CREATE"}}],
        "loader": {"memory": {}} }""")
        .select("o_orderkey", "cust_link").orderBy("o_orderkey")
    },
    "link_list" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/lineitem.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT l_orderkey, sort_array(collect_list(l_suppkey)) AS supps FROM input GROUP BY l_orderkey"}},
          {"link": {"joinFieldName": "supps", "lookup": "supplier.s_suppkey",
                    "linkFieldName": "supp_links", "type": "LINKLIST"}}],
        "loader": {"memory": {}} }""")
        .where(size(col("supp_links")) > 0)
        // serialize the LINKLIST for the oracle compare (the driver's
        // pandas sort can't order list cells); element order is the
        // upstream sort_array order, preserved by the link stage
        .select(col("l_orderkey"),
          array_join(transform(col("supp_links"), _.cast("string")), ",")
            .as("supp_links"))
        .orderBy("l_orderkey")
    },
    "vertex_label" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"vertex": {"class": "customer", "idField": "c_custkey"}}],
        "loader": {"memory": {}} }""")
        .select("id", "label", "c_custkey", "c_name", "c_nationkey",
          "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey")
    },
    "edge_graph" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out"}}],
        "loader": {"memory": {}} }""")
      c.edges.get.orderBy("src", "dst")
    },
    "graph_degree" -> { (s, dir) =>
      val c = ctx(s, dir)
      // batch graph analytics over the vertex/edge contract: customers'
      // in-degree along `placed` edges == their order count
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out"}},
          {"graphdegree": {"direction": "in", "label": "placed"}}],
        "loader": {"memory": {}} }""").orderBy("id")
    },
    "graph_neighbors" -> { (s, dir) =>
      val c = ctx(s, dir)
      // one-hop expansion: each order's outbound neighbors along
      // `placed` = the customer it links to (batch Gremlin-out step)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out"}},
          {"graphneighbors": {"idField": "id", "direction": "out"}}],
        "loader": {"memory": {}} }""")
        .where(col("neighbors").isNotNull)
        .select(col("o_orderkey"),
          array_join(col("neighbors"), ",").as("neighbors"))
        .orderBy("o_orderkey")
    },
    "graph_motif" -> { (s, dir) =>
      val c = ctx(s, dir)
      // two-edge V-motif over the placed graph: pairs of orders sharing
      // a customer — the batch replacement for a Gremlin co-purchase
      // traversal; `where` de-mirrors the symmetric pattern
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out"}},
          {"motif": {"pattern": "(a)-[:placed]->(c); (b)-[:placed]->(c)",
                     "where": "a < b"}}],
        "loader": {"memory": {}} }""")
        .select("a", "b", "c").orderBy("a", "b")
    },
    "command_gremlin" -> { (s, dir) =>
      val c = ctx(s, dir)
      // LITERAL Gremlin script through `command` — the translator
      // compiles the chain to the same edge-table joins the motif
      // transformer uses: orders → their customer → ALL orders of that
      // customer (bag semantics, one row per traversal path), labels
      // re-attached from the registered vertices
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out"}},
          {"command": {"command": "g.V().hasLabel('order').out('placed').in('placed')"}}],
        "loader": {"memory": {}} }""")
        .select("id", "label").orderBy("id")
    },
    "command_gremlin_union" -> { (s, dir) =>
      val c = ctx(s, dir)
      // union: every traverser flows through BOTH branches — one hops to
      // the placing customer, one keeps the order vertex — and the
      // concatenated bag feeds groupCount, so an id's count is its
      // orders-placed (customer side) plus 1 if it is also an order key
      // (the id spaces overlap on purpose: bag concatenation across
      // heterogeneous branches is exactly what's being graded)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out"}},
          {"command": {"command":
            "g.V().union(out('placed'), hasLabel('order')).groupCount()"}}],
        "loader": {"memory": {}} }""")
        .select(col("id"), col("count"))
        .orderBy("id")
    },
    "command_gremlin_match" -> { (s, dir) =>
      val c = ctx(s, dir)
      // match() (r18): pattern-join of traversal fragments sharing as()
      // tags, SOLUTION-set semantics (distinct bindings) — so the
      // oracle is exactly the SQL join the patterns denote: order pairs
      // sharing their placing customer, with the customer bound
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out"}},
          {"command": {"command":
            "g.V().hasLabel('order').match(__.as('o').out('placed').as('c'), __.as('o2').out('placed').as('c')).select('o', 'c', 'o2')"}}],
        "loader": {"memory": {}} }""")
        .orderBy("o", "c", "o2")
    },
    "command_gremlin_repeat" -> { (s, dir) =>
      val c = ctx(s, dir)
      // bounded-loop traversal with bound-vertex state: successor graph
      // of planted 3-cycles where every custkey % 7 == 0 vertex
      // self-loops instead (breaking its cycle). After repeat(out)
      // times(3), full cycles return to the origin (filtered by
      // where(neq)) — the survivors are exactly the OTHER members of a
      // broken cycle, projected back to the origin via select('a'). The
      // unrolled plan is 3 equi-joins; the oracle is a depth-bounded
      // recursive CTE.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT *, CASE WHEN c_custkey % 7 = 0 THEN c_custkey WHEN c_custkey % 3 = 0 THEN c_custkey - 2 ELSE c_custkey + 1 END AS succ FROM __input"}},
          {"vertex": {"class": "customer", "idField": "c_custkey"}},
          {"edge": {"joinFieldName": "succ", "lookup": "customer.c_custkey",
                    "class": "next", "direction": "out"}},
          {"command": {"command":
            "g.V().as('a').repeat(out('next')).times(3).where(neq('a')).select('a').dedup()"}}],
        "loader": {"memory": {}} }""")
        .select("id", "label").orderBy("id")
    },
    "command_gremlin_path" -> { (s, dir) =>
      val c = ctx(s, dir)
      // path() tracking: each traverser's visited vertex ids ride along
      // as a per-row array append (no extra shuffle) — here order →
      // placing customer, one 2-element path per order
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out"}},
          {"command": {"command": "g.V().hasLabel('order').out('placed').path()"}}],
        "loader": {"memory": {}} }""")
        .select(array_join(col("path"), "->").as("path")).orderBy("path")
    },
    "command_gremlin_simplepath" -> { (s, dir) =>
      val c = ctx(s, dir)
      // simplePath(): cull traversers that revisit a vertex — the
      // out().in() round trip lands back on the origin order once per
      // customer, and exactly those rows drop. Pure per-row array
      // arithmetic over the tracked path (no extra shuffle beyond the
      // hop joins)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out"}},
          {"command": {"command":
            "g.V().hasLabel('order').out('placed').in('placed').simplePath().path()"}}],
        "loader": {"memory": {}} }""")
        .select(array_join(col("path"), "->").as("path")).orderBy("path")
    },
    "command_gremlin_valuemap" -> { (s, dir) =>
      val c = ctx(s, dir)
      // hasId membership start + valueMap property projection: the
      // TinkerPop list-valued map rendered as a deterministic JSON
      // string (map columns crash the driver compare's pandas sort)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"command": {"command":
            "g.V().hasLabel('order').hasId('1', '2', '3', '4', '5', '6', '7', '32', '33').valueMap('o_orderstatus', 'o_orderpriority')"}}],
        "loader": {"memory": {}} }""")
        .orderBy("value")
    },
    "command_gremlin_elementmap" -> { (s, dir) =>
      val c = ctx(s, dir)
      // elementMap: flat property map including id and label
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "customer", "idField": "c_custkey"}},
          {"command": {"command":
            "g.V().hasLabel('customer').hasId('1', '2', '3', '4', '5').elementMap('c_mktsegment')"}}],
        "loader": {"memory": {}} }""")
        .orderBy("value")
    },
    "command_gremlin_edges" -> { (s, dir) =>
      val c = ctx(s, dir)
      // EDGE space: outE exposes the edge rows with their properties,
      // has() filters on the edge weight (order value here), inV lands
      // back on vertices and groupCount tallies per landed customer —
      // high-value orders per customer in one traversal
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out", "weightField": "o_totalprice"}},
          {"command": {"command":
            "g.V().hasLabel('order').outE('placed').has('weight', gt(150000.0)).inV().groupCount()"}}],
        "loader": {"memory": {}} }""")
        .orderBy("id")
    },
    "command_gremlin_estart" -> { (s, dir) =>
      val c = ctx(s, dir)
      // g.E(): the traversal starts at the EDGE set (one traverser per
      // edge row), filters on edge properties, and outV lands on the
      // source vertices
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out", "weightField": "o_totalprice"}},
          {"command": {"command":
            "g.E().hasLabel('placed').has('weight', gt(300000.0)).outV()"}}],
        "loader": {"memory": {}} }""")
        .select("id").orderBy("id")
    },
    "command_gremlin_pred" -> { (s, dir) =>
      val c = ctx(s, dir)
      // value predicates (Gremlin P): range + membership filters compile
      // to plain Catalyst filters over the vertex frame
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "customer", "idField": "c_custkey"}},
          {"command": {"command":
            "g.V().hasLabel('customer').has('id', gt('500')).has('id', without('501', '502')).order().by('id').range(0, 15).values('id')"}}],
        "loader": {"memory": {}} }""")
        .orderBy("value")
    },
    "command_gremlin_paging" -> { (s, dir) =>
      val c = ctx(s, dir)
      // order().by(desc).by(tiebreak) + skip + limit + id(): the offset
      // carries the explicit sort (no canonical re-pin between pages),
      // so skip(5).limit(10) is rows 6-15 of the user's order
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"command": {"command":
            "g.V().hasLabel('order').order().by('o_totalprice', 'desc').by('id').skip(5).limit(10).id()"}}],
        "loader": {"memory": {}} }""")
        .orderBy("value")
    },
    "command_gremlin_tail" -> { (s, dir) =>
      val c = ctx(s, dir)
      // tail(n) = last n of the current order, planned as ONE inverted
      // TakeOrdered (never a count+offset pass)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"command": {"command":
            "g.V().hasLabel('order').order().by('o_totalprice', 'desc').by('id').tail(10).id()"}}],
        "loader": {"memory": {}} }""")
        .orderBy("value")
    },
    "command_gremlin_label" -> { (s, dir) =>
      val c = ctx(s, dir)
      // label() projects the traverser to its element label (the
      // values() shape, so groupCount composes); constant-per-class
      // counts come out as one aggregate row per label
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"command": {"command":
            "g.V().hasLabel('order').label().groupCount()"}}],
        "loader": {"memory": {}} }""")
        .orderBy("value")
    },
    "command_gremlin_groupcount" -> { (s, dir) =>
      val c = ctx(s, dir)
      // groupCount() terminal: traverser counts per landed vertex —
      // Gremlin's result map as rows, one hash aggregation after the
      // hop join (orders per customer here)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out"}},
          {"command": {"command":
            "g.V().hasLabel('order').out('placed').groupCount()"}}],
        "loader": {"memory": {}} }""")
        .orderBy("id")
    },
    "command_gremlin_group" -> { (s, dir) =>
      val c = ctx(s, dir)
      // group().by(key).by(aggregate): Gremlin's result map as rows —
      // one hash aggregation (groupBy key, agg over the group's
      // property). max is order-independent, so the double column
      // stays hash-exact against the oracle
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "customer", "idField": "c_custkey"}},
          {"command": {"command":
            "g.V().hasLabel('customer').group().by('c_mktsegment').by(values('c_acctbal').max())"}}],
        "loader": {"memory": {}} }""")
        .orderBy("key")
    },
    "command_gremlin_project" -> { (s, dir) =>
      val c = ctx(s, dir)
      // project(): one column per key — properties directly, and two
      // per-traverser sub-traversals (order → customer → that
      // customer's orders) aggregated on the keyedByTid correlation id:
      // a count and a string-min (both order-independent)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out"}},
          {"command": {"command":
            "g.V().hasLabel('order').project('oid', 'price', 'siblings', 'firstsib').by('id').by('o_totalprice').by(out('placed').in('placed').count()).by(out('placed').in('placed').values('id').min())"}}],
        "loader": {"memory": {}} }""")
        .orderBy("oid")
    },
    "command_gremlin_sack" -> { (s, dir) =>
      val c = ctx(s, dir)
      // r19: withSack/sack per-traverser accumulator — seed 7, fold two
      // properties (sum then minus), read in value space; pure integer
      // arithmetic the oracle recomputes
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"command": {"command":
            "g.withSack(7).V().hasLabel('order').sack(sum).by('o_custkey').sack(minus).by('o_orderkey').sack()"}}],
        "loader": {"memory": {}} }""")
        .select(col("value").cast("long").as("value"))
        .orderBy("value")
    },
    "command_gremlin_subgraph" -> { (s, dir) =>
      val c = ctx(s, dir)
      // r19: subgraph()/cap() — the edge-induced subgraph side effect
      // (extract a filtered link graph for downstream PageRank/CC):
      // edges whose source order has status F, emitted as the edge SET
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out"}},
          {"command": {"command":
            "g.V().hasLabel('order').has('o_orderstatus', 'F').outE('placed').subgraph('sg').cap('sg')"}}],
        "loader": {"memory": {}} }""")
        .orderBy("src", "dst")
    },
    "command_gremlin_by_traversal" -> { (s, dir) =>
      val c = ctx(s, dir)
      // r19: nested by(<traversal>) on group() — group-stream semantics:
      // the value reduces over the UNION of the group's elements'
      // sub-results (per status: Σ over orders of how many orders share
      // its customer, a two-hop count). Join-unrolled oracle.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out"}},
          {"command": {"command":
            "g.V().hasLabel('order').group().by('o_orderstatus').by(out('placed').in('placed').count())"}}],
        "loader": {"memory": {}} }""")
        .orderBy("key")
    },
    "command_gremlin_orderby" -> { (s, dir) =>
      val c = ctx(s, dir)
      // r19: order().by(<traversal>.aggregate) — rank orders by their
      // customer's order count (two-hop degree), id tie-break, top 10;
      // the __ord_*/__tid bookkeeping must be gone from the output
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out"}},
          {"command": {"command":
            "g.V().hasLabel('order').order().by(out('placed').in('placed').count(), desc).by('id').limit(10).values('id')"}}],
        "loader": {"memory": {}} }""")
        .orderBy("value")
    },
    "command_gremlin_branch" -> { (s, dir) =>
      val c = ctx(s, dir)
      // branch(<selector>).option(v, <chain>): BUILDING customers route
      // through the successor hop (unresolved successors drop — the hop
      // is empty for them), everyone else through the identity filter;
      // the landed bag feeds groupCount
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT *, CASE WHEN c_custkey % 2 = 1 THEN NULL WHEN c_custkey % 7 = 0 THEN c_custkey WHEN c_custkey % 3 = 0 THEN c_custkey - 2 ELSE c_custkey + 1 END AS succ FROM __input"}},
          {"vertex": {"class": "customer", "idField": "c_custkey"}},
          {"edge": {"joinFieldName": "succ", "lookup": "customer.c_custkey",
                    "class": "next", "direction": "out"}},
          {"command": {"command":
            "g.V().hasLabel('customer').branch(values('c_mktsegment')).option('BUILDING', out('next')).option('none', has('id')).groupCount()"}}],
        "loader": {"memory": {}} }""")
        .orderBy("id")
    },
    "command_gremlin_agg" -> { (s, dir) =>
      val c = ctx(s, dir)
      // terminal reducing barrier over value space: an integer-exact
      // sum (long addition commutes — hash-safe, unlike double sums)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "customer", "idField": "c_custkey"}},
          {"command": {"command":
            "g.V().hasLabel('customer').has('c_mktsegment', 'BUILDING').values('c_custkey').sum()"}}],
        "loader": {"memory": {}} }""")
        .select(col("sum").cast("long").as("sum"))
    },
    "command_gremlin_local" -> { (s, dir) =>
      val c = ctx(s, dir)
      // local(<hops>.limit(n)): each order keeps only the 2 first
      // sibling orders of its customer (per-traverser top-n over the
      // deterministic id order — ONE row_number window on the
      // correlation id), then groupCount over the kept bag
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out"}},
          {"command": {"command":
            "g.V().hasLabel('order').local(out('placed').in('placed').limit(2)).groupCount()"}}],
        "loader": {"memory": {}} }""")
        .orderBy("id")
    },
    "command_gremlin_selectby" -> { (s, dir) =>
      val c = ctx(s, dir)
      // select('a','b').by(prop).by(prop): properties of the BOUND
      // vertices — the source customer's balance and the successor's id
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT *, CASE WHEN c_custkey % 2 = 1 THEN NULL WHEN c_custkey % 7 = 0 THEN c_custkey WHEN c_custkey % 3 = 0 THEN c_custkey - 2 ELSE c_custkey + 1 END AS succ FROM __input"}},
          {"vertex": {"class": "customer", "idField": "c_custkey"}},
          {"edge": {"joinFieldName": "succ", "lookup": "customer.c_custkey",
                    "class": "next", "direction": "out"}},
          {"command": {"command":
            "g.V().hasLabel('customer').as('a').out('next').as('b').select('a', 'b').by('c_acctbal').by('id')"}}],
        "loader": {"memory": {}} }""")
        .orderBy("b", "a")
    },
    "command_gremlin_order" -> { (s, dir) =>
      val c = ctx(s, dir)
      // order().by(desc).range(a,b): the lazy sort + adjacent slice plan
      // as one TakeOrdered (partial top-k) — vertex ids are strings, so
      // both sides slice the string-descending order
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "customer", "idField": "c_custkey"}},
          {"command": {"command":
            "g.V().hasLabel('customer').order().by('id', decr).range(10, 20).values('id')"}}],
        "loader": {"memory": {}} }""")
        .orderBy("value")
    },
    "command_gremlin_emit" -> { (s, dir) =>
      val c = ctx(s, dir)
      // emit().repeat(..).until(..): every frontier of a bounded walk
      // over the broken-3-cycle successor graph is emitted (emit BEFORE
      // repeat includes the start), and traversers exit when the
      // until-filter holds AFTER a hop (do-while) — start 21 self-loops
      // once before its own id stops it. Oracle: depth-bounded
      // recursive CTE whose recursion gate mirrors the do-while rule
      // (seeds always hop once).
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT *, CASE WHEN c_custkey % 7 = 0 THEN c_custkey WHEN c_custkey % 3 = 0 THEN c_custkey - 2 ELSE c_custkey + 1 END AS succ FROM __input"}},
          {"vertex": {"class": "customer", "idField": "c_custkey"}},
          {"edge": {"joinFieldName": "succ", "lookup": "customer.c_custkey",
                    "class": "next", "direction": "out"}},
          {"command": {"command":
            "g.V().has('id', within('5', '10', '21')).emit().repeat(out('next')).until(has('id', within('4', '12', '21')))"}}],
        "loader": {"memory": {}} }""")
        .select("id").orderBy("id")
    },
    "command_gremlin_not" -> { (s, dir) =>
      val c = ctx(s, dir)
      // not(<traversal>): vertices with NO outgoing successor edge —
      // odd customers carry a NULL succ (edge dropped) and even ones
      // whose successor is out of range never resolve; the oracle
      // mirrors the edge-creation rule with NOT EXISTS
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT *, CASE WHEN c_custkey % 2 = 1 THEN NULL WHEN c_custkey % 7 = 0 THEN c_custkey WHEN c_custkey % 3 = 0 THEN c_custkey - 2 ELSE c_custkey + 1 END AS succ FROM __input"}},
          {"vertex": {"class": "customer", "idField": "c_custkey"}},
          {"edge": {"joinFieldName": "succ", "lookup": "customer.c_custkey",
                    "class": "next", "direction": "out"}},
          {"command": {"command": "g.V().not(out('next'))"}}],
        "loader": {"memory": {}} }""")
        .select("id", "label").orderBy("id")
    },
    "command_gremlin_coalesce" -> { (s, dir) =>
      val c = ctx(s, dir)
      // coalesce branch precedence: even customers have a successor
      // edge (odd ones carry a NULL succ — the unresolved lookup drops
      // the edge) and take the hop branch; odd customers fall through
      // to the identity filter branch
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT *, CASE WHEN c_custkey % 2 = 1 THEN NULL WHEN c_custkey % 7 = 0 THEN c_custkey WHEN c_custkey % 3 = 0 THEN c_custkey - 2 ELSE c_custkey + 1 END AS succ FROM __input"}},
          {"vertex": {"class": "customer", "idField": "c_custkey"}},
          {"edge": {"joinFieldName": "succ", "lookup": "customer.c_custkey",
                    "class": "next", "direction": "out"}},
          {"command": {"command":
            "g.V().coalesce(out('next'), has('id'))"}}],
        "loader": {"memory": {}} }""")
        .select("id", "label").orderBy("id")
    },
    "command_gremlin_optional" -> { (s, dir) =>
      val c = ctx(s, dir)
      // optional(<chain>): traversers whose sub-traversal yields results
      // take them, the rest keep themselves — even customers hop to
      // their successor, odd ones (NULL succ → no edge) stay put; the
      // landed bag feeds groupCount. Oracle = one LEFT JOIN + COALESCE.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT *, CASE WHEN c_custkey % 2 = 1 THEN NULL WHEN c_custkey % 7 = 0 THEN c_custkey WHEN c_custkey % 3 = 0 THEN c_custkey - 2 ELSE c_custkey + 1 END AS succ FROM __input"}},
          {"vertex": {"class": "customer", "idField": "c_custkey"}},
          {"edge": {"joinFieldName": "succ", "lookup": "customer.c_custkey",
                    "class": "next", "direction": "out"}},
          {"command": {"command":
            "g.V().optional(out('next')).groupCount()"}}],
        "loader": {"memory": {}} }""")
        .select(col("id"), col("count"))
        .orderBy("id")
    },
    "graph_triangle" -> { (s, dir) =>
      val c = ctx(s, dir)
      // three-term directed-triangle motif — stresses multi-term join
      // planning (two shuffle self-joins + the closing equi-join). The
      // graph is a successor permutation over customers with planted
      // 3-cycles {3k+1 → 3k+2 → 3k+3 → 3k+1}; `where` keeps one
      // canonical rotation per cycle (x strictly smallest)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT *, CASE WHEN c_custkey % 3 = 0 THEN c_custkey - 2 ELSE c_custkey + 1 END AS succ FROM __input"}},
          {"vertex": {"class": "customer", "idField": "c_custkey"}},
          {"edge": {"joinFieldName": "succ", "lookup": "customer.c_custkey",
                    "class": "next", "direction": "out"}},
          {"motif": {"pattern": "(x)-[]->(y); (y)-[]->(z); (z)-[]->(x)",
                     "where": "x < y AND x < z"}}],
        "loader": {"memory": {}} }""")
        .select("x", "y", "z").orderBy("x", "y", "z")
    },
    "graph_cc" -> { (s, dir) =>
      val c = ctx(s, dir)
      // connected components over a two-level star forest: customers →
      // their nation, nations → their region (ids prefixed c/n/r so the
      // three key spaces can't collide) — 5 components (one per
      // region), component id = lexicographic min vertex id. Two
      // pipelines accumulate edges into the same context (the
      // vertex/edge contract is cross-run), then the CC stage labels
      // every vertex by pointer jumping
      Engine.runJson(c, s"""{
        "begin": [{"console": {"commands": [
          "CREATE OR REPLACE TEMPORARY VIEW nation_p AS SELECT 'n' || CAST(n_nationkey AS STRING) AS nk FROM nation",
          "CREATE OR REPLACE TEMPORARY VIEW region_p AS SELECT 'r' || CAST(r_regionkey AS STRING) AS rk FROM region"]}}],
        "source": {"file": {"path": "$dir/nation.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT 'n' || CAST(n_nationkey AS STRING) AS nid, 'r' || CAST(n_regionkey AS STRING) AS rid FROM __input"}},
          {"vertex": {"class": "nation", "idField": "nid"}},
          {"edge": {"joinFieldName": "rid", "lookup": "region_p.rk",
                    "class": "in_region", "direction": "out"}}],
        "loader": {"memory": {}} }""")
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT 'c' || CAST(c_custkey AS STRING) AS cid, 'n' || CAST(c_nationkey AS STRING) AS nid FROM __input"}},
          {"vertex": {"class": "cust", "idField": "cid"}},
          {"edge": {"joinFieldName": "nid", "lookup": "nation_p.nk",
                    "class": "in_nation", "direction": "out"}},
          {"connectedcomponents": {}}],
        "loader": {"memory": {}} }""")
        .orderBy("id")
    },
    "graph_labelprop" -> { (s, dir) =>
      val c = ctx(s, dir)
      // deterministic synchronous label propagation (min-tie-break LPA)
      // over the same customer–nation–region graph as graph_cc: 3
      // iterations, every vertex relabeled by its neighbors' most
      // frequent label (ties → lexicographic min). Plain LPA is
      // run-order dependent; the min-tie-break variant is exactly
      // reproducible by an unrolled SQL oracle
      Engine.runJson(c, s"""{
        "begin": [{"console": {"commands": [
          "CREATE OR REPLACE TEMPORARY VIEW nation_p AS SELECT 'n' || CAST(n_nationkey AS STRING) AS nk FROM nation",
          "CREATE OR REPLACE TEMPORARY VIEW region_p AS SELECT 'r' || CAST(r_regionkey AS STRING) AS rk FROM region"]}}],
        "source": {"file": {"path": "$dir/nation.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT 'n' || CAST(n_nationkey AS STRING) AS nid, 'r' || CAST(n_regionkey AS STRING) AS rid FROM __input"}},
          {"vertex": {"class": "nation", "idField": "nid"}},
          {"edge": {"joinFieldName": "rid", "lookup": "region_p.rk",
                    "class": "in_region", "direction": "out"}}],
        "loader": {"memory": {}} }""")
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT 'c' || CAST(c_custkey AS STRING) AS cid, 'n' || CAST(c_nationkey AS STRING) AS nid FROM __input"}},
          {"vertex": {"class": "cust", "idField": "cid"}},
          {"edge": {"joinFieldName": "nid", "lookup": "nation_p.nk",
                    "class": "in_nation", "direction": "out"}},
          {"labelprop": {"iterations": 3}}],
        "loader": {"memory": {}} }""")
        .orderBy("id")
    },
    "graph_kcore" -> { (s, dir) =>
      val c = ctx(s, dir)
      // k=2 core over a PLANTED mixed graph (fixed key ranges, so the
      // structure is identical at every sf): 4-cliques on keys
      // [0,200) (keys start at 0 in this fixture) survive, degree-1 pairs on [200,500) drop in one
      // round, a path on [500,514] peels one layer PER ROUND (the
      // iterative fixed point this query exists to exercise), a cycle
      // on [1000,1040] survives at degree 2. The oracle is pure key
      // arithmetic over the survivor set.
      Engine.runJson(c, s"""{
        "begin": [{"console": {"commands": [
          "CREATE OR REPLACE TEMPORARY VIEW kc_ids AS SELECT 'v' || CAST(c_custkey AS STRING) AS vid FROM customer"]}}],
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT 'v' || CAST(a AS STRING) AS src_id, 'v' || CAST(b AS STRING) AS dst_id FROM (SELECT x.c_custkey AS a, y.c_custkey AS b FROM __input x JOIN __input y ON x.c_custkey < 200 AND y.c_custkey < 200 AND x.c_custkey div 4 = y.c_custkey div 4 AND x.c_custkey < y.c_custkey UNION ALL SELECT c_custkey, c_custkey + 1 FROM __input WHERE c_custkey >= 200 AND c_custkey < 500 AND c_custkey % 2 = 0 UNION ALL SELECT c_custkey, c_custkey + 1 FROM __input WHERE c_custkey >= 500 AND c_custkey < 514 UNION ALL SELECT c_custkey, c_custkey + 1 FROM __input WHERE c_custkey >= 1000 AND c_custkey < 1040 UNION ALL SELECT 1000, 1040 FROM __input WHERE c_custkey = 1000)"}},
          {"vertex": {"class": "kc", "idField": "src_id"}},
          {"edge": {"joinFieldName": "dst_id", "lookup": "kc_ids.vid",
                    "class": "kc_edge", "direction": "out"}},
          {"kcore": {"k": 2}}],
        "loader": {"memory": {}} }""")
        .select(col("id"), col("degree"))
        .orderBy("id")
    },
    "graph_coreness" -> { (s, dir) =>
      val c = ctx(s, dir)
      // full core decomposition over the same planted graph as
      // graph_kcore (level-order peel: removed at level kk → coreness
      // kk-1): cliques 3, pairs and the path 1, the cycle 2 — all pure
      // key arithmetic for the oracle
      Engine.runJson(c, s"""{
        "begin": [{"console": {"commands": [
          "CREATE OR REPLACE TEMPORARY VIEW kc2_ids AS SELECT 'v' || CAST(c_custkey AS STRING) AS vid FROM customer"]}}],
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT 'v' || CAST(a AS STRING) AS src_id, 'v' || CAST(b AS STRING) AS dst_id FROM (SELECT x.c_custkey AS a, y.c_custkey AS b FROM __input x JOIN __input y ON x.c_custkey < 200 AND y.c_custkey < 200 AND x.c_custkey div 4 = y.c_custkey div 4 AND x.c_custkey < y.c_custkey UNION ALL SELECT c_custkey, c_custkey + 1 FROM __input WHERE c_custkey >= 200 AND c_custkey < 500 AND c_custkey % 2 = 0 UNION ALL SELECT c_custkey, c_custkey + 1 FROM __input WHERE c_custkey >= 500 AND c_custkey < 514 UNION ALL SELECT c_custkey, c_custkey + 1 FROM __input WHERE c_custkey >= 1000 AND c_custkey < 1040 UNION ALL SELECT 1000, 1040 FROM __input WHERE c_custkey = 1000)"}},
          {"vertex": {"class": "kc", "idField": "src_id"}},
          {"edge": {"joinFieldName": "dst_id", "lookup": "kc2_ids.vid",
                    "class": "kc_edge", "direction": "out"}},
          {"kcore": {"mode": "coreness"}}],
        "loader": {"memory": {}} }""")
        .select(col("id"), col("coreness"))
        .orderBy("id")
    },
    "graph_clustering" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-vertex triangles + local clustering coefficient over the
      // planted graph: clique members close all their wedges (coef 1.0
      // exactly — 2T/(d(d-1)) = 6/6 for 4-cliques), pairs/path/cycle
      // close none (coef 0.0); every value is key arithmetic
      Engine.runJson(c, s"""{
        "begin": [{"console": {"commands": [
          "CREATE OR REPLACE TEMPORARY VIEW kc3_ids AS SELECT 'v' || CAST(c_custkey AS STRING) AS vid FROM customer"]}}],
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT 'v' || CAST(a AS STRING) AS src_id, 'v' || CAST(b AS STRING) AS dst_id FROM (SELECT x.c_custkey AS a, y.c_custkey AS b FROM __input x JOIN __input y ON x.c_custkey < 200 AND y.c_custkey < 200 AND x.c_custkey div 4 = y.c_custkey div 4 AND x.c_custkey < y.c_custkey UNION ALL SELECT c_custkey, c_custkey + 1 FROM __input WHERE c_custkey >= 200 AND c_custkey < 500 AND c_custkey % 2 = 0 UNION ALL SELECT c_custkey, c_custkey + 1 FROM __input WHERE c_custkey >= 500 AND c_custkey < 514 UNION ALL SELECT c_custkey, c_custkey + 1 FROM __input WHERE c_custkey >= 1000 AND c_custkey < 1040 UNION ALL SELECT 1000, 1040 FROM __input WHERE c_custkey = 1000)"}},
          {"vertex": {"class": "kc", "idField": "src_id"}},
          {"edge": {"joinFieldName": "dst_id", "lookup": "kc3_ids.vid",
                    "class": "kc_edge", "direction": "out"}},
          {"clusteringcoef": {}}],
        "loader": {"memory": {}} }""")
        .select(col("id"), col("degree"), col("triangles"), col("clustering_coef"))
        .orderBy("id")
    },
    "graph_scc" -> { (s, dir) =>
      val c = ctx(s, dir)
      // strongly connected components over a PLANTED directed graph
      // (fixed key range, identical at every sf): directed 4-cycles on
      // keys [0,160) in groups of 4 — each complete group is one SCC —
      // plus ONE-WAY "report" edges from every group minimum to the
      // global minimum, which must NOT merge components (undirected CC
      // would collapse the whole graph). Ids zero-padded so
      // lexicographic == numeric; the oracle is pure key arithmetic
      // (complete group → scc = group min; partial boundary group is a
      // path → singletons)
      Engine.runJson(c, s"""{
        "begin": [{"console": {"commands": [
          "CREATE OR REPLACE TEMPORARY VIEW scc_ids AS SELECT 'v' || lpad(CAST(c_custkey AS STRING), 6, '0') AS vid FROM customer WHERE c_custkey < 160"]}}],
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "WITH v AS (SELECT c_custkey AS k FROM __input WHERE c_custkey < 160), mn AS (SELECT min(k) AS mk FROM v GROUP BY k div 4), m0 AS (SELECT min(k) AS k0 FROM v) SELECT 'v' || lpad(CAST(a.k AS STRING), 6, '0') AS src_id, 'v' || lpad(CAST(b.k AS STRING), 6, '0') AS dst_id FROM v a JOIN v b ON b.k = (a.k div 4) * 4 + ((a.k % 4) + 1) % 4 UNION ALL SELECT 'v' || lpad(CAST(mn.mk AS STRING), 6, '0'), 'v' || lpad(CAST(m0.k0 AS STRING), 6, '0') FROM mn, m0 WHERE mn.mk <> m0.k0"}},
          {"vertex": {"class": "sv", "idField": "src_id"}},
          {"edge": {"joinFieldName": "dst_id", "lookup": "scc_ids.vid",
                    "class": "e", "direction": "out"}},
          {"scc": {}}],
        "loader": {"memory": {}} }""")
        .select(col("id"), col("scc_id"))
        .orderBy("id")
    },
    "class_balance" -> { (s, dir) =>
      val c = ctx(s, dir)
      // deterministic class-balancing undersample of a planted 15:1
      // skew: the md5 bucket rule and the integer threshold arithmetic
      // replicate verbatim in the oracle — row-identical, not just
      // count-identical
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, CASE WHEN event_id % 4 < 3 THEN 'common' ELSE event_type END AS cls FROM events"}},
          {"classbalance": {"classField": "cls", "keyField": "event_id"}}],
        "loader": {"memory": {}} }""")
        .select("event_id", "cls")
        .orderBy("event_id")
    },
    "graph_metrics" -> { (s, dir) =>
      val c = ctx(s, dir)
      // one-row structural profile over a planted graph (a +1 chain
      // plus block-head pointers incl. self-loops at the heads): the
      // oracle rebuilds the same edges and aggregates — exact counts,
      // two IEEE divisions
      Engine.runJson(c, s"""{
        "begin": [{"console": {"commands": [
          "CREATE OR REPLACE TEMPORARY VIEW gm_ids AS SELECT CAST(c_custkey AS STRING) AS vid FROM customer WHERE c_custkey < 40"]}}],
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "WITH v AS (SELECT c_custkey AS k FROM __input WHERE c_custkey < 40), heads AS (SELECT k FROM v WHERE k % 8 = 0) SELECT CAST(a.k AS STRING) AS src_id, CAST(b.k AS STRING) AS dst_id FROM v a JOIN v b ON b.k = a.k + 1 UNION ALL SELECT CAST(v.k AS STRING), CAST(h.k AS STRING) FROM v JOIN heads h ON h.k = (v.k div 8) * 8"}},
          {"vertex": {"class": "gm", "idField": "src_id"}},
          {"edge": {"joinFieldName": "dst_id", "lookup": "gm_ids.vid",
                    "class": "e", "direction": "out"}},
          {"graphmetrics": {}}],
        "loader": {"memory": {}} }""")
        .select("n_vertices", "n_edges", "max_out_degree", "max_in_degree",
          "avg_degree", "density")
    },
    "graph_assort" -> { (s, dir) =>
      val c = ctx(s, dir)
      // directed degree assortativity over the same planted graph as
      // graph_metrics: exact decimal co-moments over (out-deg(src),
      // in-deg(dst)) edge pairs, the correlate finishing tree
      Engine.runJson(c, s"""{
        "begin": [{"console": {"commands": [
          "CREATE OR REPLACE TEMPORARY VIEW ga_ids AS SELECT CAST(c_custkey AS STRING) AS vid FROM customer WHERE c_custkey < 40"]}}],
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "WITH v AS (SELECT c_custkey AS k FROM __input WHERE c_custkey < 40), heads AS (SELECT k FROM v WHERE k % 8 = 0) SELECT CAST(a.k AS STRING) AS src_id, CAST(b.k AS STRING) AS dst_id FROM v a JOIN v b ON b.k = a.k + 1 UNION ALL SELECT CAST(v.k AS STRING), CAST(h.k AS STRING) FROM v JOIN heads h ON h.k = (v.k div 8) * 8"}},
          {"vertex": {"class": "ga", "idField": "src_id"}},
          {"edge": {"joinFieldName": "dst_id", "lookup": "ga_ids.vid",
                    "class": "e", "direction": "out"}},
          {"graphmetrics": {"assortativity": true}}],
        "loader": {"memory": {}} }""")
        .select("n_vertices", "n_edges", "assortativity")
    },
    "topo_sort" -> { (s, dir) =>
      val c = ctx(s, dir)
      // DAG longest-path layering over two PLANTED components (fixed
      // key ranges, identical at every sf): keys < 13 chained by +1
      // and +3 edges (layer = k − min), keys [100,124) chained by +2
      // (two parity chains, layer = (k−100) div 2) — the oracle is
      // pure key arithmetic
      Engine.runJson(c, s"""{
        "begin": [{"console": {"commands": [
          "CREATE OR REPLACE TEMPORARY VIEW topo_ids AS SELECT 'v' || lpad(CAST(c_custkey AS STRING), 6, '0') AS vid FROM customer WHERE c_custkey < 13 OR (c_custkey >= 100 AND c_custkey < 124)"]}}],
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "WITH v AS (SELECT c_custkey AS k FROM __input WHERE c_custkey < 13), v2 AS (SELECT c_custkey AS k FROM __input WHERE c_custkey >= 100 AND c_custkey < 124) SELECT 'v' || lpad(CAST(a.k AS STRING), 6, '0') AS src_id, 'v' || lpad(CAST(b.k AS STRING), 6, '0') AS dst_id FROM v a JOIN v b ON b.k = a.k + 1 UNION ALL SELECT 'v' || lpad(CAST(a.k AS STRING), 6, '0'), 'v' || lpad(CAST(b.k AS STRING), 6, '0') FROM v a JOIN v b ON b.k = a.k + 3 UNION ALL SELECT 'v' || lpad(CAST(a.k AS STRING), 6, '0'), 'v' || lpad(CAST(b.k AS STRING), 6, '0') FROM v2 a JOIN v2 b ON b.k = a.k + 2"}},
          {"vertex": {"class": "tv", "idField": "src_id"}},
          {"edge": {"joinFieldName": "dst_id", "lookup": "topo_ids.vid",
                    "class": "e", "direction": "out"}},
          {"toposort": {"maxIter": 20}}],
        "loader": {"memory": {}} }""")
        .select(col("id"), col("layer"))
        .orderBy("id")
    },
    "graph_bfs" -> { (s, dir) =>
      val c = ctx(s, dir)
      // bounded-hop BFS distances from customer c1 over the same
      // customer–nation–region graph, undirected: hop 1 = c1's nation,
      // hop 2 = that nation's customers + its region, hop 3 = the
      // region's other nations
      Engine.runJson(c, s"""{
        "begin": [{"console": {"commands": [
          "CREATE OR REPLACE TEMPORARY VIEW nation_p AS SELECT 'n' || CAST(n_nationkey AS STRING) AS nk FROM nation",
          "CREATE OR REPLACE TEMPORARY VIEW region_p AS SELECT 'r' || CAST(r_regionkey AS STRING) AS rk FROM region"]}}],
        "source": {"file": {"path": "$dir/nation.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT 'n' || CAST(n_nationkey AS STRING) AS nid, 'r' || CAST(n_regionkey AS STRING) AS rid FROM __input"}},
          {"vertex": {"class": "nation", "idField": "nid"}},
          {"edge": {"joinFieldName": "rid", "lookup": "region_p.rk",
                    "class": "in_region", "direction": "out"}}],
        "loader": {"memory": {}} }""")
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT 'c' || CAST(c_custkey AS STRING) AS cid, 'n' || CAST(c_nationkey AS STRING) AS nid FROM __input"}},
          {"vertex": {"class": "cust", "idField": "cid"}},
          {"edge": {"joinFieldName": "nid", "lookup": "nation_p.nk",
                    "class": "in_nation", "direction": "out"}},
          {"bfs": {"source": "c1", "maxHops": 3, "direction": "both"}}],
        "loader": {"memory": {}} }""")
        .orderBy("id")
    },
    "orc_roundtrip" -> { (s, dir) =>
      val c = ctx(s, dir)
      // columnar-format breadth: part → ORC via the orc loader, read
      // back via the orc extractor
      val out = scratch("orc", dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/part.parquet"}},
        "extractor": {"parquet": {}},
        "loader": {"orc": {"path": "$out"}} }""")
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$out"}},
        "extractor": {"orc": {}},
        "loader": {"memory": {"name": "part_orc"}} }""")
        .select("p_partkey", "p_name", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    },
    "upsert_write" -> { (s, dir) =>
      val c = ctx(s, dir)
      // loader-level MERGE: base customer table, then a delta batch
      // (custkey%10==0 rows with +100 acctbal) upserted into the files;
      // the read-back must equal the merge transformer's oracle
      val out = scratch("upsert", dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "loader": {"parquet": {"path": "$out", "mode": "upsert",
                               "key": "c_custkey"}} }""")
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"command": {"command":
          "SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100 AS c_acctbal, c_mktsegment FROM input WHERE c_custkey % 10 = 0"}}],
        "loader": {"parquet": {"path": "$out", "mode": "upsert",
                               "key": "c_custkey"}} }""")
      s.read.parquet(out)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey")
    },
    "upsert_bucketed" -> { (s, dir) =>
      val c = ctx(s, dir)
      // partition-pruned MERGE: the hash-bucketed layout rewrites only
      // the buckets the delta touches (delta = custkey%10==0 rows with
      // +100 acctbal); read-back must equal the whole-table upsert
      val out = scratch("upsert_bkt", dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "loader": {"parquet": {"path": "$out", "mode": "upsert",
                               "key": "c_custkey", "buckets": 16}} }""")
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"command": {"command":
          "SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100 AS c_acctbal, c_mktsegment FROM input WHERE c_custkey % 10 = 0"}}],
        "loader": {"parquet": {"path": "$out", "mode": "upsert",
                               "key": "c_custkey", "buckets": 16}} }""")
      s.read.parquet(out)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey")
    },
    "compact_files" -> { (s, dir) =>
      val c = ctx(s, dir)
      // small-file maintenance: a fragmented partitioned write (24-way
      // repartition scatters every nation's rows across tasks), then
      // compact rewrites each partition dir to ONE file behind the
      // upsert-style atomic swap — rows must survive byte-identically
      val out = scratch("compact", dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/supplier.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"command": {"command":
          "SELECT /*+ REPARTITION(24) */ * FROM input"}}],
        "loader": {"parquet": {"path": "$out", "mode": "overwrite",
                               "partitionBy": ["s_nationkey"]}} }""")
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "loader": {"parquet": {"path": "$out", "mode": "compact"}} }""")
      s.read.parquet(out)
        .select(col("s_suppkey"), col("s_name"),
          col("s_nationkey").cast("int").as("s_nationkey"), col("s_acctbal"))
        .orderBy("s_suppkey")
    },
    "group_quantiles" -> { (s, dir) =>
      val c = ctx(s, dir)
      // exact type-7 per-group quantiles on integer cents — the same
      // interpolation definition DuckDB's quantile_cont uses, so values
      // hash-match bit-exactly. exact mode buffers each group's values
      // (5 bounded groups here); the unbounded-cardinality path is
      // mode=approx (GK sketch, bounded map-side memory)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders"}},
          {"quantiles": {"field": "cents", "keyField": "o_orderpriority",
            "probs": [0.25, 0.5, 0.9], "mode": "exact"}}],
        "loader": {"memory": {}} }""")
        .select("o_orderpriority", "p25", "p50", "p90")
        .orderBy("o_orderpriority")
    },
    "winsorize_clip" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-group quantile clipping on exact integer cents: bounds are
      // the same type-7 percentiles the quantiles query proved
      // bit-identical, the clamp is two IEEE comparisons — hash-exact
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT o_orderkey, o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders"}},
          {"winsorize": {"field": "cents", "keyField": "o_orderpriority",
            "lower": 0.1, "upper": 0.9, "flagField": "clipped"}}],
        "loader": {"memory": {}} }""")
        .select("o_orderkey", "o_orderpriority", "cents_w", "clipped")
        .orderBy("o_orderkey")
    },
    "zscore_outliers" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-group standardization from ONE hash aggregation joined back
      // on the group key (never a window over all rows). Sums accumulate
      // as decimal(38,0) on the integer cents, so z is bit-identical to
      // the oracle's HUGEINT-sum arithmetic (same final double ops)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT o_orderkey, o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders"}},
          {"zscore": {"field": "cents", "keyField": "o_orderpriority",
            "threshold": "2.5"}}],
        "loader": {"memory": {}} }""")
        .select("o_orderkey", "o_orderpriority", "cents", "cents_z", "cents_z_outlier")
        .orderBy("o_orderkey")
    },
    "fuzzy_join" -> { (s, dir) =>
      val c = ctx(s, dir)
      // edit-distance record linkage WITHOUT a cross join: for each
      // probe customer (every 97th key), the best fuzzy name match
      // within 2 edits. Candidates come from the provably-complete
      // rare-q-gram prefix filter (see FuzzyJoinStage) — the shared
      // "Customer#…" prefix contributes nothing because its grams are
      // never among a probe's rarest — then exact Levenshtein verify.
      // The oracle brute-forces probes x all names, so a single missed
      // candidate (an incomplete filter) would hash-mismatch
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"fuzzyjoin": {"field": "c_name",
          "idField": "c_custkey", "maxDistance": 2,
          "probeIf": "c_custkey % 97 = 0"}}],
        "loader": {"memory": {}} }""")
        .select("probe_id", "probe_val", "match_id", "match_val", "dist")
        .orderBy("probe_id")
    },
    "scd2_history" -> { (s, dir) =>
      val c = ctx(s, dir)
      // SCD Type-2 versioned history through the BUCKETED upsert loader
      // (all versions of a key colocate in its hash bucket, so history
      // writes stay delta-pruned): v1 full load, v2 delta (custkey%10==0
      // changes acctbal, %10==1 re-sends unchanged values → no-op), v3
      // delta (%20==0 changes segment). Final table carries every value
      // each key ever held with (valid_from, valid_to, is_current)
      val out = scratch("scd2", dir)
      def batch(selectSql: String, version: Int): Unit = {
        Engine.runJson(c, s"""{
          "source": {"file": {"path": "$dir/customer.parquet"}},
          "extractor": {"parquet": {}},
          "transformers": [{"command": {"command": "$selectSql"}}],
          "loader": {"parquet": {"path": "$out", "mode": "upsert",
            "key": "c_custkey", "buckets": 8,
            "scd2": {"version": $version}}} }""")
        ()
      }
      batch("SELECT c_custkey, c_mktsegment, c_acctbal FROM input", 1)
      batch("SELECT c_custkey, c_mktsegment, c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 100 ELSE 0 END AS c_acctbal FROM input WHERE c_custkey % 10 <= 1", 2)
      batch("SELECT c_custkey, 'MOVED' AS c_mktsegment, c_acctbal + 100 AS c_acctbal FROM input WHERE c_custkey % 20 = 0", 3)
      s.read.parquet(out)
        .select("c_custkey", "c_mktsegment", "c_acctbal",
          "valid_from", "valid_to", "is_current")
        .orderBy("c_custkey", "valid_from")
    },
    "pagerank" -> { (s, dir) =>
      val c = ctx(s, dir)
      // iterative distributed PageRank (5 rounds, d=0.85) over the
      // orders→customer graph; ranks quantized to ppm with a guard
      // band on both sides (see the oracle comment: plain round() puts
      // exact-decimal ranks on the .5 knife edge, decided by
      // engine-specific sum order)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "out"}},
          {"pagerank": {"iterations": 5, "damping": "0.85"}}],
        "loader": {"memory": {}} }""")
        .select(col("id"),
          floor(col("rank") * lit(1e6) + lit(0.499999)).cast("bigint").as("rank_ppm"))
        .orderBy("id")
    },
    "shortest_paths" -> { (s, dir) =>
      val c = ctx(s, dir)
      // weighted shortest paths over a 2-out-degree lattice: +1 steps
      // cost 2, +3 steps cost 5 — reaching delta 3 is cheaper via one
      // +3 edge (5) than three +1 edges (6), so the min genuinely
      // chooses between path shapes. Integer weights keep distances an
      // exact IEEE dag; oracle = depth-bounded recursive CTE min
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT *, c_custkey + 1 AS nxt1, CAST(2.0 AS DOUBLE) AS w1, c_custkey + 3 AS nxt3, CAST(5.0 AS DOUBLE) AS w3 FROM __input"}},
          {"vertex": {"class": "customer", "idField": "c_custkey"}},
          {"edge": {"joinFieldName": "nxt1", "lookup": "customer.c_custkey",
                    "class": "step1", "direction": "out", "weightField": "w1"}},
          {"edge": {"joinFieldName": "nxt3", "lookup": "customer.c_custkey",
                    "class": "step3", "direction": "out", "weightField": "w3"}},
          {"shortestpaths": {"source": "7,500", "maxHops": 6}}],
        "loader": {"memory": {}} }""")
        .select(col("id"), round(col("dist")).cast("long").as("dist"))
        .orderBy("id")
    },
    "pagerank_weighted" -> { (s, dir) =>
      val c = ctx(s, dir)
      // WEIGHTED PageRank: customer→order edges weighted by the
      // rounded order price — a customer's rank splits proportionally
      // to order value. Integer weights keep the per-source weight sums
      // exact; every order has exactly one in-edge, so no float-sum
      // order sensitivity anywhere (the ppm guard band still applies)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT *, CAST(round(o_totalprice) AS DOUBLE) AS w FROM __input"}},
          {"vertex": {"class": "order", "idField": "o_orderkey"}},
          {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                    "class": "placed", "direction": "in", "weightField": "w"}},
          {"pagerank": {"iterations": 5, "damping": "0.85", "weighted": true}}],
        "loader": {"memory": {}} }""")
        .select(col("id"),
          floor(col("rank") * lit(1e6) + lit(0.499999)).cast("bigint").as("rank_ppm"))
        .orderBy("id")
    },
    "pagerank_personalized" -> { (s, dir) =>
      val c = ctx(s, dir)
      // PERSONALIZED PageRank (seeded teleport — the crawl-frontier /
      // seed-expansion primitive) over the customer +1/+3 lattice
      // (shortest_paths' graph: every custkey is a vertex at any SF, so
      // the seeds '7','11' always exist and the loud seed check holds).
      // Each vertex has at most TWO in-edges, so every per-dst
      // contribution sum is a single commutative IEEE add — no
      // summation-order noise anywhere (the ppm guard band still applies)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT *, c_custkey + 1 AS nxt1, c_custkey + 3 AS nxt3 FROM __input"}},
          {"vertex": {"class": "customer", "idField": "c_custkey"}},
          {"edge": {"joinFieldName": "nxt1", "lookup": "customer.c_custkey",
                    "class": "step1", "direction": "out"}},
          {"edge": {"joinFieldName": "nxt3", "lookup": "customer.c_custkey",
                    "class": "step3", "direction": "out"}},
          {"pagerank": {"iterations": 5, "damping": "0.85",
                        "sourceIds": "7,11"}}],
        "loader": {"memory": {}} }""")
        .select(col("id"),
          floor(col("rank") * lit(1e6) + lit(0.499999)).cast("bigint").as("rank_ppm"))
        .orderBy("id")
    },
    "partitioned_write" -> { (s, dir) =>
      val c = ctx(s, dir)
      // hive-style partitioned layout (the cluster-by analogue of the
      // reference's named clusters, OOrientDBLoader.java:153-177):
      // write supplier partitioned by nation, read one partition back —
      // partition pruning asserted in PlanSpec
      val out = scratch("part", dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/supplier.parquet"}},
        "extractor": {"parquet": {}},
        "loader": {"parquet": {"path": "$out", "mode": "overwrite",
                               "partitionBy": ["s_nationkey"]}} }""")
      s.read.parquet(out).where(col("s_nationkey") === 3)
        .select(col("s_suppkey"), col("s_name"),
          col("s_nationkey").cast("int").as("s_nationkey"), col("s_acctbal"))
        .orderBy("s_suppkey")
    },
    "etl_list" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"etl": {"childTable": "orders",
          "joinFieldName": "c_custkey", "childJoinFieldName": "o_custkey",
          "fieldName": "order_keys", "fieldType": "EMBEDDEDLIST",
          "valueFieldName": "o_orderkey"}}],
        "loader": {"memory": {}} }""")
        .where(col("order_keys").isNotNull)
        // EMBEDDEDLIST serialized sorted for the oracle compare (list
        // cells break the driver's pandas sort; collect order is
        // nondeterministic anyway)
        .select(col("c_custkey"),
          array_join(transform(array_sort(col("order_keys")), _.cast("string")), ",")
            .as("order_keys"))
        .orderBy("c_custkey")
    },
    "etl_map" -> { (s, dir) =>
      val c = ctx(s, dir)
      // EMBEDDEDMAP form — entries serialized sorted as `key:cents` so
      // the native map content is oracle-checkable (map cells break the
      // driver's pandas sort; double→string formatting differs across
      // engines, so values go through round(*100)→BIGINT cents — the
      // explicit round matters: Spark's double→bigint cast truncates
      // where DuckDB's rounds)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"etl": {"childTable": "orders",
          "joinFieldName": "c_custkey", "childJoinFieldName": "o_custkey",
          "fieldName": "order_prices", "fieldType": "EMBEDDEDMAP",
          "keyFieldName": "o_orderkey", "valueFieldName": "o_totalprice"}}],
        "loader": {"memory": {}} }""")
        .where(col("order_prices").isNotNull)
        .select(col("c_custkey"),
          array_join(array_sort(transform(map_entries(col("order_prices")),
            e => concat(e("key").cast("string"), lit(":"),
              round(e("value") * 100).cast("bigint").cast("string")))), ",")
            .as("entries"))
        .orderBy("c_custkey")
    },
    "topk_per_group" -> { (s, dir) =>
      val c = ctx(s, dir)
      // top-3 orders by totalprice per customer — the generic "top N
      // per key" on the bounded-heap aggregate (map-side partial top-k)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"topkpergroup": {"groupBy": ["o_custkey"],
          "scoreField": "o_totalprice", "idField": "o_orderkey", "k": 3}}],
        "loader": {"memory": {}} }""")
        .orderBy("o_custkey", "rank")
    },
    "histogram" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/lineitem.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"histogram": {"field": "l_quantity",
          "min": "0", "max": "50", "buckets": 10}}],
        "loader": {"memory": {}} }""")
        .select("bucket", "lo", "hi", "cnt").orderBy("bucket")
    },
    "command_agg" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"command": {"command":
          "SELECT c_mktsegment, count(*) AS cnt FROM input GROUP BY c_mktsegment"}}],
        "loader": {"memory": {}} }""").orderBy("c_mktsegment")
    },
    "code_sql" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"code": {"language": "sql", "code":
          "SELECT o_orderkey, o_totalprice * 0.9 AS discounted FROM __input"}}],
        "loader": {"memory": {}} }""").orderBy("o_orderkey")
    },
    "let_field" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "begin": [{"let": {"name": "bonus", "value": 100}}],
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"field": {"fieldName": "with_bonus",
          "expression": "c_acctbal + $$bonus"}}],
        "loader": {"memory": {}} }""")
        .select("c_custkey", "with_bonus").orderBy("c_custkey")
    },
    "console_block" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "begin": [{"console": {"commands":
          ["CREATE OR REPLACE TEMPORARY VIEW rich_cust AS SELECT * FROM customer WHERE c_acctbal > 5000"]}}],
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"command": {"command":
          "SELECT count(*) AS n_rich FROM rich_cust"}}],
        "loader": {"memory": {}} }""")
    },
    "block_let" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"block": {"let": {"name": "seg", "value": "BUILDING"}}},
          {"field": {"fieldName": "is_seg", "expression": "c_mktsegment = $$seg"}}],
        "loader": {"memory": {}} }""")
        .select("c_custkey", "is_seg").orderBy("c_custkey")
    },
    "code_hook" -> { (s, dir) =>
      val c = ctx(s, dir)
      // `code` with a registered Scala hook (ref form — the JVM-lambda
      // analogue of OCodeTransformer; JS-as-config is out of parity scope)
      Engine.registerCode("discount_hook")(df =>
        df.withColumn("dbl_price", col("o_totalprice") * 2))
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"code": {"ref": "discount_hook"}}],
        "loader": {"memory": {}} }""")
        .select("o_orderkey", "dbl_price").orderBy("o_orderkey")
    },
    "log_identity" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"log": {"prefix": "regions"}}],
        "loader": {"memory": {}} }""").orderBy("r_regionkey")
    },
    "code_expr" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/nation.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"code": {"fieldName": "n_name_len",
                                   "expression": "n_name.length()"}}],
        "loader": {"memory": {}} }""")
        .select(col("n_nationkey"), col("n_name_len").cast("long").as("n_name_len"))
        .orderBy("n_nationkey")
    },
    "code_js" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the round-11 JS surface in one script: bounded while, chained
      // ternary, Math.*, and a JS string-method chain (padStart keeps
      // JS no-truncate semantics — AUTOMOBILE is already 10 wide)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"code": {"language": "javascript", "code":
          "var total = 0; var i = 1; while (i <= 3) { total = total + record.c_custkey * i; i++; } record.wsum = total; record.band = record.c_acctbal < 0 ? 'neg' : record.c_acctbal < 5000 ? 'mid' : 'high'; record.root = Math.floor(Math.sqrt(record.c_custkey)); record.tag = record.c_mktsegment.toLowerCase().padStart(10, '.');"}}],
        "loader": {"memory": {}} }""")
        .select(col("c_custkey"), col("wsum").cast("long").as("wsum"),
          col("band"), col("root").cast("long").as("root"), col("tag"))
        .orderBy("c_custkey")
    },
    "code_js_switch" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the r18 surface in one script: a template literal interpolating
      // a field, and a switch with multi-statement cases + default
      // expanding to guarded assignments
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/nation.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"code": {"language": "javascript", "code":
          "record.msg = `nation $${record.n_name} in r$${record.n_regionkey}`; switch (record.n_regionkey) { case 0: record.zone = 'africa'; record.prio = 1; break; case 2: record.zone = 'asia'; record.prio = 2; break; default: record.zone = 'other'; }"}}],
        "loader": {"memory": {}} }""")
        .select(col("n_nationkey"), col("msg"), col("zone"),
          col("prio").cast("long").as("prio"))
        .orderBy("n_nationkey")
    },
    "code_js_regex" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the r19 surface in one script: regex literals in replace (g
      // flag) and match (truthiness + the i flag), and a for…of unroll
      // over a literal array with bracket folding
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/nation.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"code": {"language": "javascript", "code":
          "record.base = record.n_name.replace(/_\\\\d+$$/g, ''); record.has1 = record.n_name.match(/1/) ? 1 : 0; record.isn = record.n_name.match(/^nation/i) ? 1 : 0; for (var z of [0, 1]) { record['r' + z] = record.n_regionkey === z ? 1 : 0; }"}}],
        "loader": {"memory": {}} }""")
        .select(col("n_nationkey"), col("base"),
          col("has1").cast("long").as("has1"),
          col("isn").cast("long").as("isn"),
          col("r0").cast("long").as("r0"), col("r1").cast("long").as("r1"))
        .orderBy("n_nationkey")
    },
    "code_js_arrays" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the round-13 JS array + function surface in one script: an
      // array-literal local, `=>` arrow .map/.filter lambdas, .join
      // with JS null-keeping semantics, [idx] indexing, and a
      // guard-clause function (local + early returns → one expression)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/nation.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"code": {"language": "javascript", "code":
          "function tier(k) { var d = k * 3; if (d < 15) return 'small'; if (d < 45) { return 'medium'; } return 'large'; } var parts = [record.n_nationkey, record.n_regionkey, 7]; record.csv3 = parts.map(v => v * 2).join('-'); record.pick0 = [record.n_regionkey, 99][0]; record.tier = tier(record.n_nationkey); record.evens = [1, 2, 3, 4, 5, 6].filter(x => x % 2 === 0).join(',');"}}],
        "loader": {"memory": {}} }""")
        .select(col("n_nationkey"), col("csv3"),
          col("pick0").cast("int").as("pick0"), col("tier"), col("evens"))
        .orderBy("n_nationkey")
    },
    "http_csv" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // `http` source against an embedded localhost server — the payload
      // is fetched driver-side at plan-build time (OHttpSource parity),
      // so the server can stop as soon as the pipeline is built
      val body = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$fx/tables/nation.csv"))
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/nation.csv",
        (ex: com.sun.net.httpserver.HttpExchange) => {
          ex.sendResponseHeaders(200, body.length)
          ex.getResponseBody.write(body); ex.close()
        })
      server.start()
      try Engine.runJson(c, s"""{
        "source": {"http": {"url": "http://127.0.0.1:${server.getAddress.getPort}/nation.csv"}},
        "extractor": {"row": {}},
        "transformers": [{"csv": {"columns":
          ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"]}}],
        "loader": {"memory": {}} }""").orderBy("n_nationkey")
      finally server.stop(0)
    },
    "etl_params" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-record `parameters` (OETLTransformer.java:92-115): child runs
      // once per distinct r_regionkey, results embedded as EMBEDDEDLIST
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"etl": {
          "parameters": {"rk": "r_regionkey"},
          "pipeline": {
            "source": {"file": {"path": "$dir/nation.parquet"}},
            "extractor": {"parquet": {}},
            "transformers": [{"command": {"command":
              "SELECT n_nationkey FROM input WHERE n_regionkey = $$rk"}}]
          },
          "fieldName": "nation_keys", "fieldType": "EMBEDDEDLIST",
          "valueFieldName": "n_nationkey"}}],
        "loader": {"memory": {}} }""")
        .select(col("r_regionkey"),
          array_join(transform(array_sort(col("nation_keys")), _.cast("string")), ",")
            .as("nation_keys"))
        .orderBy("r_regionkey")
    },
    "output_loader" -> { (s, dir) =>
      val c = ctx(s, dir)
      // `output` loader (OOutputLoader.java:27-52): bounded console show
      // is the terminal action; the returned stream is what it printed
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "loader": {"output": {"limit": 5}} }""").orderBy("r_regionkey")
    },
    "orientdb_plocal" -> { (s, dir) =>
      val c = ctx(s, dir)
      // `orientdb` loader, plocal dbURL → parquet database directory with
      // declared-schema DDL checks (OOrientDBLoader.java:399-514 analogue);
      // round-trip read-back proves the writer executed
      val db = scratch("odb", dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/supplier.parquet"}},
        "extractor": {"parquet": {}},
        "loader": {"orientdb": {"dbURL": "plocal:$db", "class": "supplier",
          "columns": ["s_suppkey:long", "s_name:string",
                      "s_nationkey:integer", "s_acctbal:double"],
          "classes": [
            {"name": "party", "abstract": true,
             "fields": [{"name": "s_name", "type": "STRING"}]},
            {"name": "supplier", "extends": "party",
             "fields": [{"name": "s_name", "type": "STRING"},
                        {"name": "s_suppkey", "type": "LONG"}]}]}} }""")
      // the inheritance metadata must land in the schema sidecar —
      // schema_ok is a content check the oracle predicts as constant true
      val sidecar = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$db/_schema.json")), "UTF-8")
      val ok = sidecar.contains("\"name\": \"supplier\", \"extends\": \"party\"") &&
        sidecar.contains("\"name\": \"party\"") &&
        sidecar.contains("\"abstract\": true")
      s.read.parquet(s"$db/supplier")
        .withColumn("schema_ok", lit(ok)).orderBy("s_suppkey")
    },
    "pipeline_stats" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-run stats ARTIFACT (the reference's listener intent,
      // OImporterListener.java:27-41, as queryable data): a fixed
      // telemetry pipeline — flow-skip drops the high-price tail, a
      // WARNING-policy link counts unresolved customers — then the
      // context's one-row counter frame. Every count is recomputable
      // by the oracle from the tables; elapsed_ms excluded (wall time)
      val out = scratch("stats", dir)
      Engine.runJson(c, s"""{
        "config": {"telemetry": true},
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"flow": {"operation": "skip", "if": "o_totalprice > 150000"}},
          {"link": {"joinFieldName": "o_custkey",
            "lookup": "SELECT c_custkey FROM customer WHERE c_custkey <= 500",
            "linkFieldName": "cust_link",
            "unresolvedLinkAction": "WARNING"}}],
        "loader": {"parquet": {"path": "$out"}} }""")
      c.statsFrame()
        .select("rows_extracted", "rows_loaded", "warnings", "errors")
    },
    "block_code" -> { (s, dir) =>
      val c = ctx(s, dir)
      // begin-phase `code` block (OCodeBlock.java:33-67): a named driver
      // hook runs once before extraction
      Engine.registerCode("mk_top_nation") { df =>
        df.sparkSession.sql(
          "CREATE OR REPLACE TEMPORARY VIEW top_nation AS SELECT * FROM nation WHERE n_nationkey < 10")
        df
      }
      Engine.runJson(c, s"""{
        "begin": [{"code": {"ref": "mk_top_nation"}}],
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"command": {"command":
          "SELECT count(*) AS n_top FROM top_nation"}}],
        "loader": {"memory": {}} }""")
    },
    "etl_map_entries" -> { (s, dir) =>
      val c = ctx(s, dir)
      // EMBEDDEDMAP with a deterministic serialization (sorted key:value
      // entry strings) so the map content itself is oracle-checkable —
      // complements `etl_map`'s rows-only check on the native map type
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"etl": {"childTable": "orders",
          "joinFieldName": "c_custkey", "childJoinFieldName": "o_custkey",
          "fieldName": "order_status", "fieldType": "EMBEDDEDMAP",
          "keyFieldName": "o_orderkey", "valueFieldName": "o_orderstatus"}}],
        "loader": {"memory": {}} }""")
        .where(col("order_status").isNotNull)
        .select(col("c_custkey"),
          array_join(array_sort(transform(map_entries(col("order_status")),
            e => concat(e("key").cast("string"), lit(":"), e("value")))), ",")
            .as("entries"))
        .orderBy("c_custkey")
    },
    // --------------------------------------------- LLM-pipeline operators
    "dedup_exact" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"dedup": {"keyFields": ["n_chars"],
                                    "tiebreakField": "doc_id"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "text", "lang", "source", "n_chars").orderBy("doc_id")
    },
    "dedup_keep_last" -> { (s, dir) =>
      val c = ctx(s, dir)
      // newest-wins exact dedup (keep: last) — max tie-break per key
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"dedup": {"keyFields": ["n_chars"],
                                    "tiebreakField": "doc_id",
                                    "keep": "last"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "text", "lang", "source", "n_chars").orderBy("doc_id")
    },
    "dedup_content" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"dedup": {"keyExpr": "md5(text)",
                                    "tiebreakField": "doc_id"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "text", "lang", "source", "n_chars").orderBy("doc_id")
    },
    "textstats" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"textstats": {"field": "text"}}],
        "loader": {"memory": {}} }""")
        .select(col("doc_id"), col("ts_chars").cast("long").as("ts_chars"),
          col("ts_tokens").cast("long").as("ts_tokens"),
          col("ts_distinct_tokens").cast("long").as("ts_distinct_tokens"),
          col("ts_avg_token_len"), col("ts_stopword_ratio"),
          col("ts_punct_ratio"), col("ts_upper_ratio"))
        .orderBy("doc_id")
    },
    "events_window" -> { (s, dir) =>
      val c = ctx(s, dir)
      // batch event-time tumbling window over the registered events table
      // (goes through Tables.load's TIMESTAMP(NANOS) shim)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"command": {"command":
          "SELECT window.start AS window_start, event_type, count(*) AS n FROM (SELECT window(ts, '1 hour') AS window, event_type FROM events) GROUP BY 1, 2"}}],
        "loader": {"memory": {}} }""")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"))
        .orderBy("window_start", "event_type")
    },
    "asof_join" -> { (s, dir) =>
      val c = ctx(s, dir)
      // point-in-time lookup: each purchase joined to the user's LATEST
      // click at-or-before it (distributed merge-asof: one shuffle on
      // user_id + per-partition sort — no candidate pairs). 143 of 1981
      // purchases at sf0.01 have no prior click → null attachments
      // (left-outer contract). The right side pre-aggregates per
      // (user, ts): both ASOF engines leave same-instant ties
      // unspecified, so the compare must not depend on one
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/events.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase'"}},
          {"asofjoin": {"right":
            "SELECT user_id, ts, max(event_id) AS click_id, max_by(value, event_id) AS click_value FROM events WHERE event_type = 'click' GROUP BY user_id, ts",
            "on": "user_id", "leftTime": "ts",
            "matchedTimeField": "click_ts"}}],
        "loader": {"memory": {}} }""")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("click_id"), col("click_value"), unix_micros(col("click_ts")).as("click_ts_us"))
        .orderBy("event_id")
    },
    "asof_join_forward" -> { (s, dir) =>
      val c = ctx(s, dir)
      // forward as-of: each purchase joined to the user's EARLIEST click
      // at-or-after it — the same one-shuffle merge scanned in reverse
      // time order (pandas merge_asof direction='forward')
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/events.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase'"}},
          {"asofjoin": {"right":
            "SELECT user_id, ts, max(event_id) AS click_id, max_by(value, event_id) AS click_value FROM events WHERE event_type = 'click' GROUP BY user_id, ts",
            "on": "user_id", "leftTime": "ts", "direction": "forward",
            "matchedTimeField": "click_ts"}}],
        "loader": {"memory": {}} }""")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("click_id"), col("click_value"), unix_micros(col("click_ts")).as("click_ts_us"))
        .orderBy("event_id")
    },
    "asof_join_nearest" -> { (s, dir) =>
      val c = ctx(s, dir)
      // nearest as-of with a 10-minute tolerance: closer of the
      // latest-before / earliest-after click (tie → backward); both
      // scans share ONE keyed exchange (two in-partition sorts)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/events.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase'"}},
          {"asofjoin": {"right":
            "SELECT user_id, ts, max(event_id) AS click_id, max_by(value, event_id) AS click_value FROM events WHERE event_type = 'click' GROUP BY user_id, ts",
            "on": "user_id", "leftTime": "ts", "direction": "nearest",
            "tolerance": 600, "matchedTimeField": "click_ts"}}],
        "loader": {"memory": {}} }""")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("click_id"), col("click_value"), unix_micros(col("click_ts")).as("click_ts_us"))
        .orderBy("event_id")
    },
    "stream_join" -> { (s, dir) =>
      val c = ctx(s, dir)
      // stream-STREAM join: the purchases stream joined to the clicks
      // stream on user_id within a 15-minute look-back band. Watermarks
      // on BOTH sides + the band condition in the join bound the state
      // store (Spark evicts rows past watermark+band), so the shape
      // runs indefinitely at scale; under availableNow on the bounded
      // fixture the result equals the batch band-join oracle.
      Engine.registerCode("normalize_events_ts")(df =>
        graft.sources.Tables.normalizeTs(df, "ts"))
      val q = graft.streaming.Streaming.run(c, graft.spec.PipelineSpec.parse(s"""{
        "source": {"stream": {"path": "$dir", "format": "parquet",
          "pathGlobFilter": "events.parquet", "shufflePartitions": 8,
          "schema": "${graft.sources.Tables.rawSchemaDDL(s, dir, "events")}"}},
        "transformers": [
          {"code": {"ref": "normalize_events_ts"}},
          {"code": {"language": "sql", "code":
            "SELECT event_id, ts, user_id FROM __input WHERE event_type = 'purchase'"}},
          {"stream_join": {
            "right": {"path": "$dir", "format": "parquet",
              "pathGlobFilter": "events.parquet",
              "schema": "${graft.sources.Tables.rawSchemaDDL(s, dir, "events")}"},
            "rightWhere": "event_type = 'click'",
            "on": "user_id", "leftTime": "ts",
            "before": 7200, "after": 0, "watermark": "3 hours",
            "select": ["event_id:click_id"]}}],
        "loader": {"streamsink": {"format": "memory", "name": "stream_jn",
          "outputMode": "append", "trigger": "availableNow"}} }"""))
      q.awaitTermination()
      s.table("stream_jn")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("click_id"))
        .orderBy("event_id", "click_id")
    },
    "stream_join_outer" -> { (s, dir) =>
      val c = ctx(s, dir)
      // LEFT_OUTER stream-stream band join: purchases with no click in
      // the look-back band must STILL emit, null-padded — but only once
      // the global watermark passes their band (state-store eviction
      // is what proves the match can never arrive). Tail rows within
      // watermark+band of the stream's end never reach that point under
      // availableNow, so BOTH sides of the compare cut at
      // max(ts) - 6 h (watermark 3 h + band 2 h + 1 h margin); the
      // null-emission edge is fully exercised by the cut region.
      Engine.registerCode("normalize_events_ts")(df =>
        graft.sources.Tables.normalizeTs(df, "ts"))
      val q = graft.streaming.Streaming.run(c, graft.spec.PipelineSpec.parse(s"""{
        "source": {"stream": {"path": "$dir", "format": "parquet",
          "pathGlobFilter": "events.parquet", "shufflePartitions": 8,
          "schema": "${graft.sources.Tables.rawSchemaDDL(s, dir, "events")}"}},
        "transformers": [
          {"code": {"ref": "normalize_events_ts"}},
          {"code": {"language": "sql", "code":
            "SELECT event_id, ts, user_id FROM __input WHERE event_type = 'purchase'"}},
          {"stream_join": {
            "right": {"path": "$dir", "format": "parquet",
              "pathGlobFilter": "events.parquet",
              "schema": "${graft.sources.Tables.rawSchemaDDL(s, dir, "events")}"},
            "rightWhere": "event_type = 'click'",
            "on": "user_id", "leftTime": "ts",
            "before": 7200, "after": 0, "watermark": "3 hours",
            "joinType": "left_outer",
            "select": ["event_id:click_id"]}}],
        "loader": {"streamsink": {"format": "memory", "name": "stream_jn_o",
          "outputMode": "append", "trigger": "availableNow"}} }"""))
      q.awaitTermination()
      val ev = graft.sources.Tables.normalizeTs(
        s.read.parquet(s"$dir/events.parquet"), "ts")
      val cutoff = ev.agg(max(unix_micros(col("ts")))).head.getLong(0) -
        21600000000L // 6 h in micros
      s.table("stream_jn_o")
        .where(unix_micros(col("ts")) <= cutoff)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("click_id"))
        .orderBy("event_id", "click_id")
    },
    "stream_join_full" -> { (s, dir) =>
      val c = ctx(s, dir)
      // FULL_OUTER stream-stream band join: BOTH dangling sides emit
      // null-padded once the watermark proves no match can arrive —
      // purchases with no click in the look-back band AND clicks no
      // purchase looked back to. The compare cut (max(ts) - 6 h =
      // watermark 3 h + band 2 h + margin) applies to whichever side's
      // time a row carries (coalesce), the same rule on the oracle.
      Engine.registerCode("normalize_events_ts")(df =>
        graft.sources.Tables.normalizeTs(df, "ts"))
      val q = graft.streaming.Streaming.run(c, graft.spec.PipelineSpec.parse(s"""{
        "source": {"stream": {"path": "$dir", "format": "parquet",
          "pathGlobFilter": "events.parquet", "shufflePartitions": 8,
          "schema": "${graft.sources.Tables.rawSchemaDDL(s, dir, "events")}"}},
        "transformers": [
          {"code": {"ref": "normalize_events_ts"}},
          {"code": {"language": "sql", "code":
            "SELECT event_id, ts, user_id FROM __input WHERE event_type = 'purchase'"}},
          {"stream_join": {
            "right": {"path": "$dir", "format": "parquet",
              "pathGlobFilter": "events.parquet",
              "schema": "${graft.sources.Tables.rawSchemaDDL(s, dir, "events")}"},
            "rightWhere": "event_type = 'click'",
            "on": "user_id", "leftTime": "ts",
            "before": 7200, "after": 0, "watermark": "3 hours",
            "joinType": "full_outer",
            "select": ["event_id:click_id", "ts:click_ts"]}}],
        "loader": {"streamsink": {"format": "memory", "name": "stream_jn_f",
          "outputMode": "append", "trigger": "availableNow"}} }"""))
      q.awaitTermination()
      val ev = graft.sources.Tables.normalizeTs(
        s.read.parquet(s"$dir/events.parquet"), "ts")
      val cutoff = ev.agg(max(unix_micros(col("ts")))).head.getLong(0) -
        21600000000L // 6 h in micros
      s.table("stream_jn_f")
        .where(coalesce(unix_micros(col("ts")), unix_micros(col("click_ts"))) <= cutoff)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("click_id"), unix_micros(col("click_ts")).as("click_ts_us"))
        .orderBy("event_id", "click_id", "click_ts_us")
    },
    "batch_sessions" -> { (s, dir) =>
      val c = ctx(s, dir)
      // batch gap-sessionization (12 h gap, same contract as the
      // streaming sessionize but EVERY session emits — bounded input);
      // two windows over one keyed sort + one aggregation
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command": "SELECT user_id, ts FROM events"}},
          {"sessionize": {"keyField": "user_id", "tsField": "ts",
            "gapMs": 43200000}}],
        "loader": {"memory": {}} }""")
        .select(col("key"), unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"), col("n_events"))
        .orderBy("key", "start_us")
    },
    "rolling_window" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-user 24 h trailing activity: event count + cents spend over
      // the inclusive [t-24h, t] RANGE frame (cents = integer-valued sum,
      // so the float-accumulation order can't bite the oracle compare)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents FROM events"}},
          {"rolling": {"keyField": "user_id", "tsField": "ts",
            "window": 86400, "aggs": ["count", "sum:cents"]}}],
        "loader": {"memory": {}} }""")
        .select("event_id", "rolling_n", "rolling_sum_cents")
        .orderBy("event_id")
    },
    "funnel_steps" -> { (s, dir) =>
      val c = ctx(s, dir)
      // ordered conversion funnel: view → click → purchase, later steps
      // strictly after the previous completion and within 24 h of entry;
      // per-step filtered min-aggregates + narrow key joins (k−1 bounded
      // joins, never a per-key sort of the event history)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command": "SELECT user_id, ts, event_type FROM events"}},
          {"funnel": {"keyField": "user_id", "tsField": "ts",
            "steps": ["view", "click", "purchase"], "window": 86400}}],
        "loader": {"memory": {}} }""")
        .select(col("key"), col("steps_completed"),
          unix_micros(col("first_ts")).as("first_us"),
          unix_micros(col("last_ts")).as("last_us"))
        .orderBy("key")
    },
    "cohort_retention" -> { (s, dir) =>
      val c = ctx(s, dir)
      // weekly retention triangle: cohort = week of first event, active
      // = distinct users with any event in cohort week + k; shuffles
      // carry (user, date, int) triples only. The event stream is
      // sparsified (1-in-11) so first events SPREAD across weeks —
      // otherwise every user cohorts into week one and the triangle
      // degenerates to a single row per period
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command": "SELECT user_id, ts FROM events WHERE event_id % 11 = 0"}},
          {"cohortretention": {"keyField": "user_id", "tsField": "ts",
            "period": "week"}}],
        "loader": {"memory": {}} }""")
        .select(col("cohort"), col("period"), col("active"))
        .orderBy("cohort", "period")
    },
    "resample_agg" -> { (s, dir) =>
      val c = ctx(s, dir)
      // fixed-grid downsampling: per-event-type 6-hour buckets with
      // count + integer-cents sum/max — ONE hash aggregation with
      // map-side combine; bucketing is a pure projection
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/events.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT ts, event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events"}},
          {"resample": {"keyField": "event_type", "tsField": "ts",
            "every": 21600, "aggs": ["count", "sum:cents", "max:cents"]}}],
        "loader": {"memory": {}} }""")
        .select(col("event_type"), unix_micros(col("bucket_ts")).as("bucket_us"),
          col("n"), col("sum_cents"), col("max_cents"))
        .orderBy("event_type", "bucket_us")
    },
    "resample_ffill" -> { (s, dir) =>
      val c = ctx(s, dir)
      // grid densify + forward fill: per-user DAILY purchase grid from
      // each user's first to last purchase day; gap days carry the
      // previous day's aggregates atomically and flag is_gap — the
      // time-series alignment primitive (feature grids, training
      // snapshots). All steps keyed: agg → per-key bounds → sequence
      // explode → equi-join → one fill window
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/events.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT ts, user_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events WHERE event_type = 'purchase'"}},
          {"resample": {"keyField": "user_id", "tsField": "ts",
            "every": 86400, "aggs": ["count", "sum:cents", "last:cents"],
            "fill": "ffill"}}],
        "loader": {"memory": {}} }""")
        .select(col("user_id"), unix_micros(col("bucket_ts")).as("bucket_us"),
          col("n"), col("sum_cents"), col("last_cents"), col("is_gap"))
        .orderBy("user_id", "bucket_us")
    },
    "resample_linear" -> { (s, dir) =>
      val c = ctx(s, dir)
      // gap buckets linearly interpolated between the nearest observed
      // day on each side — the numeric time-series imputation primitive
      // (feature grids that can't carry stale values). Same keyed plan
      // as ffill plus one extra Window over the SAME sort (the second
      // window node reuses the first's distribution — no extra shuffle)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/events.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT ts, user_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events WHERE event_type = 'purchase'"}},
          {"resample": {"keyField": "user_id", "tsField": "ts",
            "every": 86400, "aggs": ["count", "sum:cents"],
            "fill": "linear"}}],
        "loader": {"memory": {}} }""")
        .select(col("user_id"), unix_micros(col("bucket_ts")).as("bucket_us"),
          col("n"), col("sum_cents"), col("is_gap"))
        .orderBy("user_id", "bucket_us")
    },
    "union_tables" -> { (s, dir) =>
      val c = ctx(s, dir)
      // union as a PLAN step (the reference's linear pipeline needs two
      // ETL runs into one target for this): overlapping region slices,
      // distinct: true dedups the overlap — UNION ALL itself is a
      // zero-shuffle plan concatenation
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/nation.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT n_nationkey AS k, n_name AS name FROM input WHERE n_regionkey <= 2"}},
          {"union": {"right":
            "SELECT n_nationkey AS k, n_name AS name FROM nation WHERE n_regionkey >= 2",
            "distinct": true}}],
        "loader": {"memory": {}} }""")
        .orderBy("k")
    },
    "except_rows" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT o_orderkey, o_orderstatus FROM input"}},
          {"except": {"right":
            "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'"}}],
        "loader": {"memory": {}} }""")
        .orderBy("o_orderkey")
    },
    "intersect_rows" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT c_custkey FROM input WHERE c_mktsegment = 'BUILDING'"}},
          {"intersect": {"right": "SELECT o_custkey AS c_custkey FROM orders"}}],
        "loader": {"memory": {}} }""")
        .orderBy("c_custkey")
    },
    "interval_join" -> { (s, dir) =>
      val c = ctx(s, dir)
      // interval × interval OVERLAP join (the rangejoin sibling):
      // 10-minute view windows vs 30-minute error windows per user,
      // keyed equi-join + 10-min bins; the canonical-bin rule emits
      // each overlapping pair exactly once without a distinct
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/events.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, user_id, ts AS vs, ts + INTERVAL 10 MINUTE AS ve FROM events WHERE event_type = 'view'"}},
          {"intervaljoin": {"right":
            "SELECT event_id AS err_id, user_id, ts AS es, ts + INTERVAL 30 MINUTE AS ee FROM events WHERE event_type = 'error'",
            "leftStart": "vs", "leftEnd": "ve",
            "rightStart": "es", "rightEnd": "ee",
            "on": "user_id", "binWidth": 600}}],
        "loader": {"memory": {}} }""")
        .select("event_id", "user_id", "err_id")
        .orderBy("event_id", "err_id")
    },
    "range_join" -> { (s, dir) =>
      val c = ctx(s, dir)
      // interval-containment join WITHOUT an equi-key: purchases inside
      // 2-hour windows opened by busy hours (>= 20 events). binWidth
      // turns the inequality join into a bin equi-join (each point
      // probes its single hour bin; each window is replicated to the
      // <= 3 bins it touches) — never |points| x |intervals|
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/events.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase'"}},
          {"rangejoin": {"right":
            "SELECT hs AS wstart, hs + INTERVAL 2 HOUR AS wend, n_in_hour FROM (SELECT date_trunc('hour', ts) AS hs, count(*) AS n_in_hour FROM events GROUP BY 1) WHERE n_in_hour >= 20",
            "leftTime": "ts", "start": "wstart", "end": "wend",
            "binWidth": 3600}}],
        "loader": {"memory": {}} }""")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("wstart")).as("w_us"), col("n_in_hour"))
        .orderBy("event_id", "w_us")
    },
    "stream_distinct" -> { (s, dir) =>
      val c = ctx(s, dir)
      // streaming + mergeable sketch: per-window per-type distinct-user
      // ESTIMATE where the HLL buffer is the streaming state (a few KB
      // per window/key — exact count-distinct would buffer every user).
      // HLL is deterministic (order-independent per-bucket max), so the
      // verdict joins the batch-exact distinct and asserts the 5% bound
      // (lgK 12 ≈ 1.6% ≈ 3 sigma); oracle = exact counts + literal true
      Engine.registerCode("normalize_events_ts_sd")(df =>
        graft.sources.Tables.normalizeTs(df, "ts"))
      val q = graft.streaming.Streaming.run(c, graft.spec.PipelineSpec.parse(s"""{
        "source": {"stream": {"path": "$dir", "format": "parquet",
          "pathGlobFilter": "events.parquet",
          "schema": "${graft.sources.Tables.rawSchemaDDL(s, dir, "events")}"}},
        "transformers": [
          {"code": {"ref": "normalize_events_ts_sd"}},
          {"window_agg": {"tsField": "ts", "watermark": "1 hour",
            "window": "1 hour", "groupBy": ["event_type"],
            "aggs": ["distinct_est:user_id"]}}],
        "loader": {"streamsink": {"format": "memory", "name": "stream_dist",
          "outputMode": "complete", "trigger": "availableNow"}} }"""))
      q.awaitTermination()
      val est = s.table("stream_dist")
        .select(col("window_start"), col("event_type"),
          col("distinct_user_id"))
      val exact = graft.sources.Tables
        .normalizeTs(s.read.parquet(s"$dir/events.parquet"), "ts")
        .groupBy(window(col("ts"), "1 hour").as("__w"), col("event_type"))
        .agg(count_distinct(col("user_id")).as("n_exact"))
        .select(col("__w.start").as("__ws"),
          col("event_type").as("__et"), col("n_exact"))
      est.join(exact, est("window_start") === col("__ws") &&
          est("event_type") <=> col("__et"))
        .select(est("window_start"), est("event_type"), col("n_exact"),
          (abs(col("distinct_user_id") - col("n_exact")) <=
            lit(0.05) * col("n_exact")).as("est_ok"))
        .orderBy("window_start", "event_type")
    },
    "stream_window" -> { (s, dir) =>
      val c = ctx(s, dir)
      // Structured Streaming end-to-end: file stream source → event-time
      // windowed aggregation (watermarked) → memory sink, with
      // Trigger.AvailableNow so the run is bounded and deterministic —
      // the streaming plan must produce byte-identical results to the
      // batch `events_window` oracle. The stream schema comes from the
      // fixture's parquet footer (streaming sources don't infer) and the
      // normalize hook absorbs whatever ts encoding the fixture carries
      // this generation — sources.Tables is the single authority, after
      // a hardcoded `ts BIGINT` schema silently compressed the timeline
      // 1000× when the fixture drifted nanos-long → micros-NTZ (r8).
      Engine.registerCode("normalize_events_ts")(df =>
        graft.sources.Tables.normalizeTs(df, "ts"))
      val q = graft.streaming.Streaming.run(c, graft.spec.PipelineSpec.parse(s"""{
        "source": {"stream": {"path": "$dir", "format": "parquet",
          "pathGlobFilter": "events.parquet",
          "schema": "${graft.sources.Tables.rawSchemaDDL(s, dir, "events")}"}},
        "transformers": [
          {"code": {"ref": "normalize_events_ts"}},
          {"window_agg": {"tsField": "ts", "watermark": "1 hour",
            "window": "1 hour", "groupBy": ["event_type"], "aggs": ["count"]}}],
        "loader": {"streamsink": {"format": "memory", "name": "stream_win",
          "outputMode": "complete", "trigger": "availableNow"}} }"""))
      q.awaitTermination()
      s.table("stream_win")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"))
        .orderBy("window_start", "event_type")
    },
    "stream_sessions" -> { (s, dir) =>
      val c = ctx(s, dir)
      // gap-based sessionization via flatMapGroupsWithState (custom
      // event-time state) under Trigger.AvailableNow — deterministic on
      // the bounded input; which sessions flush (vs stay in state at
      // stop) is pinned by the oracle below. Schema from the fixture
      // footer + Tables.normalizeTs — see stream_window's note.
      Engine.registerCode("normalize_events_ts")(df =>
        graft.sources.Tables.normalizeTs(df, "ts"))
      val q = graft.streaming.Streaming.run(c, graft.spec.PipelineSpec.parse(s"""{
        "source": {"stream": {"path": "$dir", "format": "parquet",
          "pathGlobFilter": "events.parquet",
          "schema": "${graft.sources.Tables.rawSchemaDDL(s, dir, "events")}"}},
        "transformers": [
          {"code": {"ref": "normalize_events_ts"}},
          {"sessionize": {"keyField": "user_id", "tsField": "ts",
                          "gapMs": 43200000, "watermark": "1 second"}}],
        "loader": {"streamsink": {"format": "memory", "name": "stream_sess",
          "outputMode": "append", "trigger": "availableNow"}} }"""))
      q.awaitTermination()
      s.table("stream_sess")
        .select(col("key"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"))
        .orderBy("key", "session_start")
    },
    "gopher_rules" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the Gopher quality-rule set (Rae et al. 2021 A1.1), per-rule
      // flags + the keep conjunction — thresholds tuned so the rules
      // discriminate on the synthetic corpus (30–65-word docs, 'the'
      // is the only Gopher stop word in its vocabulary)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"gopherfilter": {"field": "text",
          "minWords": 40, "minStopwords": 1}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "gopher_word_count", "gopher_mean_word_len",
          "gopher_symbol_ratio", "gopher_alpha_ratio", "gopher_stopwords",
          "gopher_keep")
        .orderBy("doc_id")
    },
    "paragraph_dedup" -> { (s, dir) =>
      val c = ctx(s, dir)
      // within-document line dedup (scope: document — the Dolma
      // dedupe-paragraphs step): word-per-line granularity here, each
      // doc keeps every line's first occurrence in order. Pure per-row
      // indexed-filter HOF, zero shuffle
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT doc_id, replace(text, ' ', chr(10)) AS text FROM input"}},
          {"boilerplate": {"field": "text", "idField": "doc_id",
            "scope": "document"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "text").orderBy("doc_id")
    },
    "quality_filter" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"qualityfilter": {"field": "text",
          "minChars": 160, "maxChars": 380, "maxStopwordRatio": 0.12}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "n_chars").orderBy("doc_id")
    },
    "boilerplate_strip" -> { (s, dir) =>
      val c = ctx(s, dir)
      // corpus-level boilerplate line removal: the command step first
      // manufactures multi-line docs deterministically (the synthetic
      // corpus is single-line), then lines occurring in >= 3 distinct
      // documents are stripped and each doc reassembles in order
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT doc_id, replace(text, ' table ', chr(10)) AS text FROM input"}},
          {"boilerplate": {"field": "text", "idField": "doc_id",
            "minDocs": 3}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "text").orderBy("doc_id")
    },
    "langid" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // real multilingual sentences (held out from the model's profile
      // data); the oracle knows each row's language from doc_id
      // arithmetic — the engine must recover it from the text itself
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/langid_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"langid": {"field": "text"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "lang_pred").orderBy("doc_id")
    },
    "data_split" -> { (s, dir) =>
      val c = ctx(s, dir)
      // deterministic key-stable train/val/test split — the md5-bucket
      // assignment is engine-portable (same expression in DuckDB)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"datasplit": {"keyField": "doc_id", "salt": "v1",
          "splits": [{"name": "train", "fraction": 0.8},
                     {"name": "val", "fraction": 0.1},
                     {"name": "test", "fraction": 0.1}]}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "split").orderBy("doc_id")
    },
    "kfold_split" -> { (s, dir) =>
      val c = ctx(s, dir)
      // k-fold CV assignment with a holdout round: fold = md5-bucket
      // mod k (key-stable, engine-portable), fold 2 marked test
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"kfold": {"k": 7, "holdout": 2, "salt": "cv"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "fold", "role").orderBy("doc_id")
    },
    "pack_chunks" -> { (s, dir) =>
      val c = ctx(s, dir)
      // token-budget packing: tokenize → ordered prefix-sum chunking
      // (2048-token chunks). The oracle is DuckDB's window cumsum —
      // proving the distributed two-phase scan equals the sequential
      // definition exactly
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"tokenize": {"field": "text"}},
          {"pack": {"orderField": "doc_id", "tokenField": "n_ws_tokens",
                    "budget": 2048}}],
        "loader": {"memory": {}} }""")
        .select(col("doc_id"), col("chunk_id"),
          col("chunk_offset").cast("long").as("chunk_offset"))
        .orderBy("doc_id")
    },
    "pipeline_curate" -> { (s, dir) =>
      val c = ctx(s, dir)
      // COMPOSITION check: quality filter → exact dedup → hash sample
      // in ONE config. The dedup keep-one groups are computed over the
      // FILTERED survivors (not the raw corpus) and the sample over the
      // deduped set — order of stages is what the oracle CTE chain
      // verifies, not the stages individually
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"qualityfilter": {"field": "text", "minChars": 120,
            "maxChars": 450, "maxStopwordRatio": 0.15}},
          {"dedup": {"keyFields": ["n_chars"], "tiebreakField": "doc_id"}},
          {"hashsample": {"keyField": "doc_id", "fraction": "0.5"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "n_chars").orderBy("doc_id")
    },
    "hash_sample" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"hashsample": {"keyField": "doc_id",
                                         "fraction": "0.25"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "n_chars").orderBy("doc_id")
    },
    "rowid_assign" -> { (s, dir) =>
      val c = ctx(s, dir)
      // distributed row_number() OVER (ORDER BY …): range partition +
      // per-partition offsets (pack's two-phase prefix) — never a
      // single-task global window
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"rowid": {"orderField": "doc_id",
          "start": 1000}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "row_id").orderBy("doc_id")
    },
    "profile_columns" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-column profiling sweep (the discovery pass before `expect`
      // rules): one aggregation over one scan, long-format output
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"profile": {"columns":
          ["o_orderkey", "o_orderstatus", "o_orderpriority"]}}],
        "loader": {"memory": {}} }""")
        .orderBy("column", "metric")
    },
    "weighted_sample" -> { (s, dir) =>
      val c = ctx(s, dir)
      // deterministic WEIGHTED sampling: per-row keep probability from
      // the row itself (length-proportional here — the quality-weighted
      // corpus-downsampling primitive), same md5 bucket as the uniform
      // path, floor-cut so both engines agree at every boundary
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"hashsample": {"keyField": "doc_id",
          "probExpr": "least(n_chars / 2000.0, 1.0)"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "n_chars").orderBy("doc_id")
    },
    "zorder_layout" -> { (s, dir) =>
      val c = ctx(s, dir)
      // Morton z-value over (user, seconds-offset): the write-side
      // layout pass that keeps BOTH columns' file min/max stats tight
      // at 100 TB so predicates on either prune files — here the
      // z-value arithmetic itself is oracle-locked bit-for-bit
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/events.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, user_id AS u, CAST(floor(unix_micros(ts) / 1000000) AS BIGINT) - 1704067200 AS t FROM events"}},
          {"zorder": {"columns": ["u", "t"], "bits": 22}}],
        "loader": {"memory": {}} }""")
        .select("event_id", "zvalue").orderBy("event_id")
    },
    "stratified_sample" -> { (s, dir) =>
      val c = ctx(s, dir)
      // language-balanced corpus sampling: keep all German, half the
      // Chinese, a fifth of the English, 3/4 of everything else —
      // deterministic per-stratum md5 buckets (engine-portable)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"stratifiedsample": {"strataField": "lang",
          "keyField": "doc_id", "salt": "s1",
          "fractions": {"en": 0.2, "zh": 0.5, "de": 1.0},
          "defaultFraction": 0.75}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "lang").orderBy("doc_id")
    },
    "corpus_shuffle" -> { (s, dir) =>
      val c = ctx(s, dir)
      // deterministic training-order shuffle: the md5 sort key is
      // reproducible across runs/engines (unlike rand()); changing the
      // salt re-shuffles the epoch
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"shuffle": {"keyField": "doc_id", "salt": "epoch1"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "shuffle_key")
    },
    "group_cap" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-domain quota: synthesize a URL per document, decompose it
      // (urlparse), cap at 10 docs per host keeping lowest doc_id —
      // the anti-boilerplate-domain step of web curation
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT *, concat('https://www.', source, '-m.com/p/', CAST(doc_id AS STRING)) AS url FROM __input"}},
          {"urlparse": {"field": "url", "parts": ["host", "domain", "path"]}},
          {"groupcap": {"groupField": "url_host", "orderField": "doc_id",
                        "maxPerGroup": 10, "algorithm": "threshold"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "url_host", "url_domain", "url_path").orderBy("doc_id")
    },
    "url_normalize" -> { (s, dir) =>
      val c = ctx(s, dir)
      // canonicalization sweep: uppercase scheme/host, :443 default
      // port, tracking params interleaved with real ones (unsorted),
      // fragment — every %5 doc is a malformed URL that must pass
      // through untouched. Oracle constructs the expected canonical
      // form analytically from the same synthesis recipe.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN 'not a url' ELSE concat('HTTPS://WWW.', upper(source), '.COM:443/Path/', CAST(doc_id AS STRING), '?utm_source=x&b=', CAST(doc_id % 7 AS STRING), '&a=1&gclid=123#frag') END AS url FROM __input"}},
          {"urlnormalize": {"field": "url"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "url_norm").orderBy("doc_id")
    },
    "mixture_sample" -> { (s, dir) =>
      val c = ctx(s, dir)
      // weighted training mixture: three deterministic hash-sampled
      // slices of the corpus (the part NAME salts the bucket, so parts
      // sample independently), tagged and unioned
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"mixture": {"keyField": "doc_id",
          "columns": ["doc_id", "lang"],
          "includeInput": true, "inputFraction": 0.1, "inputName": "base",
          "parts": [
            {"path": "$dir/documents.parquet", "fraction": 0.3, "name": "web"},
            {"path": "$dir/documents.parquet", "fraction": 0.15, "name": "code"}]}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "lang", "mix_source").orderBy("mix_source", "doc_id")
    },
    "mixture_tokens" -> { (s, dir) =>
      val c = ctx(s, dir)
      // token-budgeted training mixture: 60k-token budget split 2:1
      // between two tagged sources (web 40k, code 20k); each part takes
      // documents in deterministic salted-md5 order until its token
      // share fills (whitespace token counts)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"mixture": {"keyField": "doc_id",
          "columns": ["doc_id", "lang", "text"],
          "budget": 60000,
          "parts": [
            {"path": "$dir/documents.parquet", "fraction": 2, "name": "web"},
            {"path": "$dir/documents.parquet", "fraction": 1, "name": "code"}]}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "mix_source").orderBy("mix_source", "doc_id")
    },
    "avro_export" -> { (s, dir) =>
      val c = ctx(s, dir)
      // loader→extractor roundtrip: export typed columns (long, string,
      // double, boolean) as Object Container Files, read them back with
      // the avro extractor, match the source table exactly
      val out = scratch("avro_out", dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"code": {"language": "sql", "code":
          "SELECT c_custkey, c_name, cast(c_acctbal as double) AS bal, c_custkey % 2 = 0 AS even FROM __input"}}],
        "loader": {"avro": {"path": "$out"}} }""")
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$out"}},
        "extractor": {"avro": {}},
        "loader": {"memory": {}} }""")
        .orderBy("c_custkey")
    },
    "robots_filter" -> { (s, dir) =>
      val c = ctx(s, dir)
      // RFC 9309 verdicts: four hosts — specific-agent group eclipsing
      // '*' (a.com), wildcard pattern (b.com), empty-disallow allow-all
      // eclipse (c.com), absent from the cache (d.com). Block/allow is
      // pure doc_id arithmetic for the oracle; the engine must parse
      // the real robots bodies, pick groups and do longest-match.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id, concat('https://', element_at(array('a.com', 'b.com', 'c.com', 'd.com'), cast(doc_id % 4 as int) + 1), element_at(array(concat('/private/p', cast(doc_id as string)), concat('/private/ok', cast(doc_id as string)), concat('/pub/p', cast(doc_id as string))), cast(doc_id % 3 as int) + 1)) AS url FROM __input"}},
          {"robotsfilter": {"agent": "graftbot", "robots":
            "SELECT * FROM (VALUES ('a.com', '# cache\\nUser-Agent: graftbot\\nDisallow: /private/\\nAllow: /private/ok\\nUser-agent: *\\nDisallow: /'), ('b.com', 'User-agent: *\\nDisallow: /pub*'), ('c.com', 'User-agent: graftbot\\nDisallow:\\nUser-agent: *\\nDisallow: /')) AS t(host, robots_txt)"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "robots_allowed")
        .orderBy("doc_id")
    },
    "mm_textmeta" -> { (s, dir) =>
      val c = ctx(s, dir)
      val fx = fixtures(s, dir)
      // PNG textual metadata: planted tEXt (latin1), zTXt (deflate) and
      // iTXt (utf8) chunks recovered from real bytes; the oracle is the
      // plant arithmetic. One in nine payloads has no chunks at all.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/metapng_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"mm_meta": {"idField": "media_id"}}],
        "loader": {"memory": {}} }""")
        .orderBy("media_id")
    },
    "minmax_scale" -> { (s, dir) =>
      val c = ctx(s, dir)
      // bounded-range scaler: per-priority price to [0,1] — the same
      // IEEE tree on both sides, constant groups null
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"minmaxscale": {"field": "o_totalprice",
          "keyField": "o_orderpriority", "outField": "price_01"}}],
        "loader": {"memory": {}} }""")
        .select("o_orderkey", "o_orderpriority", "price_01")
        .orderBy("o_orderkey")
    },
    "semi_join" -> { (s, dir) =>
      val c = ctx(s, dir)
      // keyed existence filter: orders whose customer is in BUILDING —
      // left rows never duplicate (the right is non-unique per key in
      // general), right columns never attach
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"semijoin": {
          "right": "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'",
          "leftOn": "o_custkey", "rightOn": "c_custkey"}}],
        "loader": {"memory": {}} }""")
        .select("o_orderkey", "o_custkey").orderBy("o_orderkey")
    },
    "anti_join" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the complement: orders of customers NOT in BUILDING
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"antijoin": {
          "right": "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'",
          "leftOn": "o_custkey", "rightOn": "c_custkey"}}],
        "loader": {"memory": {}} }""")
        .select("o_orderkey", "o_custkey").orderBy("o_orderkey")
    },
    "feature_hash" -> { (s, dir) =>
      val c = ctx(s, dir)
      // hashing-trick featurization: fixed k dims, no vocabulary pass;
      // the oracle recomputes the same md5 bucket/sign arithmetic
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"featurehash": {"k": 16}}],
        "loader": {"memory": {}} }""")
        .select(col("doc_id"), array_join(col("features"), ",").as("features_str"))
        .orderBy("doc_id")
    },
    "label_encode" -> { (s, dir) =>
      val c = ctx(s, dir)
      // categorical → dense ids in SORTED value order (deterministic
      // across runs/partitionings — dense_rank is the oracle spelling)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"labelencode": {"field": "c_mktsegment"}}],
        "loader": {"memory": {}} }""")
        .select("c_custkey", "c_mktsegment", "c_mktsegment_id")
        .orderBy("c_custkey")
    },
    "mad_outliers" -> { (s, dir) =>
      val c = ctx(s, dir)
      // robust per-group outliers: (x − median)/MAD — mean/std move
      // with the outliers they're meant to flag, median/MAD don't (50%
      // breakdown). Exact medians; raw MAD (no consistency factor)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"zscore": {"field": "o_totalprice",
          "keyField": "o_orderpriority", "method": "mad",
          "outField": "price_rz", "threshold": 3.5}}],
        "loader": {"memory": {}} }""")
        .select("o_orderkey", "o_orderpriority", "price_rz", "price_rz_outlier")
        .orderBy("o_orderkey")
    },
    "cdc_chunks" -> { (s, dir) =>
      val c = ctx(s, dir)
      // content-defined chunking: boundaries derive from word-content
      // hashes (the shift-tolerant substring-dedup primitive); the
      // oracle recomputes the same md5-bucket rule with a window scan
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"cdcchunk": {"divisor": 8}}],
        "loader": {"memory": {}} }""")
        .orderBy("doc_id", "chunk_index")
    },
    "avro_roundtrip" -> { (s, dir) =>
      val c = ctx(s, dir)
      val fx = fixtures(s, dir)
      // Avro Object Container File (deflate blocks) → typed columns:
      // primitives widened (int→long, float→double), nullable union
      // unwrapped, array/record fields as their canonical JSON rendering
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/tables/nation.avro"}},
        "extractor": {"avro": {}},
        "loader": {"memory": {}} }""")
        .orderBy("n_nationkey")
    },
    "pii_mask" -> { (s, dir) =>
      val c = ctx(s, dir)
      // typed PII scrub: planted email/IP/SSN per doc; the oracle applies
      // the IDENTICAL Java∩RE2 patterns (CLAUDE regex-subset rule) to the
      // same constructed string — masked text AND per-entity counts
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id, concat('Contact u', cast(doc_id as string), '@ex', cast(doc_id % 7 as string), '.com or 192.168.', cast(doc_id % 256 as string), '.', cast((doc_id * 3) % 256 as string), ' ssn 123-45-6789 . ', text) AS text FROM __input"}},
          {"piimask": {"entities": ["email", "ipv4", "ssn"]}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "text", "pii_email_n", "pii_ipv4_n", "pii_ssn_n")
        .orderBy("doc_id")
    },
    "url_filter" -> { (s, dir) =>
      val c = ctx(s, dir)
      // blocklist hygiene: domain list (with subdomain semantics) +
      // URL-pattern rules; keep/block is pure doc_id arithmetic
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id, concat('https://', element_at(array('bad.com', 'x.bad.com', 'ok.org', 'spam.net', 'good.io'), cast(doc_id % 5 as int) + 1), '/p/', cast(doc_id as string), CASE WHEN doc_id % 7 = 0 THEN '?track=1' ELSE '' END) AS url FROM __input"}},
          {"urlfilter": {"blockDomains": ["bad.com"],
            "blockPatterns": ["track=1", "spam\\\\."]}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "url_keep")
        .orderBy("doc_id")
    },
    "wiki_extract" -> { (s, dir) =>
      val c = ctx(s, dir)
      val wd = wikiFixture(s, dir)
      // the Wikipedia landing path end-to-end: xml extractor (rowTag
      // record slicing, leaf decode, raw nested children) → SQL pull of
      // the revision <text> → wikitext markup strip. Every plant
      // (template, table, ref, file link, piped link, external link,
      // heading, bullet, bold) must vanish or resolve; the oracle
      // recomposes the expected plain text from doc_id arithmetic.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$wd"}},
        "extractor": {"xml": {"rowTag": "page"}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT cast(id as bigint) AS doc_id, title, regexp_extract(revision, '(?s)<text[^>]*>(.*?)</text>', 1) AS text FROM __input"}},
          {"wikitext": {}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "title", "text")
        .orderBy("doc_id")
    },
    "hint_broadcast" -> { (s, dir) =>
      val c = ctx(s, dir)
      // explicit join-strategy control: the filtered customer dim gets a
      // broadcast hint, the downstream SQL join must plan it broadcast
      // (PlanSpec locks the physical shape; result is plan-invariant)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT c_custkey, c_name FROM __input WHERE c_mktsegment = 'BUILDING'"}},
          {"hint": {"name": "broadcast"}},
          {"code": {"language": "sql", "code":
            "SELECT o.o_orderkey, c.c_name FROM orders o JOIN __input c ON o.o_custkey = c.c_custkey"}}],
        "loader": {"memory": {}} }""")
        .orderBy("o_orderkey")
    },
    "compress_quality" -> { (s, dir) =>
      val c = ctx(s, dir)
      // information-density cut: every 4th doc's text is replaced by a
      // 60x-repeated token pair (deflate ratio ~0.04 vs >=0.38 measured
      // across the real corpus — a >9x margin around the 0.2 cut), the
      // stage must classify exactly the planted rows. The oracle is the
      // plant arithmetic; the engine must recover it from the BYTES.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN repeat('spam ham ', 60) ELSE text END AS text FROM __input"}},
          {"compressratio": {"minRatio": 0.2}}],
        "loader": {"memory": {}} }""")
        .select(col("doc_id"), col("compress_keep"))
        .orderBy("doc_id")
    },
    "hll_rollup" -> { (s, dir) =>
      val c = ctx(s, dir)
      // mergeable distinct-count sketches: per-priority HLL of customer
      // keys; the verdict joins the engine's own exact distinct and
      // asserts the estimate lands within the 5% bound (lgK 12 ≈ 1.6%
      // relative error, so the bound is ~3 sigma) — the recall-floor
      // harness pattern. Oracle: exact distinct + literal true.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"hllsketch": {"field": "o_custkey", "groupBy": "o_orderpriority"}},
          {"code": {"language": "sql", "code":
            "SELECT i.o_orderpriority, x.n_exact, abs(hll_sketch_estimate(i.hll_sketch) - x.n_exact) <= 0.05 * x.n_exact AS est_ok FROM __input i JOIN (SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_exact FROM orders GROUP BY 1) x ON i.o_orderpriority = x.o_orderpriority"}}],
        "loader": {"memory": {}} }""")
        .orderBy("o_orderpriority")
    },
    "hll_merge" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the rollup HLL exists for: UNION the per-group sketches to a
      // coarser grain (here: global) WITHOUT rescanning the raw table,
      // then estimate — count(DISTINCT) cannot re-aggregate this way
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"hllsketch": {"field": "o_custkey", "groupBy": "o_orderpriority"}},
          {"hllmerge": {}},
          {"code": {"language": "sql", "code":
            "SELECT x.n_exact, abs(i.distinct_est - x.n_exact) <= 0.05 * x.n_exact AS est_ok FROM __input i CROSS JOIN (SELECT count(DISTINCT o_custkey) AS n_exact FROM orders) x"}}],
        "loader": {"memory": {}} }""")
    },
    "bloom_join" -> { (s, dir) =>
      val c = ctx(s, dir)
      // bloom-prefiltered semi join: the sketch pass only shrinks what
      // reaches the exchange; the exact join removes every false
      // positive, so the result is ROW-IDENTICAL to a plain semi join —
      // hash-exact against DuckDB's IN
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"bloomjoin": {"right":
            "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'",
            "leftOn": "o_custkey", "rightOn": "c_custkey"}},
          {"code": {"language": "sql", "code":
            "SELECT o_orderkey, o_custkey FROM __input"}}],
        "loader": {"memory": {}} }""").orderBy("o_orderkey")
    },
    "bloom_join_bcast" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the r18 BROADCAST sketch carrier (sketchLitMaxBytes: 0 forces
      // every sketch onto the broadcast path — at real scale only
      // GB-class sketches take it) + a type-coerced key hash: the left
      // key arrives as BIGINT while the right stays INT, the pair ===
      // would silently mismatch under the r17 raw-type hash. Result
      // must stay row-identical to the exact semi join.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey FROM __input"}},
          {"bloomjoin": {"right":
            "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'",
            "leftOn": "o_custkey", "rightOn": "c_custkey",
            "sketchLitMaxBytes": 0}},
          {"code": {"language": "sql", "code":
            "SELECT o_orderkey, o_custkey FROM __input"}}],
        "loader": {"memory": {}} }""").orderBy("o_orderkey")
    },
    "bloom_join_anti" -> { (s, dir) =>
      val c = ctx(s, dir)
      // anti mode: definite-absent rows (bloom-negative) never reach
      // the exchange and are kept directly; the probe-positive sliver
      // resolves through the exact anti join
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"bloomjoin": {"right":
            "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'",
            "leftOn": "o_custkey", "rightOn": "c_custkey", "mode": "anti"}},
          {"code": {"language": "sql", "code":
            "SELECT o_orderkey, o_custkey FROM __input"}}],
        "loader": {"memory": {}} }""").orderBy("o_orderkey")
    },
    "checksum_rollup" -> { (s, dir) =>
      val c = ctx(s, dir)
      // mergeable content fingerprints: per-returnflag checksums of
      // lineitem MERGED must equal the whole-table checksum EXACTLY (no
      // sketch error), and one flipped shipdate in one row must change
      // it. xxhash64 isn't portable to DuckDB, so the verdict is the
      // driver row (engine-internal identities), oracle = exact count +
      // literal booleans.
      def sums(json: String) = Engine.runJson(ctx(s, dir), json)
      val grain = s"""{
        "source": {"file": {"path": "$dir/lineitem.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"checksum": {"fields": ["l_orderkey", "l_linenumber", "l_shipdate"],
            "groupBy": "l_returnflag"}},
          {"checksummerge": {}}],
        "loader": {"memory": {}} }"""
      val whole = s"""{
        "source": {"file": {"path": "$dir/lineitem.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"checksum": {"fields": ["l_orderkey", "l_linenumber", "l_shipdate"]}}],
        "loader": {"memory": {}} }"""
      val tampered = s"""{
        "source": {"file": {"path": "$dir/lineitem.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT l_orderkey, l_linenumber, CASE WHEN l_orderkey = 0 THEN DATE '1901-02-03' ELSE l_shipdate END AS l_shipdate FROM __input"}},
          {"checksum": {"fields": ["l_orderkey", "l_linenumber", "l_shipdate"]}}],
        "loader": {"memory": {}} }"""
      def one(json: String, p: String) = sums(json).select(
        col("n_rows").as(s"${p}_n"), col("xor64").as(s"${p}_x"),
        col("sum_mod").as(s"${p}_s"))
      one(grain, "g").crossJoin(one(whole, "w")).crossJoin(one(tampered, "t"))
        .select(col("w_n").as("n_rows"),
          (col("g_n") === col("w_n") && col("g_x") === col("w_x") &&
            col("g_s") === col("w_s")).as("merge_identity"),
          (col("t_x") =!= col("w_x") || col("t_s") =!= col("w_s"))
            .as("tamper_detected"))
    },
    "kll_rollup" -> { (s, dir) =>
      val c = ctx(s, dir)
      // mergeable QUANTILE sketches (kllsketch/kllmerge — the quantile
      // analogue of hll_rollup): per-returnflag KLL of l_quantity,
      // unioned to the global grain WITHOUT rescanning the raw table.
      // KLL compaction is randomized, so the driver row is the
      // deterministic rank-error VERDICT: each estimated quantile's
      // exact CDF rank (computed by the engine itself from lineitem)
      // must sit within 5% of its target rank (k=200 => ~1.65% of rank
      // at 99% confidence, so 5% is ~3 sigma); n_values is EXACT by
      // construction and must equal the row count.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/lineitem.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"kllsketch": {"field": "l_quantity", "groupBy": "l_returnflag"}},
          {"kllmerge": {"probs": [0.25, 0.5, 0.75]}},
          {"code": {"language": "sql", "code":
            "SELECT i.n_values = count(*) AS n_ok, abs(avg(CASE WHEN l.l_quantity <= i.p25 THEN 1.0 ELSE 0.0 END) - 0.25) <= 0.05 AS p25_ok, abs(avg(CASE WHEN l.l_quantity <= i.p50 THEN 1.0 ELSE 0.0 END) - 0.5) <= 0.05 AS p50_ok, abs(avg(CASE WHEN l.l_quantity <= i.p75 THEN 1.0 ELSE 0.0 END) - 0.75) <= 0.05 AS p75_ok FROM lineitem l CROSS JOIN __input i GROUP BY i.p25, i.p50, i.p75, i.n_values"}}],
        "loader": {"memory": {}} }""")
    },
    "topk_rollup" -> { (s, dir) =>
      val c = ctx(s, dir)
      // mergeable HEAVY-HITTERS sketches in the EXACT regime: item
      // cardinality (5 order priorities) far under maxMapSize means the
      // Misra-Gries map never purges, so the shard-merged counts are
      // exact and HASH-EXACT against a plain GROUP BY oracle — the
      // identity the spec locks, demonstrated on real data.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"topksketch": {"itemField": "o_orderpriority", "groupBy": "o_orderstatus"}},
          {"topkmerge": {}}],
        "loader": {"memory": {}} }""")
        .orderBy(col("est").desc, col("item"))
    },
    "topk_heavy" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the PURGE regime: ~60% of rows collapse to one planted 'hot'
      // item while ~997 cold items churn through an 8-counter sketch.
      // NO_FALSE_NEGATIVES guarantees any item with true count above
      // the deterministic error threshold (~n/6 here) survives every
      // purge and merge — the verdict asserts presence and that the
      // engine's own exact hot count sits inside [lb, ub].
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT CASE WHEN o_orderkey % 10 < 6 THEN 'hot' ELSE concat('cold', CAST(o_orderkey % 997 AS STRING)) END AS item FROM __input"}},
          {"topksketch": {"itemField": "item", "maxMapSize": 8}},
          {"topkmerge": {"maxMapSize": 8}},
          {"code": {"language": "sql", "code":
            "SELECT count(*) AS hot_rows, bool_and(i.lb <= x.n_hot AND x.n_hot <= i.ub) AS bounds_ok FROM __input i CROSS JOIN (SELECT count(*) AS n_hot FROM orders WHERE o_orderkey % 10 < 6) x WHERE i.item = 'hot'"}}],
        "loader": {"memory": {}} }""")
    },
    "c4_clean" -> { (s, dir) =>
      val c = ctx(s, dir)
      // C4 line-level cleaning: six constructed lines per page — a good
      // line, a too-short line, a javascript line, a no-terminal line
      // (with a planted '{' on some pages), the doc text as a line
      // (period withheld on some pages → sentence-count failures), and
      // a lorem-ipsum variant. The oracle rebuilds the page and applies
      // the same rules computationally — no hardcoded row sets.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id, concat_ws('\\n', 'A good first line with enough words to pass.', 'too short.', 'This line mentions JavaScript frameworks and is dropped today.', concat('No terminal punctuation on this line at all', CASE WHEN doc_id % 13 = 7 THEN ' {' ELSE '' END), concat(text, CASE WHEN doc_id % 17 = 11 THEN ' ends here' ELSE ' ends here.' END), CASE WHEN doc_id % 11 = 5 THEN 'Lorem ipsum dolor sit amet today.' ELSE 'A final good sentence with many words indeed!' END) AS text FROM __input"}},
          {"c4filter": {}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "c4_text", "c4_no_lorem", "c4_no_brace",
          "c4_min_sentences", "c4_keep")
        .orderBy("doc_id")
    },
    "normalize_text" -> { (s, dir) =>
      val c = ctx(s, dir)
      // Unicode cleanup: six planted mess variants (combining marks vs
      // precomposed, NBSP, a control char, tab/space runs) prefixed to
      // each doc's text, keyed by doc_id % 6. The \\uXXXX escapes are
      // decoded by the config parser (JSON string escapes), so the SQL
      // literal carries the real code points. The oracle states the
      // expected normalization per variant as a literal — no DuckDB
      // unicode library involved, pure arithmetic ground truth.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id, concat(element_at(array('Cafe\\u0301  MENU', '\\u00c0 la\\u00a0carte', 'nai\\u0308ve\\u0007 bell', 'S\\u00e3o   Paulo', 'Zu\\u0308rich', ' Hello \\t WORLD '), cast(doc_id % 6 as int) + 1), '  ', text) AS raw FROM __input"}},
          {"normalizetext": {"field": "raw", "outputField": "norm",
            "stripAccents": true, "lower": true}},
          {"normalizetext": {"field": "raw", "outputField": "norm_nfc"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "norm", "norm_nfc").orderBy("doc_id")
    },
    "warc_extract" -> { (s, dir) =>
      val c = ctx(s, dir)
      val wd = warcFixture(s, dir)
      // crawl ingestion end-to-end: WARC framing walk → response filter
      // → HTTP payload split → HTML-to-text — the full Common-Crawl-style
      // landing path, every output fact recomputed by the oracle from
      // doc_id arithmetic + the raw text
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$wd"}},
        "extractor": {"warc": {"types": ["response"]}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT cast(regexp_extract(target_uri, '([0-9]+)$$', 1) as bigint) AS doc_id, target_uri, warc_date, http_status, http_content_type, cast(body as string) AS html FROM __input"}},
          {"htmlextract": {"field": "html", "outputField": "extracted"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "target_uri", "warc_date", "http_status",
          "http_content_type", "extracted")
        .orderBy("doc_id")
    },
    "warc_stats" -> { (s, dir) =>
      val c = ctx(s, dir)
      val wd = warcFixture(s, dir)
      // record-level census over ALL record types (no filter): framing
      // arithmetic (Content-Length) per type must match the oracle's
      // recomposition of the exact payload strings
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$wd"}},
        "extractor": {"warc": {}},
        "loader": {"memory": {}} }""")
        .groupBy(col("warc_type"))
        .agg(count(lit(1)).as("n"), sum(col("content_length")).as("total_len"))
        .orderBy("warc_type")
    },
    "html_extract" -> { (s, dir) =>
      val c = ctx(s, dir)
      // HTML-to-text extraction: wrap each document's text in a real
      // HTML page (script/style decoys, quoted '>' in attributes, named
      // + numeric entities, comments), then recover text/title/links
      // with the single-pass parser. The oracle recomputes the expected
      // round trip directly from the raw text.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id, concat('<html><head><title>Doc ', cast(doc_id as string), '</title><style>p { color: red }</style><script>if (1 < 2) { var s = \\"</b>\\"; }</script></head><body data-x=\\"1\\"><h1 class=\\"hd\\">Doc &#', cast(65 + doc_id % 26 as string), ';</h1><a href=\\"https://ex.com/', cast(doc_id as string), '?a=1&amp;b=2\\" title=\\"x>y\\">link</a><p>', replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '</p><!-- hidden --></body></html>') AS html FROM __input"}},
          {"htmlextract": {"field": "html", "outputField": "extracted",
            "titleField": "title", "linksField": "links"}}],
        "loader": {"memory": {}} }""")
        .select(col("doc_id"), col("title"), col("extracted"),
          array_join(col("links"), ",").as("links_str"))
        .orderBy("doc_id")
    },
    "html_markdown" -> { (s, dir) =>
      val c = ctx(s, dir)
      // HTML → Markdown: render a structured page from doc_id
      // arithmetic (heading level cycles 1..3, emphasis, a nested
      // ordered list, a link, head/script decoys) — the oracle writes
      // the EXACT markdown string the emitter must produce
      val page = """concat('<html><head><title>junk</title>""" +
        """<script>var h = \"<h1>fake</h1>\";</script></head><body>""" +
        """<h', cast(1 + doc_id % 3 as string), '>Doc ', cast(doc_id as string), """ +
        """'</h', cast(1 + doc_id % 3 as string), '>""" +
        """<p>para <b>one</b> of ', cast(doc_id as string), '</p>""" +
        """<ul><li>item 0</li><li>item <i>', cast(doc_id % 5 as string), """ +
        """'</i></li><li>outer<ol><li>n1</li><li>n2</li></ol></li></ul>""" +
        """<p>see <a href=\"https://ex.com/', cast(doc_id as string), """ +
        """'\">link ', cast(doc_id as string), '</a></p></body></html>') AS html"""
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id, $page FROM __input"}},
          {"htmlmarkdown": {"field": "html"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "markdown").orderBy("doc_id")
    },
    "html_links" -> { (s, dir) =>
      val c = ctx(s, dir)
      // crawl link-graph extraction: each page gets doc_id % 3 links
      // (href + anchor with an entity and a nested tag); htmllinks
      // explodes to one labeled edge per link, zero-link pages dropped.
      // The oracle regenerates the same edge list from the arithmetic.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id, concat('<html><body><p>Page ', cast(doc_id as string), '</p>', CASE WHEN doc_id % 3 >= 1 THEN concat('<a href=\\"https://s', cast((doc_id*7) % 100 as string), '.ex.com/p', cast(doc_id as string), '-0\\">go &amp; see <b>', cast(doc_id as string), '</b>-0</a>') ELSE '' END, CASE WHEN doc_id % 3 >= 2 THEN concat('<a href=\\"https://s', cast((doc_id*7+1) % 100 as string), '.ex.com/p', cast(doc_id as string), '-1\\">go &amp; see <b>', cast(doc_id as string), '</b>-1</a>') ELSE '' END, '</body></html>') AS html FROM __input"}},
          {"htmllinks": {"field": "html", "posField": "link_pos"}}],
        "loader": {"memory": {}} }""")
        .select(col("doc_id"), col("link_pos"), col("href"), col("anchor"))
        .orderBy("doc_id", "link_pos")
    },
    "html_meta" -> { (s, dir) =>
      val c = ctx(s, dir)
      // page-metadata extraction: planted description (with an entity),
      // og:title, canonical link; every 3rd page omits og:title (null
      // column) — the oracle regenerates the decoded arithmetic
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id, concat('<html><head><meta name=\\"Description\\" content=\\"desc ', cast(doc_id % 9 as string), ' &amp; more\\">', CASE WHEN doc_id % 3 = 0 THEN '' ELSE concat('<meta property=\\"og:title\\" content=\\"T', cast(doc_id % 5 as string), '\\">') END, '<link rel=\\"canonical\\" href=\\"https://c.ex.com/p', cast(doc_id % 50 as string), '\\"></head><body>b</body></html>') AS html FROM __input"}},
          {"htmlmeta": {"keys": ["description", "og:title", "canonical", "robots"]}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "description", "og_title", "canonical", "robots")
        .orderBy("doc_id")
    },
    "canonical_dedup" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the crawler-dedup composition: htmlmeta extracts each page's
      // canonical URL, then exact dedup keeps the FIRST doc per
      // canonical — fetch-URL aliases collapse to one page, which is
      // what rel=canonical exists for. 50 planted canonicals → keepers
      // are doc_id 0..49 by the min-id tie-break (oracle arithmetic).
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id, concat('<html><head><link rel=\\"canonical\\" href=\\"https://c.ex.com/p', cast(doc_id % 50 as string), '\\"></head><body>b</body></html>') AS html FROM __input"}},
          {"htmlmeta": {"keys": ["canonical"]}},
          {"dedup": {"keyFields": ["canonical"],
            "tiebreakField": "doc_id", "keep": "first"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "canonical").orderBy("doc_id")
    },
    "anchor_text" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the web-corpus ANCHOR-TEXT signal, end-to-end: pages carry
      // relative links with anchor text, htmllinks explodes (href,
      // anchor) pairs, urlresolve absolutizes each against its page's
      // base, then one aggregation per TARGET collects in-link count,
      // distinct linking pages, and the sorted anchor bag (joined to a
      // string — list columns crash the driver compare). Oracle
      // regenerates the same arithmetic.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id, concat('https://t', cast(doc_id % 7 as string), '.ex.com/dir/page.html') AS base_url, concat('<html><body><a href=\\"/p', cast(doc_id % 50 as string), '\\">go ', cast(doc_id % 5 as string), '</a></body></html>') AS html FROM __input"}},
          {"htmllinks": {"field": "html"}},
          {"urlresolve": {"baseField": "base_url", "refField": "href",
            "outputField": "target"}},
          {"code": {"language": "sql", "code":
            "SELECT target, count(*) AS n_links, count(DISTINCT doc_id) AS n_sources, array_join(array_sort(collect_list(anchor)), '|') AS anchors FROM __input GROUP BY target"}}],
        "loader": {"memory": {}} }""")
        .orderBy("target")
    },
    "crawl_frontier" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the crawl composition: htmllinks explodes RELATIVE hrefs out of
      // planted pages, urlresolve absolutizes them against each page's
      // base — the frontier list a crawler would enqueue. The oracle
      // regenerates the resolved URLs from the same arithmetic
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id, concat('https://site', cast(doc_id % 7 as string), '.ex.com/a/b/page.html') AS base_url, concat('<html><body>', CASE WHEN doc_id % 3 >= 1 THEN concat('<a href=\\"../up', cast(doc_id as string), '\\">u</a>') ELSE '' END, CASE WHEN doc_id % 3 >= 2 THEN concat('<a href=\\"/r', cast(doc_id as string), '\\">r</a>') ELSE '' END, '</body></html>') AS html FROM __input"}},
          {"htmllinks": {"field": "html", "posField": "link_pos"}},
          {"urlresolve": {"baseField": "base_url", "refField": "href",
            "outputField": "frontier"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "link_pos", "frontier")
        .orderBy("doc_id", "link_pos")
    },
    "html_tables" -> { (s, dir) =>
      val c = ctx(s, dir)
      // structured table extraction: every page carries a header+data
      // table (entities in a header cell, an IMPLICIT final </td>),
      // even pages a second table whose first cell CONTAINS a nested
      // table (depth-1 subset: its text flows into the cell). Cells
      // join to one string (the driver compare chokes on list columns)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id, concat('<html><body><h1>T</h1><table><tr><th>k</th><th>v &amp; w</th></tr><tr><td>a', cast(doc_id % 50 as string), '</td><td>b', cast(doc_id % 7 as string), '</tr></table>', CASE WHEN doc_id % 2 = 0 THEN '<table><tr><td>x<table><tr><td>inner</td></tr></table>y</td><td>z</td></tr></table>' ELSE '' END, '</body></html>') AS html FROM __input"}},
          {"htmltables": {"field": "html"}}],
        "loader": {"memory": {}} }""")
        .select(col("doc_id"), col("table_idx"), col("row_idx"),
          array_join(col("cells"), "|").as("cells_str"))
        .orderBy("doc_id", "table_idx", "row_idx")
    },
    "regex_mask" -> { (s, dir) =>
      val c = ctx(s, dir)
      // PII-style masking pass — regexes restricted to the Java∩RE2
      // subset so the DuckDB oracle applies the identical substitutions
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"regexreplace": {"field": "text",
          "outputField": "masked", "patterns": [
            {"pattern": "\\\\btable\\\\b", "replacement": "<TBL>"},
            {"pattern": "(key|row)", "replacement": "<K>"}]}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "masked").orderBy("doc_id")
    },
    "repetition" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"repetition": {"field": "text"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "rep_top_token_ratio", "rep_distinct_ratio")
        .orderBy("doc_id")
    },
    "ngram_count" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"ngramcount": {"field": "text", "n": 3, "k": 50}}],
        "loader": {"memory": {}} }""")
    },
    "tokenize" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"tokenize": {"field": "text"}}],
        "loader": {"memory": {}} }""")
        .select(col("doc_id"), col("n_ws_tokens").cast("long").as("n_ws_tokens"),
          col("n_bpeish_tokens").cast("long").as("n_bpeish_tokens"))
        .orderBy("doc_id")
    },
    "fingerprint" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"fingerprint": {"field": "text"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "fp_md5").orderBy("doc_id")
    },
    "flatten_nested" -> { (s, dir) =>
      val c = ctx(s, dir)
      // JSON-normalization: parse props, build a nested struct + array,
      // explode the array (with element index), flatten the struct —
      // all pure projections over one scan
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/events.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, named_struct('who', named_struct('uid', user_id), 'what', event_type) AS meta, array(event_id, user_id) AS pair FROM events"}},
          {"flatten": {"explodeField": "pair", "indexField": "pair_idx"}}],
        "loader": {"memory": {}} }""")
        .select(col("event_id"), col("meta_who_uid"), col("meta_what"),
          col("pair_idx").cast("long").as("pair_idx"), col("pair"))
        .orderBy("event_id", "pair_idx")
    },
    "rollup_levels" -> { (s, dir) =>
      val c = ctx(s, dir)
      // hierarchical subtotals in ONE grouping-sets aggregation:
      // (status, priority) detail + per-status + grand total; rolled-up
      // positions emit the '(all)' sentinel (no cross-engine
      // null-ordering trap), gid = grouping bitmask
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT o_orderstatus, o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders"}},
          {"rollup": {"keys": ["o_orderstatus", "o_orderpriority"],
            "aggs": ["count", "sum:cents"]}}],
        "loader": {"memory": {}} }""")
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
    },
    "pivot_wide" -> { (s, dir) =>
      val c = ctx(s, dir)
      // declared-values pivot: per-user event-type counts as columns in
      // ONE conditional aggregation (no plan-time value discovery)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/events.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"pivot": {"groupBy": ["user_id"],
          "pivotColumn": "event_type",
          "values": ["click", "error", "purchase", "signup", "view"]}}],
        "loader": {"memory": {}} }""")
        .orderBy("user_id")
    },
    "expect_rules" -> { (s, dir) =>
      val c = ctx(s, dir)
      // declarative data-quality pass: named thresholded rules over one
      // scan (conditional sums) + a keyed agg for uniqueness; metrics
      // (rows, violations, ratio, passed) hash-match per-rule SQL
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"expect": {"rules": [
          {"name": "custkey_not_null", "check": "not_null", "column": "o_custkey"},
          {"name": "orderkey_unique", "check": "unique", "column": "o_orderkey"},
          {"name": "status_accepted", "check": "accepted",
            "column": "o_orderstatus", "values": ["F", "O", "P"]},
          {"name": "price_positive", "check": "expr",
            "expr": "o_totalprice > 0", "minRatio": 0.99},
          {"name": "custkey_known", "check": "relationship",
            "column": "o_custkey", "refPath": "$dir/customer.parquet",
            "refColumn": "c_custkey"},
          {"name": "custkey_vs_regiondim", "check": "relationship",
            "column": "o_custkey", "refTable": "region",
            "refColumn": "r_regionkey", "minRatio": 0.0}]}}],
        "loader": {"memory": {}} }""")
        .select("rule", "rows", "violations", "ratio", "passed")
        .orderBy("rule")
    },
    "tokeninfo_bigram" -> { (s, dir) =>
      val c = ctx(s, dir)
      // bigram conditional surprise — the integer-exact n-gram-LM
      // perplexity stand-in: bits = floor(log2 cnt(w1.)/cnt(w1 w2)) + 1
      // per bigram occurrence against the corpus's own bigram model
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"tokeninfo": {"idField": "doc_id",
          "field": "text", "n": 2}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "n_info_tokens", "info_bits", "bits_per_token")
        .orderBy("doc_id")
    },
    "perplexity_filter" -> { (s, dir) =>
      val c = ctx(s, dir)
      // bigram CROSS-entropy vs a reference corpus (every 7th doc) —
      // the KenLM/CCNet quality-filter posture: counts from the TARGET
      // model, add-one smoothing over the target vocabulary V for
      // unseen transitions; bits stay pure integers
      // (L(c_pre+V) − L(c_bg+1)), hash-exact vs the mirrored DuckDB
      // arithmetic
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"tokeninfo": {"idField": "doc_id",
          "field": "text", "n": 2,
          "target": "SELECT text FROM documents WHERE doc_id % 7 = 0"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "n_info_tokens", "info_bits", "bits_per_token")
        .orderBy("doc_id")
    },
    "tokeninfo" -> { (s, dir) =>
      val c = ctx(s, dir)
      // corpus self-information score: integer bits per token
      // occurrence (length(bin(N div cnt)) — floor(log2)+1 without
      // libm), per-doc sums hash-exact vs the same integer arithmetic
      // in DuckDB
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"tokeninfo": {"idField": "doc_id",
          "field": "text"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "n_info_tokens", "info_bits", "bits_per_token")
        .orderBy("doc_id")
    },
    "bpe_tokenize" -> { (s, dir) =>
      // VERDICT table for the trained-BPE tokenizer: (a) detokenization
      // is EXACT on every row — tokens concatenate back to the
      // whitespace-normalized text (EOW marker → space); (b) the learned
      // merges actually compress: total subword tokens < total base
      // symbols (chars + one EOW per word); (c) the token vocabulary is
      // bounded by |distinct chars| + numMerges + 1 (each merge adds at
      // most one symbol); (d) two independent runs (fresh training
      // included) produce identical totals — training determinism.
      def run() = Engine.runJson(ctx(s, dir), s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"bpe": {"field": "text", "numMerges": 120,
          "trainRows": 256}}],
        "loader": {"memory": {}} }""")
      val a = run()
      val eow = graft.functions.Bpe.EOW
      val normText = trim(regexp_replace(col("text"), "\\s+", " "))
      val detok = trim(translate(array_join(col("bpe_tokens"), ""), eow, " "))
      val baseSymbols = length(regexp_replace(col("text"), "\\s+", "")) +
        size(split(trim(col("text")), "\\s+"))
      val perRow = a.where(col("text").isNotNull).select(
        when(detok === normText, 0).otherwise(1).as("rtbad"),
        col("n_bpe_tokens").cast("long").as("nt"),
        baseSymbols.cast("long").as("nb"))
        .agg(sum("rtbad").as("bad"), sum("nt").as("toks"), sum("nb").as("base"))
      val vocab = a.select(explode(col("bpe_tokens")).as("tok"))
        .agg(countDistinct("tok").as("v"))
      val chars = a.select(explode(split(regexp_replace(col("text"), "\\s+", ""), ""))
        .as("ch")).where(col("ch") =!= "").agg(countDistinct("ch").as("c"))
      val totals2 = run().agg(sum(col("n_bpe_tokens").cast("long")).as("toks2"))
      val verdict = perRow.crossJoin(vocab).crossJoin(chars).crossJoin(totals2)
        .select(explode(array(
          struct(lit("roundtrip_exact").as("metric"), (col("bad") === 0L).as("pass")),
          struct(lit("compresses").as("metric"), (col("toks") < col("base")).as("pass")),
          struct(lit("vocab_bounded").as("metric"),
            (col("v") <= col("c") + lit(121L)).as("pass")),
          struct(lit("deterministic").as("metric"), (col("toks") === col("toks2")).as("pass")))))
        .select("col.*").orderBy("metric")
      verdict
    },
    "decontaminate" -> { (s, dir) =>
      val c = ctx(s, dir)
      // eval-overlap removal: docs < 20 act as the benchmark set; any
      // corpus doc sharing a 5-gram with them is dropped (catches the
      // planted near-dups of the eval docs)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command": "SELECT * FROM input WHERE doc_id >= 20"}},
          {"decontaminate": {"idField": "doc_id", "field": "text",
            "shingleSize": 5,
            "against": "SELECT text FROM documents WHERE doc_id < 20"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "n_chars").orderBy("doc_id")
    },
    "neardup_dedup" -> { (s, dir) =>
      val c = ctx(s, dir)
      // keep-one near-dup dedup via connected components; exact-pair mode
      // (oracle-checkable — DuckDB recursive-CTE transitive closure)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command": "SELECT * FROM input WHERE doc_id < 250"}},
          {"neardupdedup": {"idField": "doc_id", "field": "text",
            "mode": "exact", "shingleSize": 3, "threshold": 0.5}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")
    },
    "neardup_keepbest" -> { (s, dir) =>
      val c = ctx(s, dir)
      // quality-aware canonical selection: the HIGHEST-n_chars member
      // of each near-dup component survives (smallest id on ties) —
      // the RefinedWeb keep-the-best-copy posture. Oracle: the same
      // recursive transitive closure, keeper = no reachable member
      // with a better (score, id) key.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command": "SELECT * FROM input WHERE doc_id < 250"}},
          {"neardupdedup": {"idField": "doc_id", "field": "text",
            "mode": "exact", "shingleSize": 3, "threshold": 0.5,
            "scoreField": "n_chars"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")
    },
    "neardup_dedup_lsh" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the scale path: banded-LSH pairs feed the same component pass.
      // Oracle = the exact transitive-closure keeper set (DuckDB
      // recursive CTE over the full table): LSH pair recall at the
      // fixture's similarity level is 1.0 (sf0.01: exact and LSH both
      // yield the same 25 pairs / 476 keepers), so keepers coincide.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"neardupdedup": {"idField": "doc_id",
          "field": "text", "shingleSize": 3, "numHashes": 64, "bands": 16,
          "threshold": 0.5}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "n_chars").orderBy("doc_id")
    },
    "substring_spans" -> { (s, dir) =>
      val c = ctx(s, dir)
      // exact duplicated-substring spans (Lee et al. 2022 family),
      // gram-granular distributed form — per-doc span stats
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"substringspans": {"idField": "doc_id",
          "field": "text", "gram": 4, "mode": "stats"}}],
        "loader": {"memory": {}} }""")
        .select(col("doc_id"), col("ss_spans").cast("long").as("ss_spans"),
          col("ss_dup_words").cast("long").as("ss_dup_words"),
          col("ss_max_span").cast("long").as("ss_max_span"))
        .orderBy("doc_id")
    },
    "substring_strip" -> { (s, dir) =>
      val c = ctx(s, dir)
      // strip mode: every word covered by a cross-document duplicated
      // span is removed (C4-style aggressive removal, both copies)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"substringspans": {"idField": "doc_id",
          "field": "text", "gram": 4, "mode": "strip"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "text").orderBy("doc_id")
    },
    "ngram_jaccard" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command": "SELECT * FROM input WHERE doc_id < 60"}},
          {"ngramjaccard": {"idField": "doc_id", "field": "text",
                            "shingleSize": 3, "threshold": 0.015}}],
        "loader": {"memory": {}} }""").orderBy("a", "b")
    },
    "containment_pairs" -> { (s, dir) =>
      val c = ctx(s, dir)
      // MAX-containment pairs: every third doc gets a planted 12-word
      // PREFIX twin whose shingles are a strict subset — containment
      // scores the quote/subset relation 1.0 where jaccard dilutes it
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT doc_id, text FROM input WHERE doc_id < 40 UNION ALL SELECT doc_id + 100000, array_join(slice(filter(split(trim(text), ' '), x -> x != ''), 1, 12), ' ') FROM input WHERE doc_id < 40 AND doc_id % 3 = 0"}},
          {"ngramjaccard": {"idField": "doc_id", "field": "text",
            "shingleSize": 3, "metric": "containment",
            "threshold": 0.6}}],
        "loader": {"memory": {}} }""").orderBy("a", "b")
    },
    "minhash_pairs" -> { (s, dir) =>
      val c = ctx(s, dir)
      // banded LSH candidates + exact verify. The oracle is the EXACT
      // jaccard pair set: every output pair is exact-verified (subset of
      // the oracle by construction), and 64-hash/16-band LSH recall at
      // the fixture's pair-similarity level is 1.0 (verified empirically
      // at sf0.01: both sides = 25 pairs), so the sets coincide.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"minhash": {"idField": "doc_id", "field": "text",
          "shingleSize": 3, "numHashes": 64, "bands": 16, "threshold": 0.2}}],
        "loader": {"memory": {}} }""").orderBy("a", "b")
    },
    "simhash_pairs" -> { (s, dir) =>
      val c = ctx(s, dir)
      // xxhash64-based signatures aren't DuckDB-expressible, so the
      // driver row is a deterministic VERDICT table instead of raw
      // pairs: the native Catalyst SimHash64 must equal the HOF
      // reference form on every document, every emitted pair must
      // respect maxDistance, and the pair set must be non-empty. Each
      // check is computed in Spark; the oracle is the constant
      // expected-verdict table.
      val pairs = Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"simhash": {"idField": "doc_id", "field": "text",
                                      "maxDistance": 7}}],
        "loader": {"memory": {}} }""")
      val sigDiff = c.table("documents").select(
          graft.functions.VectorExpressions.simHash64(col("text")).as("__n"),
          graft.dedup.DedupStages.simhash64(col("text")).as("__h"))
        .agg((sum(when(col("__n") =!= col("__h"), 1L).otherwise(0L)) === 0L).as("pass"))
        .select(lit("native_equals_hof_sigs").as("metric"), col("pass"))
      val within = pairs
        .agg((sum(when(col("hamming") > 7, 1L).otherwise(0L)) === 0L).as("pass"))
        .select(lit("all_pairs_within_maxdist").as("metric"), col("pass"))
      val nonEmpty = pairs.agg((count(lit(1)) > 0L).as("pass"))
        .select(lit("pairs_found").as("metric"), col("pass"))
      sigDiff.unionByName(within).unionByName(nonEmpty).orderBy("metric")
    },
    "similarity_topk" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/embeddings.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"similarity": {"idField": "vec_id",
          "field": "embedding", "k": 5, "queryFilter": "vec_id < 20"}}],
        "loader": {"memory": {}} }""")
        .select("q_id", "n_id", "rank").orderBy("q_id", "rank")
    },
    "similarity_cross" -> { (s, dir) =>
      val c = ctx(s, dir)
      // CROSS-TABLE brute-force ANN: fresh queries (one table) search a
      // reference corpus (another) — self-exclusion off because the id
      // namespaces differ. Query and base sides here are disjoint
      // slices of embeddings, so the oracle is a plain windowed top-k.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/embeddings.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT vec_id, embedding FROM input WHERE vec_id >= 50"}},
          {"similarity": {"idField": "vec_id", "field": "embedding",
            "k": 5, "queryTable":
            "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10"}}],
        "loader": {"memory": {}} }""")
        .select("q_id", "n_id", "rank").orderBy("q_id", "rank")
    },
    "similarity_lsh" -> { (s, dir) =>
      // recall < 1 by design, so the driver row is a deterministic
      // VERDICT table: recall@5 of the SRP-LSH path vs the brute-force
      // exact path (both computed in Spark, both deterministic) must
      // clear a floor with margin ([[recalls]]). Oracle = the constant
      // expected-verdict table.
      recallVerdict("similarity_lsh", s, dir)()
    },
    "similarity_ivf" -> { (s, dir) =>
      // same verdict contract as similarity_lsh
      recallVerdict("similarity_ivf", s, dir)()
    },
    "similarity_ivfpq" -> { (s, dir) =>
      // same verdict contract as similarity_lsh, for IVF-PQ
      recallVerdict("similarity_ivfpq", s, dir)()
    },
    "similarity_ivf_cross" -> { (s, dir) =>
      // CROSS-TABLE IVF: the no-broadcast migration the brute
      // `similarity` stage's size guard names — fresh queries probe a
      // frozen index on a linear cell equi-join (neither side
      // broadcasts; base rows carry one argmax cell, queries explode
      // to nProbe probed cells). Exact side = the brute queryTable
      // path over the same slices; verdict contract as similarity_ivf.
      recallVerdict("similarity_ivf_cross", s, dir)()
    },
    "rand_project" -> { (s, dir) =>
      val c = ctx(s, dir)
      // JL sign-projection dim reduction: deterministic integer
      // arithmetic end-to-end (signs from a quadratic-residue parity,
      // inputs quantized to longs), so the projection is hash-exact —
      // no parallel float-sum nondeterminism. Long-format output.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/embeddings.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"randproject": {"field": "embedding", "outDim": 8}}],
        "loader": {"memory": {}} }""")
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "y")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("y"))
        .orderBy("vec_id", "j")
    },
    "table_diff" -> { (s, dir) =>
      val c = ctx(s, dir)
      // snapshot diff vs the customer baseline: %13 keys removed, %7
      // acctbal bumped, %11 segment moved (both => two changed_cols),
      // five synthetic keys added — one full outer join, per-column
      // null-safe compares, no whole-row hashing
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT c_custkey, c_name, CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal, CASE WHEN c_custkey % 11 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment FROM __input WHERE c_custkey % 13 != 0 UNION ALL SELECT 900000 + r_regionkey, 'NEW', 0.0, 'NEW' FROM region"}},
          {"tablediff": {"baseline": "$dir/customer.parquet",
            "key": "c_custkey"}}],
        "loader": {"memory": {}} }""")
        .orderBy("c_custkey")
    },
    "quantize_embed" -> { (s, dir) =>
      // VERDICT table for int8 scalar quantization: (a) every
      // dequantized element is within scale/2 of the original (the
      // round() bound, asserted not assumed); (b) q stays in the
      // symmetric [-127, 127] range; (c) brute-force top-5 over the
      // quantize->dequantize round-trip keeps recall >= 0.9 vs the
      // float-exact top-5 (cosine is scale-invariant, so only rounding
      // noise can flip a neighbour). Oracle = constant expected table.
      // Recall is measured on a bounded probe panel ([[recalls]]); the
      // error-bound and range checks still scan ALL rows.
      val checks = embeddings(s, dir,
          """{"quantize": {"field": "embedding", "keepOriginal": true}}""").select(
          when(array_max(zip_with(col("embedding"), col("embedding_q8"),
              (a, b) => abs(a.cast("double") - b.cast("double") * col("embedding_scale"))))
              <= col("embedding_scale") * 0.5 + 1e-12, 0).otherwise(1).as("errbad"),
          when(array_max(transform(col("embedding_q8"),
              q => abs(q.cast("int")))) <= 127, 0).otherwise(1).as("rngbad"))
        .agg(sum("errbad").as("eb"), sum("rngbad").as("rb"))
        .select(explode(array(
          struct(lit("max_err_le_half_scale").as("metric"), (col("eb") === 0L).as("pass")),
          struct(lit("q_range_symmetric").as("metric"), (col("rb") === 0L).as("pass")))))
        .select("col.*")
      recallVerdict("quantize_embed", s, dir)((_, _) => Seq(checks))
    },
    "cosine_dup" -> { (s, dir) =>
      // VERDICT table: the SRP-bucketed pair set must be a SUBSET of the
      // exact pair set (the LSH path exact-verifies candidates, so false
      // positives are structurally impossible — asserted, not assumed)
      // and recall must clear a floor with margin ([[recalls]]). Oracle =
      // the constant expected-verdict table.
      recallVerdict("cosine_dup", s, dir)(noFalsePositives)
    },
    "kmeans_cluster" -> { (s, dir) =>
      // VERDICT table for the spherical k-means stage: every vector
      // assigned, cell count in (2, k], and the Lloyd's-trained codebook
      // must fit the data at least as well as the untrained
      // first-k-of-sample init (measured mean cosine-to-centroid gain
      // +0.06 sf0.01 / +0.02 sf0.1 — the epsilon only absorbs float
      // noise). Oracle = the constant expected-verdict table.
      def assign(iters: Int) = Engine.runJson(ctx(s, dir), s"""{
        "source": {"file": {"path": "$dir/embeddings.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"kmeans": {"idField": "vec_id",
          "field": "embedding", "k": 8, "lloydIters": $iters}}],
        "loader": {"memory": {}} }""")
      val trained = assign(5)
      val assignedAll = trained
        .agg((count(when(col("cluster").isNull, 1)) === 0L).as("pass"))
        .select(lit("all_assigned").as("metric"), col("pass"))
      val cells = trained.agg(countDistinct("cluster").as("__k"))
        .select(lit("cells_bounded").as("metric"),
          (col("__k") > 1L && col("__k") <= 8L).as("pass"))
      val gain = trained.agg(avg("centroid_sim").as("__t"))
        .crossJoin(assign(0).agg(avg("centroid_sim").as("__i")))
        .select(lit("trained_improves").as("metric"),
          (col("__t") >= col("__i") - lit(1e-9)).as("pass"))
      val nonEmpty = trained.agg((count(lit(1)) > 0L).as("pass"))
        .select(lit("results_nonempty").as("metric"), col("pass"))
      assignedAll.unionByName(cells).unionByName(gain).unionByName(nonEmpty)
        .orderBy("metric")
    },
    "semantic_dedup" -> { (s, dir) =>
      // VERDICT table for cluster-bucketed near-dup (SemDeDup recipe +
      // IVF-style multi-probe): within-cell pairs are exact-verified so
      // false positives are structurally impossible (asserted), and
      // multi-probe recall vs the all-pairs baseline must clear 0.8
      // ([[recalls]])
      recallVerdict("semantic_dedup", s, dir)(noFalsePositives)
    },
    "cosine_dup_exact" -> { (s, dir) =>
      val c = ctx(s, dir)
      // brute-force all-pairs baseline (`exact: true`) — the oracle-
      // checkable reference the LSH path's recall is measured against
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/embeddings.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"cosinedup": {"idField": "vec_id",
          "field": "embedding", "threshold": 0.4, "exact": true}}],
        "loader": {"memory": {}} }""")
        .select("a", "b").orderBy("a", "b")
    },
    // The mm_* queries decode REAL image bytes (PNG/JPEG/BMP/GIF written
    // by MediaFixtures with dimensions that are pure arithmetic in the
    // doc id) — the oracle recomputes the arithmetic; the engine must
    // recover it from the payload via javax.imageio.
    "mm_decode" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/media_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT * FROM __input WHERE media_type <> 'image/gif'"}},
          {"mm_decode": {"idField": "media_id"}}],
        "loader": {"memory": {}} }""")
        .select("media_id", "width", "height", "channels", "n_frames")
        .orderBy("media_id")
    },
    "mm_exif" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // pure-byte EXIF walk over the mixed-format media fixture: only
      // the JPEGs carry an APP1 (skip-mode drops the rest); orientation
      // / make / model are planted doc_id arithmetic the oracle
      // recomputes without any decoder
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/media_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"mm_exif": {"idField": "media_id"}}],
        "loader": {"memory": {}} }""")
        .select("media_id", "orientation", "exif_make", "exif_model")
        .orderBy("media_id")
    },
    "mm_frames" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // animated GIFs: the decoder reads the REAL frame count from the
      // bytes; mm_frames explodes every second frame index
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/media_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT * FROM __input WHERE media_type = 'image/gif'"}},
          {"mm_decode": {"idField": "media_id"}},
          {"mm_frames": {"step": 2}}],
        "loader": {"memory": {}} }""")
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"))
        .orderBy("media_id", "frame_idx")
    },
    "mm_resize" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // REAL pixel resample into a 24x24 box, then a second real decode
      // OF THE RESAMPLED BYTES — width/height/channels below are
      // measured from the output image, not carried metadata
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/media_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT * FROM __input WHERE media_type <> 'image/gif'"}},
          {"mm_resize": {"resample": true, "idField": "media_id",
                         "maxWidth": 24, "maxHeight": 24}},
          {"mm_decode": {"idField": "media_id", "payloadField": "out_payload"}}],
        "loader": {"memory": {}} }""")
        .select("media_id", "width", "height", "channels")
        .orderBy("media_id")
    },
    "mm_video" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // real MP4 container metadata: width/height (tkhd 16.16 fixed),
      // timescale/duration (mvhd), n_frames (stsz sample count) — all
      // recovered by pure-byte box parsing of REAL container bytes; the
      // oracle recomputes the fixture's doc_id arithmetic
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/video_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"mm_video": {"idField": "media_id"}}],
        "loader": {"memory": {}} }""")
        .select("media_id", "width", "height", "n_frames", "timescale", "duration")
        .orderBy("media_id")
    },
    "mm_audio" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // real WAV header decode: sample rate / channels / sample count
      // recovered from the BYTES; the oracle recomputes the fixture's
      // doc_id arithmetic
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/audio_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"mm_audio": {"idField": "media_id"}}],
        "loader": {"memory": {}} }""")
        .select("media_id", "sample_rate", "channels", "n_samples")
        .orderBy("media_id")
    },
    "mm_audio_compressed" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // REAL MP3 / ADTS-AAC frame-header walks: sample rate, channels,
      // and frame-accurate sample count recovered from the compressed
      // framing itself (ID3v2/v1 tags skipped, per-frame padding and
      // variable 13-bit ADTS lengths honored); the oracle recomputes
      // the fixture's doc_id arithmetic
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/ca_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"mm_audio": {"idField": "media_id"}}],
        "loader": {"memory": {}} }""")
        .select("media_id", "sample_rate", "channels", "n_samples")
        .orderBy("media_id")
    },
    "mm_id3" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // REAL ID3v2 text-frame walk (v2.3 plain + v2.4 syncsafe/UTF-8,
      // trailing tag padding): title/artist/album are doc_id arithmetic
      // the oracle recomputes; untagged payloads (odd ids, ADTS) keep a
      // null row via onMissing, absent TALB frames are null
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/ca_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"mm_id3": {"idField": "media_id",
          "onMissing": "null"}}],
        "loader": {"memory": {}} }""")
        .select("media_id", "title", "artist", "album")
        .orderBy("media_id")
    },
    "pdf_extract" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // REAL PDF text extraction: xref/page-tree walk, Flate + raw +
      // hex-string content streams, Tj/TJ/'/quote show operators — the
      // per-page text is doc_id arithmetic the oracle recomputes, the
      // engine must recover it from the bytes (three builder variants
      // rotate the parser paths; identical text)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/pdf_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"pdfextract": {"idField": "media_id"}}],
        "loader": {"memory": {}} }""")
        .select("media_id", "page", "n_pages", "text")
        .orderBy("media_id", "page")
    },
    "zip_extract" -> { (s, dir) =>
      val c = ctx(s, dir); val zd = zipFixture(s, dir)
      // EOCD + central-directory walk over archives a SECOND writer
      // (java.util.zip) produced: framing-exact sizes, stored + deflate
      // members, CRC verified in-engine, directory entries skipped, and
      // the body round-trips to the original document text byte-exactly
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$zd"}},
        "extractor": {"zip": {}},
        "transformers": [{"code": {"language": "sql", "code":
          "SELECT cast(regexp_extract(member, '([0-9]+)', 1) as bigint) AS doc_id, member, size, method, cast(body as string) AS text FROM __input"}}],
        "loader": {"memory": {}} }""")
        .orderBy("doc_id")
    },
    "geo_join" -> { (s, dir) =>
      val c = ctx(s, dir)
      // radius join via cell banding (the minhash recipe applied to
      // space): customers vs suppliers planted on a 0.1 deg x 0.1 deg
      // micro-degree grid by key arithmetic; cell edge = radius, right
      // side 9-replicated, exact integer dist2 filter — the oracle
      // recomputes the full cross join, the engine must never run one
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT c_custkey AS id, (c_custkey * 37) % 100000 AS lat, (c_custkey * 73) % 100000 AS lon FROM __input"}},
          {"geojoin": {"right":
            "SELECT s_suppkey AS sid, (s_suppkey * 41) % 100000 AS lat, (s_suppkey * 79) % 100000 AS lon FROM supplier",
            "radius": 5000}}],
        "loader": {"memory": {}} }""")
        .select("id", "r_sid", "dist2").orderBy("id", "r_sid")
    },
    "zip_export" -> { (s, dir) =>
      val c = ctx(s, dir)
      // loader→extractor roundtrip across TWO implementations: the
      // java.util.zip writer produces the shards, our own
      // central-directory walk (CRC-verified) reads them back
      val out = scratch("zip_out", dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"code": {"language": "sql", "code":
          "SELECT concat('doc/', cast(doc_id as string), '.txt') AS member, cast(text as binary) AS body FROM __input"}}],
        "loader": {"zip": {"path": "$out"}} }""")
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$out"}},
        "extractor": {"zip": {}},
        "transformers": [{"code": {"language": "sql", "code":
          "SELECT cast(regexp_extract(member, '([0-9]+)', 1) as bigint) AS doc_id, member, size, method, cast(body as string) AS text FROM __input"}}],
        "loader": {"memory": {}} }""")
        .orderBy("doc_id")
    },
    "tar_export" -> { (s, dir) =>
      val c = ctx(s, dir)
      // loader→extractor roundtrip (the WebDataset shard shape):
      // export documents as gzipped ustar shards (rolling per
      // partition, executor-side), read them back with the tar
      // extractor — member/size/mtime/body must match the source
      val out = scratch("tar_out", dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"code": {"language": "sql", "code":
          "SELECT concat('doc/', cast(doc_id as string), '.txt') AS member, cast(text as binary) AS body, 1400000000 + doc_id AS mtime FROM __input"}}],
        "loader": {"tar": {"path": "$out", "gzip": true, "mtimeField": "mtime"}} }""")
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$out"}},
        "extractor": {"tar": {}},
        "transformers": [{"code": {"language": "sql", "code":
          "SELECT cast(regexp_extract(member, '([0-9]+)', 1) as bigint) AS doc_id, member, size, mtime, cast(body as string) AS text FROM __input"}}],
        "loader": {"memory": {}} }""")
        .orderBy("doc_id")
    },
    "mbox_extract" -> { (s, dir) =>
      val c = ctx(s, dir); val mb = mboxFixture(s, dir)
      // REAL mail-archive parsing: From_-line framing, mboxrd
      // unquoting, folded case-insensitive headers, RFC 2047 Q-encoded
      // subjects, quoted-printable soft breaks, MIME base64, and the
      // multipart text/plain-over-html preference — every decoded
      // field is doc arithmetic the oracle recomputes
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$mb"}},
        "extractor": {"mbox": {}},
        "transformers": [{"code": {"language": "sql", "code":
          "SELECT cast(regexp_extract(message_id, 'm([0-9]+)@', 1) as bigint) AS doc_id, subject, from_addr, content_type, text FROM __input"}}],
        "loader": {"memory": {}} }""")
        .orderBy("doc_id")
    },
    "eml_extract" -> { (s, dir) =>
      val c = ctx(s, dir); val ed = emlFixture(s, dir)
      // bare RFC 5322 message files (no mbox envelope): the B-encoded
      // subject and quoted-printable body decode to doc arithmetic
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$ed"}},
        "extractor": {"eml": {"glob": "*.eml"}},
        "transformers": [{"code": {"language": "sql", "code":
          "SELECT cast(regexp_extract(message_id, 'e([0-9]+)@', 1) as bigint) AS doc_id, subject, text FROM __input"}}],
        "loader": {"memory": {}} }""")
        .orderBy("doc_id")
    },
    "mail_threads" -> { (s, dir) =>
      val c = ctx(s, dir); val mb = mboxFixture(s, dir)
      // thread reconstruction = the mail + graph families COMPOSING:
      // In-Reply-To headers become parent→child edges, toposort layers
      // the reply DAG — layer IS the thread depth (planted chains of
      // four, depth = doc_id % 4); a lone root at the corpus tail
      // (maxId % 4 == 0) would be edge-less and excluded by both sides
      Engine.runJson(c, s"""{
        "begin": [{"console": {"commands": [
          "CREATE OR REPLACE TEMPORARY VIEW mail_ids AS SELECT '<m' || CAST(doc_id AS STRING) || '@example.com>' AS vid FROM documents"]}}],
        "source": {"file": {"path": "$mb"}},
        "extractor": {"mbox": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT in_reply_to AS src_id, message_id AS dst_id FROM __input WHERE in_reply_to IS NOT NULL"}},
          {"vertex": {"class": "msg", "idField": "src_id"}},
          {"edge": {"joinFieldName": "dst_id", "lookup": "mail_ids.vid",
                    "class": "reply", "direction": "out"}},
          {"toposort": {"maxIter": 10}}],
        "loader": {"memory": {}} }""")
        .select(col("id"), col("layer"))
        .orderBy("id")
    },
    "decode_text" -> { (s, dir) =>
      val c = ctx(s, dir)
      // charset detection on REAL bytes Spark itself encoded: five
      // per-doc classes — plain UTF-8 (with a non-ASCII é so UTF-8
      // validity is non-trivial), BOM'd UTF-8, BOM'd UTF-16LE/BE, and
      // a latin-1 legacy page whose é byte is INVALID UTF-8, routed by
      // the strict validator to the windows-1252 fallback; the oracle
      // recomputes charset label + decoded text by doc arithmetic
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id, CASE cast(doc_id % 5 as int) WHEN 0 THEN encode(concat('Doc ', cast(doc_id as string), ' café end'), 'UTF-8') WHEN 1 THEN concat(unhex('EFBBBF'), encode(concat('Doc ', cast(doc_id as string), ' café end'), 'UTF-8')) WHEN 2 THEN concat(unhex('FFFE'), encode(concat('Doc ', cast(doc_id as string), ' café end'), 'UTF-16LE')) WHEN 3 THEN concat(unhex('FEFF'), encode(concat('Doc ', cast(doc_id as string), ' café end'), 'UTF-16BE')) ELSE encode(concat('Doc ', cast(doc_id as string), ' café end'), 'ISO-8859-1') END AS body FROM __input"}},
          {"decodetext": {}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "charset", "text")
        .orderBy("doc_id")
    },
    "wds_samples" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the WebDataset READ convention composes from existing pieces:
      // shards carry member PAIRS keyed by basename (<id>.txt payload +
      // <id>.cls label — the image/caption/label pairing of multimodal
      // training shards); the tar extractor explodes members, one
      // hash-agg regroups one row per SAMPLE with typed fields
      val out = scratch("wds_out", dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"code": {"language": "sql", "code":
          "SELECT concat('s/', cast(doc_id as string), '.txt') AS member, cast(text as binary) AS body FROM __input UNION ALL SELECT concat('s/', cast(doc_id as string), '.cls'), cast(concat('c', cast(doc_id % 10 as string)) as binary) FROM __input"}}],
        "loader": {"tar": {"path": "$out"}} }""")
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$out"}},
        "extractor": {"tar": {}},
        "transformers": [{"code": {"language": "sql", "code":
          "SELECT cast(regexp_extract(member, 's/([0-9]+)', 1) as bigint) AS doc_id, max(CASE WHEN member LIKE '%.txt' THEN cast(body as string) END) AS text, max(CASE WHEN member LIKE '%.cls' THEN cast(body as string) END) AS cls FROM __input GROUP BY 1"}}],
        "loader": {"memory": {}} }""")
        .orderBy("doc_id")
    },
    "geo_density" -> { (s, dir) =>
      val c = ctx(s, dir)
      // cell-binned density rollup (the binning half of geojoin on its
      // own): points planted with NEGATIVE lons so the floor-div cell
      // arithmetic is exercised across the origin on the driver gate —
      // the oracle mirrors the exact pmod-then-divide integer spelling
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT c_custkey, (c_custkey * 37) % 100000 AS lat, (c_custkey * 73) % 100000 - 50000 AS lon FROM __input"}},
          {"geocell": {"cellMicroDeg": 10000}},
          {"code": {"language": "sql", "code":
            "SELECT cell_y, cell_x, count(*) AS n, sum(c_custkey) AS key_sum FROM __input GROUP BY 1, 2"}}],
        "loader": {"memory": {}} }""")
        .orderBy("cell_y", "cell_x")
    },
    "geo_cluster" -> { (s, dir) =>
      val c = ctx(s, dir)
      // spatial clustering = the geo + graph families COMPOSING:
      // geojoin self-pairs feed connected components. 100 planted
      // cliques on a 10x10 center grid (intra-cluster extent <= 550
      // µdeg, spacing 10000, radius 1000) — every cluster is one
      // complete component with no cross edges; component label = the
      // zero-padded min point id, which the oracle recomputes as a
      // window min over the planted cluster key
      Engine.runJson(c, s"""{
        "begin": [{"console": {"commands": [
          "CREATE OR REPLACE TEMPORARY VIEW geo_pts AS SELECT 'p' || lpad(CAST(c_custkey AS STRING), 6, '0') AS pid FROM customer"]}}],
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT 'p' || lpad(CAST(c_custkey AS STRING), 6, '0') AS pid, c_custkey AS ck, (c_custkey % 100) % 10 * 10000 + ((c_custkey div 100) % 7) * 50 AS lat, (c_custkey % 100) div 10 * 10000 + ((c_custkey div 100) % 11) * 50 AS lon FROM __input"}},
          {"geojoin": {"right":
            "SELECT 'p' || lpad(CAST(c_custkey AS STRING), 6, '0') AS rpid, c_custkey AS rck, (c_custkey % 100) % 10 * 10000 + ((c_custkey div 100) % 7) * 50 AS lat, (c_custkey % 100) div 10 * 10000 + ((c_custkey div 100) % 11) * 50 AS lon FROM customer",
            "radius": 1000}},
          {"code": {"language": "sql", "code":
            "SELECT pid, r_rpid FROM __input WHERE ck < r_rck"}},
          {"vertex": {"class": "pt", "idField": "pid"}},
          {"edge": {"joinFieldName": "r_rpid", "lookup": "geo_pts.pid",
                    "class": "near", "direction": "out"}},
          {"connectedcomponents": {}}],
        "loader": {"memory": {}} }""")
        .orderBy("id")
    },
    "tar_extract" -> { (s, dir) =>
      val c = ctx(s, dir); val td = tarFixture(s, dir)
      // POSIX ustar block walk (header checksum verified on every
      // entry) over a mixed plain/.tar.gz shard set — gzip detected by
      // magic, directory entries skipped, member body/size/mtime must
      // round-trip the planted doc arithmetic byte-exactly
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$td"}},
        "extractor": {"tar": {}},
        "transformers": [{"code": {"language": "sql", "code":
          "SELECT cast(regexp_extract(member, '([0-9]+)', 1) as bigint) AS doc_id, member, size, mtime, cast(body as string) AS text FROM __input"}}],
        "loader": {"memory": {}} }""")
        .orderBy("doc_id")
    },
    "script_mix" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // Unicode-script classification of REAL code points (incl. the
      // supplementary-aware walk): dominant script + exact letter share
      // — the planted counts are doc_id arithmetic for the oracle
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/scriptmix_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"scriptmix": {"field": "text"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "n_letters", "top_script", "top_ratio")
        .orderBy("doc_id")
    },
    "latex_strip" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // TeX cleanup over the planted article skeleton: comments, math,
      // the figure float (incl. its caption), cite/includegraphics all
      // drop; title/section/textbf keep their text; 100\% restores the
      // literal percent — the oracle recomputes the expected string
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/latex_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"latexstrip": {"field": "tex"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "text")
        .orderBy("doc_id")
    },
    "markdown_strip" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // Markdown cleanup over the planted README skeleton: every
      // marker family drops, prose/code content and the intraword
      // underscore survive — the oracle recomputes the expected string
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/markdown_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"markdownstrip": {"field": "md"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "text")
        .orderBy("doc_id")
    },
    "epub_extract" -> { (s, dir) =>
      val c = ctx(s, dir); val ed = epubFixture(s, dir)
      // the document-format family COMPOSES: EPUB = the zip extractor
      // (memberGlob pre-filter, CRC verify, stored mimetype + deflated
      // chapters) feeding the single-pass htmlextract — book corpora
      // land in the text pipeline with zero new operators
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$ed"}},
        "extractor": {"zip": {"glob": "*.epub", "memberGlob": "OEBPS/*.xhtml"}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT cast(regexp_extract(zip_file, 'doc([0-9]+)', 1) as bigint) AS doc_id, cast(regexp_extract(member, 'ch([0-9]+)', 1) as int) AS chapter, cast(body as string) AS html FROM __input"}},
          {"htmlextract": {"field": "html", "outputField": "text"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "chapter", "text")
        .orderBy("doc_id", "chapter")
    },
    "odt_extract" -> { (s, dir) =>
      val c = ctx(s, dir); val od = odtFixture(s, dir)
      // the office family composes like EPUB did: ODT = the zip
      // extractor (CRC-verified content.xml behind the memberGlob)
      // feeding htmlextract — OpenDocument lands in the text pipeline
      // with zero new operators
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$od"}},
        "extractor": {"zip": {"glob": "*.odt", "memberGlob": "content.xml"}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT cast(regexp_extract(zip_file, 'doc([0-9]+)', 1) as bigint) AS doc_id, cast(body as string) AS html FROM __input"}},
          {"htmlextract": {"field": "html", "outputField": "text"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "text")
        .orderBy("doc_id")
    },
    "docx_extract" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // REAL DOCX extraction: the Zip central-directory walk slices
      // word/document.xml (CRC-verified), the WordprocessingML scan
      // recovers runs/paragraphs/tabs/entities — text is doc_id
      // arithmetic the oracle recomputes
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/docx_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"docxextract": {"idField": "media_id"}}],
        "loader": {"memory": {}} }""")
        .select("media_id", "n_paragraphs", "text")
        .orderBy("media_id")
    },
    "rtf_extract" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // REAL RTF extraction: control-word scan drops the fonttbl/
      // colortbl/info/\*generator header, restores \'hh (cp1252 é),
      // \tab, escaped braces/backslash and a \uN CJK code point with
      // its fallback swallowed — text is doc arithmetic for the oracle
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/rtf_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"rtfextract": {"idField": "media_id"}}],
        "loader": {"memory": {}} }""")
        .select("media_id", "n_paragraphs", "text")
        .orderBy("media_id")
    },
    "pdf_images" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // figure mining: the object walk finds each embedded /Image
      // XObject (even ids carry one), declared dims + filter from the
      // PDF dictionary — pure doc_id arithmetic for the oracle
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/pdf_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"pdfimages": {"idField": "media_id"}}],
        "loader": {"memory": {}} }""")
        .select("media_id", "image_idx", "width", "height", "filter")
        .orderBy("media_id", "image_idx")
    },
    "pdf_meta" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // /Info metadata walk: Title/Author plants (ids ≢ 1 mod 3); the
      // rest keep a null row via onMissing — the id3/htmlmeta contract
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/pdf_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"pdfmeta": {"idField": "media_id",
          "onMissing": "null"}}],
        "loader": {"memory": {}} }""")
        .select("media_id", "title", "author")
        .orderBy("media_id")
    },
    "pdf_figure_decode" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // END-TO-END figure pipeline: the DCTDecode passthrough must be a
      // REAL decodable JPEG — extract, then pixel-decode it; the
      // decoded dims must equal the declared arithmetic
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/pdf_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"pdfimages": {"idField": "media_id"}},
          {"code": {"language": "sql", "code":
            "SELECT media_id, image AS payload FROM __input"}},
          {"mm_decode": {"idField": "media_id"}}],
        "loader": {"memory": {}} }""")
        .select("media_id", "width", "height", "channels")
        .orderBy("media_id")
    },
    "warc_pdf" -> { (s, dir) =>
      val c = ctx(s, dir); val wd = pdfWarcFixture(s, dir)
      // end-to-end crawl→document composition: WARC response records
      // whose HTTP bodies are REAL PDFs — ISO 28500 framing walk, HTTP
      // payload split, content-type routing, then the full PDF text
      // extraction, one pipeline
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$wd"}},
        "extractor": {"warc": {"types": ["response"]}},
        "transformers": [
          {"flow": {"operation": "skip",
            "if": "http_content_type IS NULL OR http_content_type <> 'application/pdf'"}},
          {"code": {"language": "sql", "code":
            "SELECT cast(regexp_extract(target_uri, '([0-9]+)$$', 1) as bigint) AS doc_id, body FROM __input"}},
          {"pdfextract": {"idField": "doc_id", "payloadField": "body"}}],
        "loader": {"memory": {}} }""")
        .where(col("page") === 1)
        .select(col("media_id").as("doc_id"), col("n_pages"), col("text"))
        .orderBy("doc_id")
    },
    "mm_frame_sample" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // real frame sampling from real MP4 bytes: every 4th sample's
      // byte slice located via stsz/stco walking; the fixture's frame
      // payloads are doc_id arithmetic, so the oracle checks that the
      // engine sliced the RIGHT bytes (first_byte per sampled frame)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/video_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"mm_frame_sample": {"idField": "media_id",
          "step": 4}}],
        "loader": {"memory": {}} }""")
        .select(col("media_id"), col("frame_idx"), col("n_bytes"), col("first_byte"))
        .orderBy("media_id", "frame_idx")
    },
    "mm_frame_decode" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // real video PIXEL decode for MJPEG tracks: every 2nd sample's
      // byte slice is a complete JPEG; the engine must locate it via
      // the sample tables AND pixel-decode it — width/height and the
      // brightness bit are (doc_id, frame_idx) arithmetic the oracle
      // recomputes (solid gray 220 vs 40 never crosses the 127
      // threshold under JPEG loss)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/mjpeg_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"mm_frame_decode": {"idField": "media_id",
          "step": 2}}],
        "loader": {"memory": {}} }""")
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("bright"))
        .orderBy("media_id", "frame_idx")
    },
    "scene_cuts" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // scene-cut detection END-TO-END: every frame of every MJPEG
      // track pixel-decodes (step 1), then one keyed lag window flags
      // brightness flips — the fixture alternates bright/dark per
      // frame, so cuts = frames − 1 and the first cut sits at index 1,
      // all recomputable by the oracle from the plant arithmetic while
      // the engine must recover it from real JPEG bytes
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/mjpeg_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"mm_frame_decode": {"idField": "media_id", "step": 1}},
          {"code": {"language": "sql", "code":
            "SELECT media_id, count(*) AS n_frames, CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts, CAST(min(CASE WHEN cut THEN frame_idx END) AS BIGINT) AS first_cut FROM (SELECT media_id, frame_idx, bright != lag(bright) OVER (PARTITION BY media_id ORDER BY frame_idx) AS cut FROM __input) GROUP BY media_id"}}],
        "loader": {"memory": {}} }""")
        .orderBy("media_id")
    },
    "mm_phash_dedup" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // image near-dup end-to-end: REAL pixel decode → 64-bit
      // average-hash → banded Hamming pigeonhole join (ids + 8-byte
      // hashes only past the decode, never all-pairs). The fixture
      // plants 1% partner images two bit-flips from their neighbor;
      // the oracle recomputes the plant arithmetic — the engine must
      // recover every pair from real PNG bytes, with no false pairs
      // (row-count match kills any).
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/phash_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"mm_phash": {"idField": "media_id"}},
          {"hammingpairs": {"idField": "media_id", "hashField": "phash",
            "maxDistance": 3}}],
        "loader": {"memory": {}} }""")
        .select(col("a"), col("b"))
        .orderBy("a", "b")
    },
    "stream_dedup" -> { (s, dir) =>
      val c = ctx(s, dir)
      // streaming exact dedup with watermark-BOUNDED state
      // (dropDuplicatesWithinWatermark — the state store never grows
      // past the watermark horizon, so the query runs indefinitely).
      // Only the KEY columns are emitted: which duplicate row survives
      // is arrival-order-dependent; the key set is deterministic and
      // equals the batch DISTINCT oracle under availableNow.
      Engine.registerCode("normalize_events_ts")(df =>
        graft.sources.Tables.normalizeTs(df, "ts"))
      val q = graft.streaming.Streaming.run(c, graft.spec.PipelineSpec.parse(s"""{
        "source": {"stream": {"path": "$dir", "format": "parquet",
          "pathGlobFilter": "events.parquet",
          "schema": "${graft.sources.Tables.rawSchemaDDL(s, dir, "events")}"}},
        "transformers": [
          {"code": {"ref": "normalize_events_ts"}},
          {"stream_dedup": {"tsField": "ts", "watermark": "1 hour",
            "keyFields": ["user_id", "event_type"],
            "keepColumns": ["user_id", "event_type"]}}],
        "loader": {"streamsink": {"format": "memory", "name": "stream_dd",
          "outputMode": "append", "trigger": "availableNow"}} }"""))
      q.awaitTermination()
      s.table("stream_dd")
        .select("user_id", "event_type")
        .orderBy("user_id", "event_type")
    },
    "stream_throttle" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-key rate limiting: first 50 events per key per week-window
      // survive (event-time + event_id total order). Under availableNow
      // the result equals the batch row_number ≤ N oracle exactly;
      // state is one (window, count) pair per key
      Engine.registerCode("normalize_events_ts_thr")(df =>
        graft.sources.Tables.normalizeTs(df, "ts"))
      val q = graft.streaming.Streaming.run(c, graft.spec.PipelineSpec.parse(s"""{
        "source": {"stream": {"path": "$dir", "format": "parquet",
          "pathGlobFilter": "events.parquet",
          "schema": "${graft.sources.Tables.rawSchemaDDL(s, dir, "events")}"}},
        "transformers": [
          {"code": {"ref": "normalize_events_ts_thr"}},
          {"code": {"language": "sql", "code":
            "SELECT event_id, user_id % 20 AS k, ts FROM __input"}},
          {"stream_throttle": {"keyField": "k", "tsField": "ts",
            "tieField": "event_id", "maxPerWindow": 50,
            "windowSec": 604800}}],
        "loader": {"streamsink": {"format": "memory", "name": "stream_thr",
          "outputMode": "append", "trigger": "availableNow"}} }"""))
      q.awaitTermination()
      s.table("stream_thr")
        .select("key", "ts", "tie", "window_start")
        .orderBy("tie")
    },
    "stream_enrich" -> { (s, dir) =>
      val c = ctx(s, dir)
      // stream-STATIC dimension join: the BATCH `code` stage runs
      // unchanged on the streaming frame (the registry reuse the
      // streaming design claims), joining each event to the customer
      // dim — a stateless streaming join, so no watermark and no state
      // store; at scale the dim side broadcasts per micro-batch
      val q = graft.streaming.Streaming.run(c, graft.spec.PipelineSpec.parse(s"""{
        "source": {"stream": {"path": "$dir", "format": "parquet",
          "pathGlobFilter": "events.parquet",
          "schema": "${graft.sources.Tables.rawSchemaDDL(s, dir, "events")}"}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT e.event_id, e.user_id, c.c_mktsegment AS segment FROM __input e JOIN customer c ON e.user_id = c.c_custkey"}}],
        "loader": {"streamsink": {"format": "memory", "name": "stream_enr",
          "outputMode": "append", "trigger": "availableNow"}} }"""))
      q.awaitTermination()
      s.table("stream_enr")
        .select("event_id", "user_id", "segment")
        .orderBy("event_id")
    },
    "stream_ingest" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the crawl landing chain RUNNING AS A STREAM: html wrap (stand-in
      // for fetched payloads) → htmlextract → normalizetext, all
      // stateless per-row projections, so the same registry stages run
      // unchanged under readStream with no watermark or state store —
      // continuous ingestion of new crawl shards at scale
      val q = graft.streaming.Streaming.run(c, graft.spec.PipelineSpec.parse(s"""{
        "source": {"stream": {"path": "$dir", "format": "parquet",
          "pathGlobFilter": "documents.parquet",
          "schema": "${graft.sources.Tables.rawSchemaDDL(s, dir, "documents")}"}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id, concat('<html><body><h1>D', cast(doc_id as string), '</h1><p>', replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '</p></body></html>') AS html FROM __input"}},
          {"htmlextract": {"field": "html", "outputField": "extracted"}},
          {"normalizetext": {"field": "extracted", "outputField": "norm",
            "stripAccents": true, "lower": true}}],
        "loader": {"streamsink": {"format": "memory", "name": "stream_ing",
          "outputMode": "append", "trigger": "availableNow"}} }"""))
      q.awaitTermination()
      s.table("stream_ing").select("doc_id", "norm").orderBy("doc_id")
    },
    "stream_upsert" -> { (s, dir) =>
      // streaming CDC-merge: micro-batches apply through the bucketed
      // partition-pruned upsert writer (per-batch cost scales with the
      // delta, not the table). Phase 1 streams the full events table in
      // (pure inserts); phase 2 streams an update delta (every
      // event_id % 10 == 0 re-asserted with value doubled) into the SAME
      // target; the final table must equal the batch merge. Replay-safe:
      // upserts are idempotent per key. ts/props are projected out — the
      // merged table carries only the stable columns.
      val c = ctx(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_stream_upsert")
        .toAbsolutePath.toString
      val target = s"$base/table"
      def pipe(srcPath: String, glob: String, schema: String, cp: String) = s"""{
        "source": {"stream": {"path": "$srcPath", "format": "parquet",
          "pathGlobFilter": "$glob", "schema": "$schema"}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT event_id, user_id, event_type, value FROM __input"}}],
        "loader": {"streamsink": {"format": "upsert", "path": "$target",
          "key": "event_id", "buckets": 8, "checkpoint": "$base/$cp",
          "trigger": "availableNow", "outputMode": "append"}} }"""
      graft.streaming.Streaming.run(c, graft.spec.PipelineSpec.parse(
        pipe(dir, "events.parquet",
          graft.sources.Tables.rawSchemaDDL(s, dir, "events"), "cp1")))
        .awaitTermination()
      val delta = s.read.parquet(s"$dir/events.parquet")
        .where(col("event_id") % 10 === 0)
        .select(col("event_id"), col("user_id"),
          lit("updated").as("event_type"), (col("value") * 2).as("value"))
      delta.write.mode("overwrite").parquet(s"$base/delta")
      graft.streaming.Streaming.run(ctx(s, dir), graft.spec.PipelineSpec.parse(
        pipe(s"$base/delta", "part-*", delta.schema.toDDL, "cp2")))
        .awaitTermination()
      s.read.parquet(target)
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    },
    "chunk_windows" -> { (s, dir) =>
      val c = ctx(s, dir)
      // sliding 64-token windows with 16-token overlap — the context-
      // window prep step (pack concatenates ACROSS docs; chunk splits
      // WITHIN them)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"chunk": {"idField": "doc_id", "field": "text",
          "chunkTokens": 64, "overlap": 16}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "chunk_index", "chunk_text", "chunk_tokens")
        .orderBy("doc_id", "chunk_index")
    },
    "sentence_split" -> { (s, dir) =>
      val c = ctx(s, dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"sentencesplit": {"idField": "doc_id",
          "field": "text"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "sent_idx", "sentence")
        .orderBy("doc_id", "sent_idx")
    },
    "tfidf_terms" -> { (s, dir) =>
      val c = ctx(s, dir)
      // top-3 characteristic terms per doc by TF·(N/df) — linear idf
      // keeps the score an exact integer product over one IEEE division
      // (bit-identical in DuckDB; log differs in final ulps across libms)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"tfidf": {"idField": "doc_id", "field": "text",
          "k": 3}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "term", "tf", "df", "score", "term_rank")
        .orderBy("doc_id", "term_rank")
    },
    "dsir_weight" -> { (s, dir) =>
      val c = ctx(s, dir)
      // DSIR-style importance weight vs a target slice (docs ≡ 0 mod 7
      // stand in for the "domain to match"): integer-bits log-ratio of
      // target vs source unigram probabilities, count-weighted per doc.
      // Integer arithmetic end-to-end (length(bin(x)) both engines) —
      // hash-exact, no libm logs.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"dsirweight": {"idField": "doc_id",
          "field": "text",
          "target": "SELECT text FROM documents WHERE doc_id % 7 = 0"}}],
        "loader": {"memory": {}} }""")
        .select(col("doc_id"), col("dsir_weight"))
        .orderBy("doc_id")
    },
    "nb_classify" -> { (s, dir) =>
      val c = ctx(s, dir)
      // trained multinomial Naive Bayes: class-conditional counts from a
      // labeled slice (docs ≡ 0,1 mod 7; label = parity), add-one
      // smoothing, integer-bits scores (length(bin(x)) both engines —
      // hash-exact, no libm logs), argmax with ascending-label ties
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"nbclassify": {"idField": "doc_id",
          "field": "text",
          "labeled": "SELECT text, CASE WHEN doc_id % 2 = 0 THEN 'good' ELSE 'bad' END AS label FROM documents WHERE doc_id % 7 < 2"}}],
        "loader": {"memory": {}} }""")
        .select(col("doc_id"), col("nb_label"), col("nb_label_bits"))
        .orderBy("doc_id")
    },
    "bm25_search" -> { (s, dir) =>
      val c = ctx(s, dir)
      // BM25 top-20 for a 3-term query; linear idf keeps every score one
      // fixed dag of IEEE ops (hash-exact vs the oracle — see the stage
      // scaladoc), per-term contributions summed in sorted term order
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"bm25": {"idField": "doc_id", "field": "text",
          "query": "hash join scan", "k": 20, "idfMode": "linear"}}],
        "loader": {"memory": {}} }""")
        .orderBy("rank")
    },
    "corpus_stats" -> { (s, dir) =>
      val c = ctx(s, dir)
      // one-row corpus summary over token counts; discrete quantiles
      // (element-picking) keep the row hash-exact vs quantile_disc
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"tokenize": {"field": "text"}},
          {"corpusstats": {"field": "n_ws_tokens"}}],
        "loader": {"memory": {}} }""")
    },
    "csv_write_roundtrip" -> { (s, dir) =>
      val c = ctx(s, dir)
      // CSV EXPORT loader → fused file+row+csv scan back in; quoting /
      // header round-trip through the reference's option names
      val out = scratch("csvout", dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/nation.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"command": {"command":
          "SELECT n_nationkey, n_name, n_regionkey FROM input"}}],
        "loader": {"csv": {"path": "$out", "mode": "overwrite"}} }""")
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$out"}},
        "extractor": {"row": {}},
        "transformers": [{"csv": {"columns":
          ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"]}}],
        "loader": {"memory": {}} }""").orderBy("n_nationkey")
    },
    "jsonl_write_roundtrip" -> { (s, dir) =>
      val c = ctx(s, dir)
      val out = scratch("jsonout", dir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"command": {"command":
          "SELECT r_regionkey, r_name FROM input"}}],
        "loader": {"jsonl": {"path": "$out", "mode": "overwrite"}} }""")
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$out"}},
        "extractor": {"jsonl": {}},
        "loader": {"memory": {}} }""")
        .select(col("r_regionkey").cast("int").as("r_regionkey"), col("r_name"))
        .orderBy("r_regionkey")
    },
    "distinct_count" -> { (s, dir) =>
      val c = ctx(s, dir)
      // exact mode hash-matches COUNT(DISTINCT ...); the approx (HLL)
      // mode's error bound is asserted in LlmStagesSpec (sketch values
      // are engine-specific by nature)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"distinctcount": {
          "fields": ["lang", "source", "doc_id"]}}],
        "loader": {"memory": {}} }""")
    },
    "cross_dedup" -> { (s, dir) =>
      val c = ctx(s, dir)
      // cross-snapshot dedup: docs >= 250 deduped against the "previous
      // crawl" (docs < 250) on a 50-char normalized-prefix fingerprint
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command": "SELECT * FROM input WHERE doc_id >= 250"}},
          {"crossdedup": {"idField": "doc_id", "field": "text",
            "keyExpr": "md5(cast(substring(regexp_replace(lower(__text), '\\\\s+', ' '), 1, 50) as binary))",
            "against": "SELECT text FROM documents WHERE doc_id < 250"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "n_chars").orderBy("doc_id")
    },
    "decontaminate_bloom" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the bloom-prefiltered decontamination plan — IDENTICAL result to
      // `decontaminate` (false positives removed by the exact join; the
      // bloom only shrinks what reaches the exchange), same oracle
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command": "SELECT * FROM input WHERE doc_id >= 20"}},
          {"decontaminate": {"idField": "doc_id", "field": "text",
            "shingleSize": 5, "prefilter": "bloom", "expectedItems": 200000,
            "against": "SELECT text FROM documents WHERE doc_id < 20"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "n_chars").orderBy("doc_id")
    },
    "decontaminate_score" -> { (s, dir) =>
      val c = ctx(s, dir)
      // WIMBD-style overlap FRACTION against the same eval set: distinct
      // matching 5-gram shingles / distinct doc shingles — a threshold
      // signal instead of the drop mode's any-overlap verdict
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command": "SELECT * FROM input WHERE doc_id >= 20"}},
          {"decontaminate": {"idField": "doc_id", "field": "text",
            "shingleSize": 5, "mode": "score",
            "against": "SELECT text FROM documents WHERE doc_id < 20"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "contamination").orderBy("doc_id")
    },
    "readability_score" -> { (s, dir) =>
      val c = ctx(s, dir)
      // Flesch reading ease with deterministic heuristics (whitespace
      // words, [.!?]+ sentences, vowel-group syllables) — the score is
      // the identical IEEE op tree in both engines, hash-exact
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"readability": {"field": "text"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "n_words", "n_sentences", "n_syllables", "flesch_score")
        .orderBy("doc_id")
    },
    "retrieval_eval" -> { (s, dir) =>
      val c = ctx(s, dir)
      // ranking metrics over an arithmetic-planted candidate set (10
      // queries, synthetic scores with ties broken by doc id, every
      // 7th doc relevant): hits@5 / precision@5 / MRR per query
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id % 10 AS query_id, doc_id, CAST(doc_id * 37 % 100 AS DOUBLE) / CAST(4.0 AS DOUBLE) AS score, CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS label FROM __input"}},
          {"retrievaleval": {"k": 5}}],
        "loader": {"memory": {}} }""")
        .select("query_id", "hits_at_k", "precision_at_k", "mrr")
        .orderBy("query_id")
    },
    "retrieval_ndcg" -> { (s, dir) =>
      val c = ctx(s, dir)
      // NDCG@5 over the same planted candidate set: discount weights
      // are 1e-6 fixed-point integers round(1e6/log2(i+1)) inlined in
      // both plans (SimilarityStages.ndcgWeights), so DCG/IDCG are
      // exact integer sums and the metric one IEEE division — hash-exact
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id % 10 AS query_id, doc_id, CAST(doc_id * 37 % 100 AS DOUBLE) / CAST(4.0 AS DOUBLE) AS score, CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS label FROM __input"}},
          {"retrievaleval": {"k": 5, "ndcg": true}}],
        "loader": {"memory": {}} }""")
        .select("query_id", "mrr", "ndcg_at_k")
        .orderBy("query_id")
    },
    "retrieval_map" -> { (s, dir) =>
      val c = ctx(s, dir)
      // MAP@5 over the same planted candidate set: per-rank precisions
      // scale by LCM(1..5)=60 so the AP numerator is an exact integer
      // sum and the metric ONE IEEE division — hash-exact, and EXACT
      // (not fixed-point-rounded like ndcg's discounts)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT doc_id % 10 AS query_id, doc_id, CAST(doc_id * 37 % 100 AS DOUBLE) / CAST(4.0 AS DOUBLE) AS score, CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS label FROM __input"}},
          {"retrievaleval": {"k": 5, "map": true}}],
        "loader": {"memory": {}} }""")
        .select("query_id", "precision_at_k", "map_at_k")
        .orderBy("query_id")
    },
    "event_deltas" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-user inter-event gaps + integer-cents spend deltas: ONE
      // keyed window (event_id breaks timestamp ties for a total order)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents FROM events"}},
          {"delta": {"keyField": "user_id", "tsField": "ts",
            "tieField": "event_id", "valueFields": ["cents"]}}],
        "loader": {"memory": {}} }""")
        .select("event_id", "dt_us", "cents_delta").orderBy("event_id")
    },
    "skew_join" -> { (s, dir) =>
      val c = ctx(s, dir)
      // salted hot-key equi-join: orders × customer on (key, salt) with
      // the dimension replicated 8×; the result must be EXACTLY the
      // plain join's rows
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT o_orderkey, o_custkey FROM input"}},
          {"skewjoin": {"right":
            "SELECT c_custkey AS o_custkey, c_name, c_nationkey FROM customer",
            "on": "o_custkey", "saltBuckets": 8}}],
        "loader": {"memory": {}} }""")
        .select("o_orderkey", "o_custkey", "c_name", "c_nationkey")
        .orderBy("o_orderkey")
    },
    "unpivot_melt" -> { (s, dir) =>
      val c = ctx(s, dir)
      // wide → long melt: three same-typed value columns (one with
      // planted NULLs that must DROP) against one id; pure Expand
      // projection, no shuffle
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, CAST(o_custkey AS BIGINT) AS cust, CASE WHEN o_orderkey % 5 = 0 THEN CAST(NULL AS BIGINT) ELSE CAST(o_orderkey % 7 AS BIGINT) END AS septile FROM input"}},
          {"unpivot": {"ids": ["o_orderkey"],
            "values": ["price_cents", "cust", "septile"]}}],
        "loader": {"memory": {}} }""")
        .select("o_orderkey", "variable", "value")
        .orderBy("o_orderkey", "variable")
    },
    "impute_missing" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-type median imputation of planted NULLs (type-7 exact
      // percentile over the non-null rows — the winsorize rule, so the
      // filled doubles hash-match)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, event_type, CASE WHEN event_id % 11 = 0 THEN CAST(NULL AS BIGINT) ELSE CAST(round(value * 100) AS BIGINT) END AS cents FROM events"}},
          {"impute": {"field": "cents", "strategy": "median",
            "keyField": "event_type"}}],
        "loader": {"memory": {}} }""")
        .select("event_id", "cents_imputed").orderBy("event_id")
    },
    "quantile_bins" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-priority spend quartiles: exact type-7 cut points (the
      // winsorize-proven rule), bin = count of cuts strictly below —
      // pure comparisons after bit-identical cuts, hash-exact
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT o_orderkey, o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM input"}},
          {"quantilebin": {"field": "cents", "bins": 4,
            "keyField": "o_orderpriority"}}],
        "loader": {"memory": {}} }""")
        .select("o_orderkey", "o_orderpriority", "cents_bin")
        .orderBy("o_orderkey")
    },
    "correlate_fit" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-event-type Pearson r + OLS fit over integer-valued signals:
      // co-moment sums accumulate exactly in decimal, the closing IEEE
      // op tree is identical in both engines — hash-exact doubles
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_type, CAST(round(value * 100) AS BIGINT) % 1000 AS x, event_id % 97 AS y FROM events"}},
          {"correlate": {"xField": "x", "yField": "y",
            "groupBy": "event_type"}}],
        "loader": {"memory": {}} }""")
        .select("event_type", "n", "r", "slope", "intercept")
        .orderBy("event_type")
    },
    "srt_parse" -> { (s, dir) =>
      val c = ctx(s, dir)
      // SRT cue recovery from REAL formatted subtitle text: the config
      // RENDERS HH:MM:SS,mmm blocks from doc_id arithmetic (plus a
      // planted WEBVTT junk header the lenient parser must drop); the
      // oracle recomputes the arithmetic — the engine must round-trip
      // it through the actual text format
      def fmt(ms: String) =
        s"lpad(CAST(($ms) div 3600000 AS STRING), 2, '0'), ':', " +
        s"lpad(CAST((($ms) % 3600000) div 60000 AS STRING), 2, '0'), ':', " +
        s"lpad(CAST((($ms) % 60000) div 1000 AS STRING), 2, '0'), ',', " +
        s"lpad(CAST(($ms) % 1000 AS STRING), 3, '0')"
      val mk = "concat('WEBVTT', chr(10), 'junk header', chr(10), chr(10), " +
        "array_join(transform(sequence(0, CAST(doc_id % 3 AS INT)), i -> " +
        "concat(CAST(i + 1 AS STRING), chr(10), " +
        fmt("doc_id * 977 + i * 2000") + ", ' --> ', " +
        fmt("doc_id * 977 + i * 2000 + 1500") + ", chr(10), " +
        "'cue ', CAST(doc_id AS STRING), ' line ', CAST(i AS STRING))), " +
        "concat(chr(10), chr(10)))) AS srt"
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command": "SELECT doc_id, $mk FROM input"}},
          {"srtparse": {"field": "srt"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "cue_idx", "start_ms", "end_ms", "cue_text")
        .orderBy("doc_id", "cue_idx")
    },
    "vtt_parse" -> { (s, dir) =>
      val c = ctx(s, dir)
      // WebVTT cue recovery from REAL rendered caption files: the
      // format's quirks all planted — optional cue-id lines (even i),
      // settings on the first cue, an HOURLESS MM:SS.mmm timing when it
      // fits, a NOTE block, markup tags stripped by default — and every
      // recovered field is doc_id arithmetic the oracle recomputes
      // hours pad to AT LEAST two digits — lpad TRUNCATES longer strings
      // (a 100+-hour timestamp at a bigger sf would corrupt silently)
      def fmtH(ms: String) =
        s"CASE WHEN ($ms) div 3600000 < 10 THEN '0' ELSE '' END, " +
        s"CAST(($ms) div 3600000 AS STRING), ':', " +
        s"lpad(CAST((($ms) % 3600000) div 60000 AS STRING), 2, '0'), ':', " +
        s"lpad(CAST((($ms) % 60000) div 1000 AS STRING), 2, '0'), '.', " +
        s"lpad(CAST(($ms) % 1000 AS STRING), 3, '0')"
      def fmtNoH(ms: String) = // only rendered when the cue sits under 1h
        s"lpad(CAST(($ms) div 60000 AS STRING), 2, '0'), ':', " +
        s"lpad(CAST((($ms) % 60000) div 1000 AS STRING), 2, '0'), '.', " +
        s"lpad(CAST(($ms) % 1000 AS STRING), 3, '0')"
      def ts(ms: String) =
        s"CASE WHEN i = 1 AND ($ms) + 1500 < 3600000 " +
        s"THEN concat(${fmtNoH(ms)}) ELSE concat(${fmtH(ms)}) END"
      val cue =
        "concat(CASE WHEN i % 2 = 0 THEN concat('cue-', CAST(doc_id AS STRING), " +
        "'-', CAST(i AS STRING), chr(10)) ELSE '' END, " +
        ts("doc_id * 977 + i * 2000") + ", ' --> ', " +
        ts("doc_id * 977 + i * 2000 + 1500") + ", " +
        "CASE WHEN i = 0 THEN ' position:50%' ELSE '' END, chr(10), " +
        "'line <b>', CAST(doc_id AS STRING), '</b> t', CAST(i AS STRING))"
      val mk = "concat('WEBVTT', chr(10), 'Kind: captions', chr(10), chr(10), " +
        "'NOTE planted comment', chr(10), chr(10), " +
        s"array_join(transform(sequence(0, CAST(doc_id % 3 AS INT)), i -> $cue), " +
        "concat(chr(10), chr(10)))) AS vtt"
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command": "SELECT doc_id, $mk FROM input"}},
          {"vttparse": {"field": "vtt"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "cue_id", "start_ms", "end_ms", "cue_settings",
          "cue_text")
        .orderBy("doc_id", "start_ms")
    },
    "mm_caption_frames" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the multimodal composition: render SRT → srtparse recovers cue
      // timing from the text → each cue explodes to the 400 ms frame
      // grid it covers (frame f shows at f·400 ms; covered iff
      // start ≤ f·400 < end — pure integer division, hash-exact).
      // This is the caption↔frame alignment table a video-text
      // training pipeline joins features against.
      def fmt(ms: String) =
        s"lpad(CAST(($ms) div 3600000 AS STRING), 2, '0'), ':', " +
        s"lpad(CAST((($ms) % 3600000) div 60000 AS STRING), 2, '0'), ':', " +
        s"lpad(CAST((($ms) % 60000) div 1000 AS STRING), 2, '0'), ',', " +
        s"lpad(CAST(($ms) % 1000 AS STRING), 3, '0')"
      val mk = "concat(" +
        "array_join(transform(sequence(0, CAST(doc_id % 3 AS INT)), i -> " +
        "concat(CAST(i + 1 AS STRING), chr(10), " +
        fmt("doc_id * 977 + i * 2000") + ", ' --> ', " +
        fmt("doc_id * 977 + i * 2000 + 1500") + ", chr(10), " +
        "'cue ', CAST(doc_id AS STRING))), " +
        "concat(chr(10), chr(10)))) AS srt"
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command": "SELECT doc_id, $mk FROM input WHERE doc_id < 200"}},
          {"srtparse": {"field": "srt"}},
          {"command": {"command":
            "SELECT doc_id, cue_idx, explode(sequence((start_ms + 399) div 400, (end_ms - 1) div 400)) AS frame_idx FROM input"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "cue_idx", "frame_idx")
        .orderBy("doc_id", "cue_idx", "frame_idx")
    },
    "date_features" -> { (s, dir) =>
      val c = ctx(s, dir)
      // UTC calendar expansion incl. ISO dow/week — engine-independent
      // integer fields from the normalized events timeline
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, ts FROM events"}},
          {"datefeatures": {"field": "ts",
            "parts": ["year", "month", "day", "dow", "hour", "week", "doy"]}}],
        "loader": {"memory": {}} }""")
        .select("event_id", "ts_year", "ts_month", "ts_day", "ts_dow",
          "ts_hour", "ts_week", "ts_doy")
        .orderBy("event_id")
    },
    "one_hot" -> { (s, dir) =>
      val c = ctx(s, dir)
      // dummy encoding of the 5-value event_type vocabulary (planted
      // NULLs row to all zeros); column set is the sorted vocabulary
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, CASE WHEN event_id % 31 = 0 THEN NULL ELSE event_type END AS etype FROM events"}},
          {"onehot": {"field": "etype", "maxCardinality": 16}}],
        "loader": {"memory": {}} }""")
        .select("event_id", "etype_click", "etype_error", "etype_purchase",
          "etype_signup", "etype_view")
        .orderBy("event_id")
    },
    "percent_rank" -> { (s, dir) =>
      val c = ctx(s, dir)
      // rank-normalized spend within each order priority: ties share a
      // rank, (rank-1)/(n-1) is one exact-long division
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT o_orderkey, o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM input"}},
          {"percentrank": {"field": "cents",
            "groupBy": ["o_orderpriority"]}}],
        "loader": {"memory": {}} }""")
        .select("o_orderkey", "o_orderpriority", "cents_pct")
        .orderBy("o_orderkey")
    },
    "percent_rank_global" -> { (s, dir) =>
      val c = ctx(s, dir)
      // KEYLESS percent_rank over integral cents — the scalable
      // two-level rank-prefix path (no single-partition sort), exact
      // percent_rank semantics incl. shared ties and NULLS FIRST
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, CASE WHEN event_id % 53 = 0 THEN NULL ELSE CAST(round(value * 100) AS BIGINT) % 750 END AS cents FROM events"}},
          {"percentrank": {"field": "cents", "global": true}}],
        "loader": {"memory": {}} }""")
        .select("event_id", "cents", "cents_pct")
        .orderBy("event_id")
    },
    "proportion_ci" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-band purchase conversion with Wilson 95% CIs: exact counts,
      // then one fixed-order +,−,×,÷,√ tree (all correctly-rounded
      // IEEE) — hash-exact; planted NULLs are not trials
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT user_id % 11 AS band, CASE WHEN event_id % 29 = 0 THEN CAST(NULL AS BOOLEAN) ELSE event_type = 'purchase' END AS converted FROM events"}},
          {"proportions": {"successField": "converted",
            "groupBy": ["band"]}}],
        "loader": {"memory": {}} }""")
        .select("band", "n", "successes", "rate", "ci_low", "ci_high")
        .orderBy("band")
    },
    "entropy_profile" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-bucket categorical entropy in floor-log2 bits (planted NULL
      // is a real category): info_bits is an exact long, the closing
      // division the only IEEE op
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT user_id % 7 AS bucket, CASE WHEN event_id % 23 = 0 THEN NULL ELSE event_type END AS v FROM events"}},
          {"entropy": {"field": "v", "groupBy": ["bucket"]}}],
        "loader": {"memory": {}} }""")
        .select("bucket", "n", "distinct_vals", "info_bits", "entropy_bits")
        .orderBy("bucket")
    },
    "gini_impurity" -> { (s, dir) =>
      val c = ctx(s, dir)
      // exact Gini impurity per bucket (entropy's no-logarithm
      // companion): numerator and denominator exact longs, ONE IEEE
      // division; planted NULL is a real category
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT user_id % 7 AS bucket, CASE WHEN event_id % 23 = 0 THEN NULL ELSE event_type END AS v FROM events"}},
          {"gini": {"field": "v", "groupBy": ["bucket"]}}],
        "loader": {"memory": {}} }""")
        .select("bucket", "n", "distinct_vals", "gini_num", "gini")
        .orderBy("bucket")
    },
    "mutual_info" -> { (s, dir) =>
      val c = ctx(s, dir)
      // token↔class association in integer bits over exploded document
      // tokens: Σ n_fc · signed-floor-log2((n_fc·N)/(n_f·n_c)) is an
      // exact long per feature, the rate ONE division
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT token, doc_id % 3 AS cls FROM (SELECT doc_id, explode(split(text, ' ')) AS token FROM documents)"}},
          {"mutualinfo": {"featureField": "token", "classField": "cls",
            "minCount": 50}}],
        "loader": {"memory": {}} }""")
        .select("feature", "n", "mi_bits", "mi_rate")
        .orderBy("feature")
    },
    "regression_eval" -> { (s, dir) =>
      val c = ctx(s, dir)
      // MAE/MSE/RMSE/R2 per event type from integral (y, yhat) pairs
      // with planted bounded errors: exact long error sums, fixed IEEE
      // closings; planted NULL labels are not scored
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_type, CASE WHEN event_id % 43 = 0 THEN NULL ELSE CAST(round(value * 100) AS BIGINT) % 500 END AS y, CAST(round(value * 100) AS BIGINT) % 500 + event_id % 9 - 4 AS yhat FROM events"}},
          {"regressioneval": {"labelField": "y", "predField": "yhat",
            "groupBy": ["event_type"]}}],
        "loader": {"memory": {}} }""")
        .select("event_type", "n", "mae", "mse", "rmse", "r2")
        .orderBy("event_type")
    },
    "calibration_bins" -> { (s, dir) =>
      val c = ctx(s, dir)
      // reliability curve over permille scores with a planted
      // score-correlated label: per-bin confidence vs observed rate,
      // exact counts, three fixed divisions
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT CASE WHEN event_id % 37 = 0 THEN NULL ELSE CAST(round(value * 100) AS BIGINT) % 1001 END AS score, (CAST(round(value * 100) AS BIGINT) % 1001 + event_id % 400) >= 700 AS hit FROM events"}},
          {"calibration": {"scoreField": "score", "labelField": "hit",
            "bins": 10, "scale": 1000}}],
        "loader": {"memory": {}} }""")
        .select("bin", "n", "positives", "conf", "acc", "gap")
        .orderBy("bin")
    },
    "robust_scale" -> { (s, dir) =>
      val c = ctx(s, dir)
      // median/IQR scaling of integer cents per event type: exact
      // percentile triples (the quantile_cont-identical interpolation),
      // one (−,÷) tree per row
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events"}},
          {"robustscale": {"field": "cents", "keyField": "event_type"}}],
        "loader": {"memory": {}} }""")
        .select("event_id", "cents", "cents_robust")
        .orderBy("event_id")
    },
    "ab_test" -> { (s, dir) =>
      val c = ctx(s, dir)
      // two-proportion z of every arm against control arm 0, with a
      // planted lift on arm 2: exact counts, one fixed IEEE tree per
      // metric; planted NULLs are not trials
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT CAST(user_id % 4 AS STRING) AS arm, CASE WHEN event_id % 29 = 0 THEN CAST(NULL AS BOOLEAN) WHEN user_id % 4 = 2 AND event_id % 17 = 0 THEN TRUE ELSE event_type = 'purchase' END AS converted FROM events"}},
          {"abtest": {"variantField": "arm", "successField": "converted",
            "control": "0"}}],
        "loader": {"memory": {}} }""")
        .select("variant", "n", "successes", "rate", "control_n",
          "control_successes", "control_rate", "z")
        .orderBy("variant")
    },
    "survival_km" -> { (s, dir) =>
      val c = ctx(s, dir)
      // Kaplan-Meier curves per cohort over day-quantized times with
      // ~20% events / 80% censoring: at-risk counts exact, the factor
      // product folds in DuckDB list_reduce's exact op order
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT user_id % 3 AS cohort, CASE WHEN event_id % 31 = 0 THEN NULL ELSE event_id % 28 + 1 END AS t_day, event_type = 'error' AS ev FROM events"}},
          {"survival": {"timeField": "t_day", "eventField": "ev",
            "groupBy": ["cohort"]}}],
        "loader": {"memory": {}} }""")
        .select("cohort", "time", "n_risk", "events", "censored", "survival")
        .orderBy("cohort", "time")
    },
    "drift_tvd" -> { (s, dir) =>
      val c = ctx(s, dir)
      // exact total-variation drift between the even half of events
      // (with a planted 'outage' shift) and the odd-half baseline:
      // numerator exact longs, ONE closing IEEE division
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT CASE WHEN event_id % 10 = 4 THEN 'outage' ELSE event_type END AS etype FROM events WHERE event_id % 2 = 0"}},
          {"drift": {"field": "etype",
            "against": "SELECT event_type AS etype FROM events WHERE event_id % 2 = 1"}}],
        "loader": {"memory": {}} }""")
        .select("n_cur", "n_base", "distinct_vals", "tvd_num", "tvd")
    },
    "classify_eval" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-class precision/recall/F1 from exact TP/FP/FN longs (one
      // IEEE division each); planted prediction flips, null labels
      // are not scored
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT CASE WHEN event_id % 41 = 0 THEN NULL ELSE event_type END AS actual, CASE WHEN event_id % 7 = 0 THEN 'click' ELSE event_type END AS pred FROM events"}},
          {"classifyeval": {"labelField": "actual", "predField": "pred"}}],
        "loader": {"memory": {}} }""")
        .select("class", "tp", "fp", "fn", "support",
          "precision", "recall", "f1")
        .orderBy("class")
    },
    "auc_score" -> { (s, dir) =>
      val c = ctx(s, dir)
      // exact tie-aware Mann-Whitney AUC per segment: integer 2U via
      // the two-level prefix sum (no global window), ONE closing IEEE
      // division; null scores are not scored
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT user_id % 5 AS seg, CASE WHEN event_id % 37 = 0 THEN NULL ELSE CAST(round(value * 100) AS BIGINT) % 1000 END AS score, event_type = 'purchase' AS hit FROM events"}},
          {"auc": {"scoreField": "score", "labelField": "hit",
            "groupBy": ["seg"]}}],
        "loader": {"memory": {}} }""")
        .select("seg", "n_pos", "n_neg", "auc")
        .orderBy("seg")
    },
    "target_encode" -> { (s, dir) =>
      val c = ctx(s, dir)
      // smoothed mean target encoding of order priority against cents:
      // exact long sums, μ one division, encoding one fixed (+,×,÷)
      // tree; null-target rows still receive their category's encoding
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT o_orderkey, o_orderpriority, CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents FROM orders"}},
          {"targetencode": {"field": "o_orderpriority",
            "targetField": "cents", "smoothing": "25",
            "outputField": "prio_enc"}}],
        "loader": {"memory": {}} }""")
        .select("o_orderkey", "o_orderpriority", "prio_enc")
        .orderBy("o_orderkey")
    },
    "line_dedup" -> { (s, dir) =>
      val c = ctx(s, dir)
      // C4 line rule over planted boilerplate (shared header + modular
      // footers): keepfirst leaves one canonical copy in the smallest
      // doc_id; lines rejoin in original order
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT doc_id, concat('Shared Header', chr(10), text, chr(10), 'footer ', CAST(doc_id % 3 AS STRING)) AS page FROM documents"}},
          {"linededup": {"idField": "doc_id", "field": "page",
            "minCount": 2, "action": "keepfirst",
            "outputField": "clean"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "clean", "n_removed")
        .orderBy("doc_id")
    },
    "word_filter" -> { (s, dir) =>
      val c = ctx(s, dir)
      // C4-style token blocklist: whole-token hits + ratio (flag mode
      // keeps every doc; the ratio is one exact-long division)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"wordfilter": {"words": ["slow", "big", "merge"]}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "bad_n", "bad_ratio").orderBy("doc_id")
    },
    "stopwords_clean" -> { (s, dir) =>
      val c = ctx(s, dir)
      // stop-token removal with the built-in set: kept tokens preserve
      // form, single-space rejoin, exact removal count
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"stopwords": {"field": "text"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "text_clean", "n_removed").orderBy("doc_id")
    },
    "regex_extract" -> { (s, dir) =>
      val c = ctx(s, dir)
      // entity extraction: every s-word match exploded to its own row
      // with a stable in-document index
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"regexextract": {"field": "text",
            "pattern": "\\\\bs[a-z]{3,}\\\\b"}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "match_idx", "match")
        .orderBy("doc_id", "match_idx")
    },
    "event_paths" -> { (s, dir) =>
      val c = ctx(s, dir)
      // frequent whole-journey paths: first 8 states per user joined
      // '>'-separated, counted across users (event_id breaks ts ties)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT user_id, ts, event_id, event_type FROM events"}},
          {"eventpaths": {"keyField": "user_id", "tsField": "ts",
            "tieField": "event_id", "stateField": "event_type",
            "maxSteps": 8}}],
        "loader": {"memory": {}} }""")
        .select("path", "n_keys").orderBy("path")
    },
    "journey_markov" -> { (s, dir) =>
      val c = ctx(s, dir)
      // the journey stack END-TO-END in one config (the crawl_frontier
      // composition pattern): eventpaths mines whole journeys, adjacent
      // pairs weighted by journey counts rebuild the transition matrix,
      // and a windowed rank yields the Markov next-step ranking ("after
      // state X, the 3 likeliest next states"). p is one IEEE division
      // of two exact longs — hash-deterministic against the oracle.
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT user_id, ts, event_id, event_type FROM events"}},
          {"eventpaths": {"keyField": "user_id", "tsField": "ts",
            "tieField": "event_id", "stateField": "event_type",
            "maxSteps": 8}},
          {"code": {"language": "sql", "code":
            "SELECT v AS from_state, element_at(seq, CAST(i + 2 AS INT)) AS to_state, sum(n_keys) AS n FROM (SELECT split(path, '>') AS seq, n_keys FROM __input) LATERAL VIEW posexplode(seq) t AS i, v WHERE i < size(seq) - 1 GROUP BY 1, 2"}},
          {"code": {"language": "sql", "code":
            "SELECT from_state, to_state, n, n_from, CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE) AS p, next_rank FROM (SELECT from_state, to_state, n, n_from, rank() OVER (PARTITION BY from_state ORDER BY n DESC, to_state) AS next_rank FROM (SELECT from_state, to_state, n, sum(n) OVER (PARTITION BY from_state) AS n_from FROM __input)) WHERE next_rank <= 3"}}],
        "loader": {"memory": {}} }""")
        .orderBy("from_state", "next_rank", "to_state")
    },
    "fixedwidth_read" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // fixed-width layout recovery from real padded text: typed longs,
      // a trimmed string, a blank-cell → null column, an exact double
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/tables/nation.fw"}},
        "extractor": {"fixedwidth": {"columns": [
          "n_nationkey:1:4:long", "n_name:5:16",
          "n_regionkey:21:2:long", "price:23:8:double"]}},
        "loader": {"memory": {}} }""")
        .select("n_nationkey", "n_name", "n_regionkey", "price")
        .orderBy("n_nationkey")
    },
    "event_transitions" -> { (s, dir) =>
      val c = ctx(s, dir)
      // first-order Markov transition matrix over the event stream
      // (planted NULL state is a real state); p = n/n_from is one IEEE
      // division of exact longs
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT user_id, ts, event_id, CASE WHEN event_id % 19 = 0 THEN NULL ELSE event_type END AS state FROM events"}},
          {"transitions": {"keyField": "user_id", "tsField": "ts",
            "tieField": "event_id", "stateField": "state"}}],
        "loader": {"memory": {}} }""")
        .select("from_state", "to_state", "n", "n_from", "p")
        .orderBy("from_state", "to_state")
    },
    "link_predict" -> { (s, dir) =>
      val c = ctx(s, dir)
      // neighborhood-overlap link prediction over the planted graph:
      // clique pairs are all existing edges (excluded), path/cycle
      // segments yield 1-common-neighbor candidates; adamic_adar uses
      // the integer-bits 1/bits(deg) convention (fixed-order chain)
      Engine.runJson(c, s"""{
        "begin": [{"console": {"commands": [
          "CREATE OR REPLACE TEMPORARY VIEW lp_ids AS SELECT 'v' || CAST(c_custkey AS STRING) AS vid FROM customer"]}}],
        "source": {"file": {"path": "$dir/customer.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT 'v' || CAST(a AS STRING) AS src_id, 'v' || CAST(b AS STRING) AS dst_id FROM (SELECT x.c_custkey AS a, y.c_custkey AS b FROM __input x JOIN __input y ON x.c_custkey < 200 AND y.c_custkey < 200 AND x.c_custkey div 4 = y.c_custkey div 4 AND x.c_custkey < y.c_custkey UNION ALL SELECT c_custkey, c_custkey + 1 FROM __input WHERE c_custkey >= 200 AND c_custkey < 500 AND c_custkey % 2 = 0 UNION ALL SELECT c_custkey, c_custkey + 1 FROM __input WHERE c_custkey >= 500 AND c_custkey < 514 UNION ALL SELECT c_custkey, c_custkey + 1 FROM __input WHERE c_custkey >= 1000 AND c_custkey < 1040 UNION ALL SELECT 1000, 1040 FROM __input WHERE c_custkey = 1000)"}},
          {"vertex": {"class": "lp", "idField": "src_id"}},
          {"edge": {"joinFieldName": "dst_id", "lookup": "lp_ids.vid",
                    "class": "lp_edge", "direction": "out"}},
          {"linkpredict": {}}],
        "loader": {"memory": {}} }""")
        .select("u", "v", "common_neighbors", "deg_u", "deg_v",
          "jaccard", "pref_attach", "adamic_adar")
        .orderBy("u", "v")
    },
    "freq_pairs" -> { (s, dir) =>
      val c = ctx(s, dir)
      // market-basket pair mining: orders are baskets, coarse part
      // buckets are items; support = one exact division, lift in the
      // integer-bits rule
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/lineitem.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT l_orderkey AS basket, l_partkey % 50 AS item FROM input"}},
          {"freqpairs": {"basketField": "basket", "itemField": "item",
            "minCount": 2}}],
        "loader": {"memory": {}} }""")
        .select("item1", "item2", "n_pair", "n_item1", "n_item2",
          "n_baskets", "support", "lift_bits")
        .orderBy("item1", "item2")
    },
    "lag_features" -> { (s, dir) =>
      val c = ctx(s, dir)
      // 2-step lag + 1-step lead integer-cents features per user: all
      // three columns ride ONE keyed window
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents FROM events"}},
          {"lagfeatures": {"keyField": "user_id", "tsField": "ts",
            "tieField": "event_id", "valueFields": ["cents"],
            "lags": 2, "leads": 1}}],
        "loader": {"memory": {}} }""")
        .select("event_id", "cents_lag1", "cents_lag2", "cents_lead1")
        .orderBy("event_id")
    },
    "bucketize_fixed" -> { (s, dir) =>
      val c = ctx(s, dir)
      // fixed-edge binning of order cents (the production-stable
      // feature-store contract): pure integer comparisons
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders"}},
          {"bucketize": {"field": "cents",
            "splits": [1000000, 5000000, 10000000, 20000000, 30000000]}}],
        "loader": {"memory": {}} }""")
        .select("o_orderkey", "cents", "cents_bin")
        .orderBy("o_orderkey")
    },
    "vocab_overlap" -> { (s, dir) =>
      val c = ctx(s, dir)
      // vocabulary fit of the even-doc half against the odd-doc
      // reference: exact distinct/mass counts, three single divisions
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT text FROM documents WHERE doc_id % 2 = 0"}},
          {"vocaboverlap": {"against":
            "SELECT text FROM documents WHERE doc_id % 2 = 1"}}],
        "loader": {"memory": {}} }""")
        .select("v_cur", "v_base", "v_both", "jaccard",
          "oov_types", "oov_tokens")
    },
    "t_closeness" -> { (s, dir) =>
      val c = ctx(s, dir)
      // t-closeness over quasi buckets with ONE planted sensitive-
      // homogeneous group (bucket 0 all 'error'): exact per-group TVD
      // incl. absent-value mass, one division, flag mode keeps rows
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, user_id % 12 AS q, CASE WHEN user_id % 12 = 0 THEN 'error' ELSE event_type END AS s FROM events"}},
          {"tcloseness": {"fields": ["q"], "sensitiveField": "s",
            "t": "0.08", "action": "flag"}}],
        "loader": {"memory": {}} }""")
        .select("event_id", "q", "tvd", "t_close")
        .orderBy("event_id")
    },
    "schema_diff" -> { (s, dir) =>
      val c = ctx(s, dir)
      // data-contract diff between two PROJECTIONS of the same fixture
      // (drift-proof: the compared types are pinned by the query's own
      // casts): both / type_mismatch / left_only / right_only
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT doc_id, text, CAST(n_chars AS INT) AS n_chars, lang FROM documents"}},
          {"schemadiff": {"against":
            "SELECT doc_id, CAST(text AS BINARY) AS text, n_chars, source FROM documents"}}],
        "loader": {"memory": {}} }""")
        .select("column", "type_left", "type_right", "status")
        .orderBy("column")
    },
    "url_resolve" -> { (s, dir) =>
      val c = ctx(s, dir)
      // RFC 3986 resolution over planted reference shapes (absolute /
      // protocol-relative / root-relative / ../up / plain): the engine
      // resolves generally, the oracle is pure doc_id arithmetic
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT doc_id, concat('https://site', CAST(doc_id % 7 AS STRING), '.example.com/a/b/c/page.html') AS base_url, CASE doc_id % 5 WHEN 0 THEN concat('https://other.org/abs', CAST(doc_id AS STRING)) WHEN 1 THEN concat('//cdn.example.net/x', CAST(doc_id AS STRING)) WHEN 2 THEN concat('/root/r', CAST(doc_id AS STRING)) WHEN 3 THEN concat('../up', CAST(doc_id AS STRING)) ELSE concat('rel/s', CAST(doc_id AS STRING)) END AS href FROM documents"}},
          {"urlresolve": {}}],
        "loader": {"memory": {}} }""")
        .select("doc_id", "resolved_url")
        .orderBy("doc_id")
    },
    "benford_digits" -> { (s, dir) =>
      val c = ctx(s, dir)
      // leading-digit forensics over order cents (natural magnitudes):
      // exact digit counts; the Benford expectations ship as the SAME
      // driver-computed double literal in engine and oracle
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/orders.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders"}},
          {"benford": {"field": "cents"}}],
        "loader": {"memory": {}} }""")
        .select("digit", "n_digit", "n", "observed", "expected", "gap")
        .orderBy("digit")
    },
    "run_length" -> { (s, dir) =>
      val c = ctx(s, dir)
      // run-length compression of per-user event-type streams (planted
      // NULL states are real runs): one keyed window + one hash agg
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, user_id % 30 AS uid, ts, CASE WHEN event_id % 19 = 0 THEN NULL ELSE event_type END AS st FROM events"}},
          {"runlength": {"keyField": "uid", "tsField": "ts",
            "tieField": "event_id", "stateField": "st"}}],
        "loader": {"memory": {}} }""")
        .select("uid", "state", "run_start", "run_end", "n_events")
        .orderBy("uid", "run_start", "run_end")
    },
    "auto_corr" -> { (s, dir) =>
      val c = ctx(s, dir)
      // exact lag-1/2/3 autocorrelation per user over small integer
      // values: co-moment sums exact longs scaled by n², ONE division
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, user_id % 25 AS uid, ts, CAST(round(value * 100) AS BIGINT) % 50 AS v FROM events"}},
          {"autocorr": {"keyField": "uid", "tsField": "ts",
            "tieField": "event_id", "valueField": "v",
            "lags": [1, 2, 3]}}],
        "loader": {"memory": {}} }""")
        .select("uid", "lag", "n", "n_pairs", "acf")
        .orderBy("uid", "lag")
    },
    "key_concentration" -> { (s, dir) =>
      val c = ctx(s, dir)
      // Gini coefficient of per-key event volume under a PLANTED hot
      // key owning ~20% of rows: exact integer rank sums (tie blocks
      // cancel the permutation), two closing divisions
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT CASE WHEN event_id % 5 = 0 THEN 0 ELSE user_id % 200 END AS k FROM events"}},
          {"concentration": {"keyField": "k"}}],
        "loader": {"memory": {}} }""")
        .select("n_keys", "total", "max_share", "gini")
    },
    "change_point" -> { (s, dir) =>
      val c = ctx(s, dir)
      // exact integer CUSUM per user over a PLANTED mid-month level
      // shift (+300 after Jan 16): the peak |n·P − t·S| position is
      // the shift boundary; cusum_rate one IEEE division
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, user_id % 40 AS uid, ts, CAST(round(value * 100) AS BIGINT) % 100 + CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 300 ELSE 0 END AS v FROM events"}},
          {"changepoint": {"keyField": "uid", "tsField": "ts",
            "tieField": "event_id", "valueField": "v"}}],
        "loader": {"memory": {}} }""")
        .select("uid", "n", "cp_index", "cp_ts", "cusum_max", "cusum_rate")
        .orderBy("uid")
    },
    "ks_test" -> { (s, dir) =>
      val c = ctx(s, dir)
      // exact two-sample KS between the even half (20% of rows shifted
      // +150) and the odd-half baseline: integer ECDF numerators via
      // the two-level prefix, one closing division
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT CASE WHEN event_id % 5 = 0 THEN CAST(round(value * 100) AS BIGINT) % 1000 + 150 ELSE CAST(round(value * 100) AS BIGINT) % 1000 END AS v FROM events WHERE event_id % 2 = 0"}},
          {"kstest": {"field": "v",
            "against": "SELECT CAST(round(value * 100) AS BIGINT) % 1000 AS v FROM events WHERE event_id % 2 = 1"}}],
        "loader": {"memory": {}} }""")
        .select("n_cur", "n_base", "distinct_vals", "ks_num", "ks", "ks_at")
    },
    "ewma_smooth" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-user EWMA of integer cents (α = 0.25, window 16): the
      // seed-first left fold is the same op tree DuckDB's list_reduce
      // executes, so the doubles are bit-identical
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, user_id % 50 AS uid, ts, CAST(round(value * 100) AS BIGINT) AS cents FROM events"}},
          {"ewma": {"field": "cents", "keyField": "uid",
            "tsField": "ts", "tieField": "event_id",
            "alpha": 0.25, "window": 16}}],
        "loader": {"memory": {}} }""")
        .select("event_id", "cents", "cents_ewma")
        .orderBy("event_id")
    },
    "cumulate_running" -> { (s, dir) =>
      val c = ctx(s, dir)
      // per-user running event count + exact integer-cents running
      // spend: ONE keyed window, event_id completes the total order
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents FROM events"}},
          {"cumulate": {"keyField": "user_id", "tsField": "ts",
            "tieField": "event_id", "valueFields": ["cents"]}}],
        "loader": {"memory": {}} }""")
        .select("event_id", "cum_n", "cents_cumsum").orderBy("event_id")
    },
    "kanonymity_filter" -> { (s, dir) =>
      val c = ctx(s, dir)
      // k-anonymity release filter over a (nullable event_type, user)
      // quasi tuple: rows in groups smaller than k=3 are withheld;
      // planted NULLs must form their own group (null-safe grouping)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, CASE WHEN event_id % 13 = 0 THEN NULL ELSE event_type END AS etype, user_id FROM events"}},
          {"kanonymity": {"fields": ["etype", "user_id"], "k": 3}}],
        "loader": {"memory": {}} }""")
        .select("event_id", "etype", "user_id").orderBy("event_id")
    },
    "kanonymity_ldiv" -> { (s, dir) =>
      val c = ctx(s, dir)
      // l-diversity on top of k: release only (event_type, user-band)
      // groups of >= 4 rows that ALSO carry >= 3 distinct value-bands
      // of the sensitive column (flag mode keeps every row)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT event_id, event_type, user_id % 37 AS band, CAST(round(value * 100) AS BIGINT) % 5 AS sens FROM events"}},
          {"kanonymity": {"fields": ["event_type", "band"], "k": 4,
            "l": 3, "sensitiveField": "sens", "action": "flag"}}],
        "loader": {"memory": {}} }""")
        .select("event_id", "event_type", "band", "k_anonymous")
        .orderBy("event_id")
    },
    "chi_square" -> { (s, dir) =>
      val c = ctx(s, dir)
      // χ² feature–class association (nullable feature, binary class):
      // exact long contingency counts, decimal cross-product diff, one
      // fixed-order IEEE finish — hash-exact doubles
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/region.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"command": {"command":
            "SELECT CASE WHEN event_id % 17 = 0 THEN NULL ELSE event_type END AS feature, user_id % 2 AS class FROM events"}},
          {"chisquare": {"featureField": "feature", "classField": "class"}}],
        "loader": {"memory": {}} }""")
        .select("feature", "class", "n11", "n_feature", "n_class", "n", "chi2")
        .orderBy("feature", "class")
    },
    "collocations_pmi" -> { (s, dir) =>
      val c = ctx(s, dir)
      // corpus bigram collocations ranked by integer-bits PMI (the
      // tokeninfo length(bin(·)) rule — no libm log): one corpus agg,
      // marginals re-aggregate the pair table
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"collocations": {"field": "text", "minCount": 3}}],
        "loader": {"memory": {}} }""")
        .select("w1", "w2", "n_xy", "n_x", "n_y", "pmi_bits")
        .orderBy("w1", "w2")
    },
    "cooccur_window" -> { (s, dir) =>
      val c = ctx(s, dir)
      // skip-gram co-occurrence at window 3 (the word2vec context):
      // three zip streams concatenated per row, same integer-bits PMI;
      // the oracle rebuilds pairs via a positional self-join
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$dir/documents.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [
          {"collocations": {"field": "text", "window": 3,
            "minCount": 60}}],
        "loader": {"memory": {}} }""")
        .select("w1", "w2", "n_xy", "n_x", "n_y", "pmi_bits")
        .orderBy("w1", "w2")
    },
    "mm_audio_levels" -> { (s, dir) =>
      val c = ctx(s, dir); val fx = fixtures(s, dir)
      // PCM SAMPLE statistics from the real WAV bytes: peak amplitude,
      // RMS energy, zero ratio — the oracle recomputes the fixture's
      // per-sample arithmetic ((id·31 + i·7) mod 8192) independently
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$fx/audio_parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"mm_audio_stats": {"idField": "media_id"}}],
        "loader": {"memory": {}} }""")
        .select("media_id", "n_values", "peak_abs", "rms", "zero_ratio")
        .orderBy("media_id")
    },
  )

  // -----------------------------------------------------------------------
  // DuckDB oracle SQL — same tables (driver reads the sf parquet), same
  // column aliases, same ORDER BY. Omitted for the probabilistic /
  // map-valued queries (driver records a rows-only check for those).
  // -----------------------------------------------------------------------

  private val toks = raw"regexp_split_to_array(trim(text), '\s+')"
  private def shingles(rel: String): String =
    s"CASE WHEN len($toks) < 3 THEN [array_to_string($toks, ' ')] " +
    s"ELSE list_distinct(list_transform(generate_series(1, len($toks) - 2), " +
    s"i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2])) END"

  /** Shared CTE prefix for the substring-span oracles: word `k`-grams
    * with 1-based positions, cross-document duplicated grams, and
    * maximal merged spans (gaps-and-islands) — the DuckDB mirror of
    * DedupStages.substringSpans. */
  private def substringSpanCte(k: Int): String =
    s"WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
    s"g0 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws) - $k + 2, 1)), " +
    s"i -> struct_pack(p := i, g := array_to_string(list_slice(ws, i, i + $k - 1), ' ')))) AS e FROM w), " +
    s"grams AS (SELECT doc_id, e.p AS pos, e.g AS gram FROM g0), " +
    s"dup AS (SELECT gram FROM grams GROUP BY gram HAVING min(doc_id) <> max(doc_id)), " +
    s"hits AS (SELECT doc_id, pos FROM grams WHERE gram IN (SELECT gram FROM dup)), " +
    s"isl AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM hits), " +
    s"spans AS (SELECT doc_id, min(pos) AS s, max(pos) - min(pos) + $k AS len FROM isl GROUP BY doc_id, grp) "

  def oracleSql: Map[String, String] = Map(
    "file_row_count" -> "SELECT count(*) AS n_lines FROM nation",
    "csv_typed" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "file_gzip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "csv_badcells" ->
      ("SELECT n_nationkey, n_name, " +
       "CASE WHEN n_nationkey % 5 = 2 THEN NULL ELSE n_regionkey END AS n_regionkey " +
       "FROM nation ORDER BY n_nationkey"),
    "csv_skiprange" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey >= 5 ORDER BY n_nationkey",
    "csv_quarantine" ->
      ("SELECT n_nationkey, 'n_regionkey' AS errors FROM nation WHERE n_nationkey % 5 = 2 " +
       "UNION ALL SELECT -1 AS n_nationkey, 'clean_rows=' || CAST((SELECT count(*) FROM nation WHERE n_nationkey % 5 <> 2) AS VARCHAR) AS errors " +
       "ORDER BY n_nationkey"),
    "json_lines" ->
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders ORDER BY o_orderkey",
    "json_array" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "jdbc_roundtrip" ->
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey",
    "jdbc_partitioned" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_orderkey",
    "input_stdin" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "output_loader" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "orientdb_plocal" ->
      ("SELECT s_suppkey, s_name, s_nationkey, s_acctbal, true AS schema_ok " +
       "FROM supplier ORDER BY s_suppkey"),
    "pipeline_stats" ->
      ("SELECT (SELECT count(*) FROM orders) AS rows_extracted, " +
       "(SELECT count(*) FROM orders WHERE NOT (o_totalprice > 150000)) AS rows_loaded, " +
       "(SELECT count(*) FROM orders WHERE NOT (o_totalprice > 150000) " +
       "AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey <= 500)) AS warnings, " +
       "CAST(0 AS BIGINT) AS errors"),
    "block_code" ->
      "SELECT count(*) AS n_top FROM nation WHERE n_nationkey < 10",
    "etl_map_entries" ->
      ("SELECT c.c_custkey, array_to_string(list_sort(list(o.o_orderkey || ':' || o.o_orderstatus)), ',') AS entries " +
       "FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey GROUP BY c.c_custkey ORDER BY c_custkey"),
    "cosine_dup_exact" ->
      ("WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) " +
       "SELECT a.vec_id AS a, b.vec_id AS b FROM v a JOIN v b ON a.vec_id < b.vec_id " +
       "WHERE list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.4 " +
       "ORDER BY a, b"),
    "field_expr" ->
      "SELECT n_nationkey, n_name, n_regionkey, upper(n_name) AS upper_name FROM nation ORDER BY n_nationkey",
    "field_if" ->
      "SELECT p_partkey, p_size, p_retailprice, CASE WHEN p_size > 20 THEN p_retailprice + 10 END AS bonus FROM part ORDER BY p_partkey",
    "field_remove" ->
      "SELECT s_suppkey, s_name, s_nationkey FROM supplier ORDER BY s_suppkey",
    "rename_fields" ->
      "SELECT n_nationkey, n_name AS name, n_regionkey FROM nation ORDER BY n_nationkey",
    "json_transform" ->
      "SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events ORDER BY event_id",
    "flow_skip" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE NOT (l_quantity > 45) ORDER BY l_orderkey, l_linenumber",
    "flow_halt_pass" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "merge_upsert" ->
      "SELECT c_custkey, c_name, c_nationkey, CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey",
    "link_fk" ->
      "SELECT o.o_orderkey, o.o_custkey, c.c_custkey AS cust_link FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey ORDER BY o_orderkey",
    "link_skip" ->
      "SELECT o.o_orderkey, c.c_custkey AS cust_link FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_custkey <= 500 ORDER BY o_orderkey",
    "link_create" ->
      "SELECT o_orderkey, CASE WHEN o_orderkey % 100 = 0 THEN o_custkey + 2000000 ELSE o_custkey END AS cust_link FROM orders ORDER BY o_orderkey",
    "link_list" ->
      "SELECT l.l_orderkey, array_to_string(list_sort(list(s.s_suppkey)), ',') AS supp_links FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey GROUP BY l.l_orderkey ORDER BY l_orderkey",
    "vertex_label" ->
      "SELECT CAST(c_custkey AS VARCHAR) AS id, 'customer' AS label, c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey",
    "edge_graph" ->
      "SELECT CAST(o_orderkey AS VARCHAR) AS src, CAST(c_custkey AS VARCHAR) AS dst, 'placed' AS label FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY src, dst",
    "graph_degree" ->
      ("SELECT CAST(c_custkey AS VARCHAR) AS id, count(*) AS degree " +
       "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1 ORDER BY id"),
    "graph_motif" ->
      ("WITH e AS (SELECT CAST(o_orderkey AS VARCHAR) AS src, " +
       "CAST(c_custkey AS VARCHAR) AS dst " +
       "FROM orders JOIN customer ON o_custkey = c_custkey) " +
       "SELECT e1.src AS a, e2.src AS b, e1.dst AS c FROM e e1 " +
       "JOIN e e2 ON e1.dst = e2.dst WHERE e1.src < e2.src ORDER BY a, b"),
    "command_gremlin" ->
      ("SELECT CAST(o2.o_orderkey AS VARCHAR) AS id, 'order' AS label " +
       "FROM orders o1 JOIN orders o2 ON o1.o_custkey = o2.o_custkey " +
       "ORDER BY id"),
    // match() solution-set = the SQL join its patterns denote
    "command_gremlin_match" ->
      ("SELECT CAST(a.o_orderkey AS VARCHAR) AS o, " +
       "CAST(a.o_custkey AS VARCHAR) AS c, " +
       "CAST(b.o_orderkey AS VARCHAR) AS o2 " +
       "FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey " +
       "ORDER BY o, c, o2"),
    // bag concatenation across both union branches, then one count per
    // id: orders-placed (customer branch) + 1 where the id is an order
    "command_gremlin_union" ->
      ("WITH u AS (SELECT CAST(o_custkey AS VARCHAR) AS id FROM orders " +
       "UNION ALL SELECT CAST(o_orderkey AS VARCHAR) FROM orders) " +
       "SELECT id, count(*) AS count FROM u GROUP BY id ORDER BY id"),
    // depth-3 walk over the broken-3-cycle successor graph; survivors
    // land off-origin (the gremlin where(neq('a')) filter)
    "command_gremlin_repeat" ->
      ("WITH RECURSIVE e AS (SELECT CAST(c_custkey AS VARCHAR) AS src, " +
       "CAST(CASE WHEN c_custkey % 7 = 0 THEN c_custkey WHEN c_custkey % 3 = 0 THEN c_custkey - 2 ELSE c_custkey + 1 END AS VARCHAR) AS dst FROM customer), " +
       "walk(a, cur, d) AS (" +
       "SELECT src, src, 0 FROM e " +
       "UNION ALL SELECT w.a, e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.cur WHERE w.d < 3) " +
       "SELECT DISTINCT a AS id, 'customer' AS label FROM walk " +
       "WHERE d = 3 AND cur <> a ORDER BY id"),
    "command_gremlin_path" ->
      ("SELECT CAST(o_orderkey AS VARCHAR) || '->' || CAST(o_custkey AS VARCHAR) " +
       "AS path FROM orders ORDER BY path"),
    "command_gremlin_edges" ->
      ("SELECT CAST(o_custkey AS VARCHAR) AS id, count(*) AS count " +
       "FROM orders WHERE o_totalprice > 150000.0 GROUP BY 1 ORDER BY id"),
    "command_gremlin_estart" ->
      ("SELECT CAST(o_orderkey AS VARCHAR) AS id FROM orders " +
       "WHERE o_totalprice > 300000.0 ORDER BY id"),
    "command_gremlin_simplepath" ->
      // class-vertex model: a landed id re-attaches to every class
      // registered for it, so an intermediate customer id that equals
      // an order id on the path IS a revisit (id 1177 placed by
      // customer 1177) — the oracle encodes the same rule
      ("SELECT CAST(o1.o_orderkey AS VARCHAR) || '->' || " +
       "CAST(o1.o_custkey AS VARCHAR) || '->' || " +
       "CAST(o2.o_orderkey AS VARCHAR) AS path " +
       "FROM orders o1 JOIN orders o2 ON o1.o_custkey = o2.o_custkey " +
       "WHERE o1.o_orderkey <> o2.o_orderkey " +
       "AND o1.o_custkey <> o1.o_orderkey " +
       "AND o1.o_custkey <> o2.o_orderkey ORDER BY path"),
    "command_gremlin_valuemap" ->
      ("SELECT '{\"o_orderstatus\":[\"' || o_orderstatus || " +
       "'\"],\"o_orderpriority\":[\"' || o_orderpriority || " +
       "'\"]}' AS value FROM orders WHERE CAST(o_orderkey AS VARCHAR) IN " +
       "('1', '2', '3', '4', '5', '6', '7', '32', '33') ORDER BY value"),
    "command_gremlin_elementmap" ->
      ("SELECT '{\"id\":\"' || CAST(c_custkey AS VARCHAR) || " +
       "'\",\"label\":\"customer\",\"c_mktsegment\":\"' || c_mktsegment || " +
       "'\"}' AS value FROM customer WHERE CAST(c_custkey AS VARCHAR) IN " +
       "('1', '2', '3', '4', '5') ORDER BY value"),
    "command_gremlin_order" ->
      ("SELECT id AS value FROM (SELECT CAST(c_custkey AS VARCHAR) AS id " +
       "FROM customer ORDER BY id DESC OFFSET 10 LIMIT 10) ORDER BY value"),
    "command_gremlin_pred" ->
      ("SELECT id AS value FROM (SELECT CAST(c_custkey AS VARCHAR) AS id " +
       "FROM customer WHERE CAST(c_custkey AS VARCHAR) > '500' " +
       "AND CAST(c_custkey AS VARCHAR) NOT IN ('501', '502') " +
       "ORDER BY id LIMIT 15) ORDER BY value"),
    "command_gremlin_paging" ->
      ("SELECT value FROM (SELECT CAST(o_orderkey AS VARCHAR) AS value, o_totalprice " +
       "FROM orders ORDER BY o_totalprice DESC, value ASC LIMIT 10 OFFSET 5) " +
       "ORDER BY value"),
    "command_gremlin_tail" ->
      ("SELECT value FROM (SELECT CAST(o_orderkey AS VARCHAR) AS value, o_totalprice " +
       "FROM orders ORDER BY o_totalprice ASC, value DESC LIMIT 10) " +
       "ORDER BY value"),
    "command_gremlin_label" ->
      "SELECT 'order' AS value, count(*) AS count FROM orders",
    "command_gremlin_groupcount" ->
      ("SELECT CAST(o_custkey AS VARCHAR) AS id, count(*) AS count " +
       "FROM orders JOIN customer ON o_custkey = c_custkey " +
       "GROUP BY 1 ORDER BY id"),
    "command_gremlin_group" ->
      ("SELECT c_mktsegment AS key, max(c_acctbal) AS value " +
       "FROM customer GROUP BY 1 ORDER BY key"),
    "command_gremlin_agg" ->
      ("SELECT CAST(sum(c_custkey) AS BIGINT) AS sum FROM customer " +
       "WHERE c_mktsegment = 'BUILDING'"),
    // BUILDING customers land on their resolvable successor, the rest
    // on themselves (branch option routing), counted per landed id
    "command_gremlin_branch" ->
      ("WITH s AS (SELECT c_custkey, c_mktsegment, " +
       "CASE WHEN c_custkey % 2 = 1 THEN NULL WHEN c_custkey % 7 = 0 THEN c_custkey " +
       "WHEN c_custkey % 3 = 0 THEN c_custkey - 2 ELSE c_custkey + 1 END AS succ " +
       "FROM customer), " +
       "land AS (SELECT CAST(c2.c_custkey AS VARCHAR) AS id FROM s " +
       "JOIN customer c2 ON c2.c_custkey = s.succ WHERE s.c_mktsegment = 'BUILDING' " +
       "UNION ALL SELECT CAST(c_custkey AS VARCHAR) FROM s " +
       "WHERE c_mktsegment <> 'BUILDING') " +
       "SELECT id, count(*) AS count FROM land GROUP BY id ORDER BY id"),
    // per order: the 2 string-first sibling orders of its customer,
    // then counts over the kept bag (local().limit top-n semantics)
    "command_gremlin_local" ->
      ("WITH sib AS (SELECT o1.o_orderkey AS src, " +
       "CAST(o2.o_orderkey AS VARCHAR) AS id " +
       "FROM orders o1 JOIN orders o2 ON o1.o_custkey = o2.o_custkey), " +
       "ranked AS (SELECT src, id, " +
       "row_number() OVER (PARTITION BY src ORDER BY id) AS rn FROM sib) " +
       "SELECT id, count(*) AS count FROM ranked WHERE rn <= 2 " +
       "GROUP BY id ORDER BY id"),
    // bound-vertex property projection: source balance + successor id
    "command_gremlin_selectby" ->
      ("WITH s AS (SELECT c_custkey, c_acctbal, " +
       "CASE WHEN c_custkey % 2 = 1 THEN NULL WHEN c_custkey % 7 = 0 THEN c_custkey " +
       "WHEN c_custkey % 3 = 0 THEN c_custkey - 2 ELSE c_custkey + 1 END AS succ " +
       "FROM customer) " +
       "SELECT s.c_acctbal AS a, CAST(c2.c_custkey AS VARCHAR) AS b " +
       "FROM s JOIN customer c2 ON c2.c_custkey = s.succ ORDER BY b, a"),
    // per order: its price, sibling-order count and the string-min
    // sibling id of the same customer (the project sub-traversals)
    "command_gremlin_sack" ->
      ("SELECT CAST(7 + o_custkey - o_orderkey AS BIGINT) AS value " +
       "FROM orders ORDER BY value"),
    "command_gremlin_subgraph" ->
      ("SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS src, " +
       "'placed' AS label, CAST(o_custkey AS VARCHAR) AS dst " +
       "FROM orders JOIN customer ON o_custkey = c_custkey " +
       "WHERE o_orderstatus = 'F' ORDER BY src, dst"),
    "command_gremlin_by_traversal" ->
      ("WITH sib AS (SELECT o1.o_orderkey AS k, o1.o_orderstatus AS st, " +
       "count(o2.o_orderkey) AS n FROM orders o1 " +
       "LEFT JOIN orders o2 ON o2.o_custkey = o1.o_custkey GROUP BY 1, 2) " +
       "SELECT st AS key, CAST(sum(n) AS BIGINT) AS value FROM sib " +
       "GROUP BY 1 ORDER BY key"),
    "command_gremlin_orderby" ->
      ("WITH sib AS (SELECT CAST(o1.o_orderkey AS VARCHAR) AS oid, " +
       "count(*) AS n FROM orders o1 " +
       "JOIN orders o2 ON o2.o_custkey = o1.o_custkey GROUP BY 1) " +
       "SELECT value FROM (SELECT oid AS value FROM sib " +
       "ORDER BY n DESC, oid ASC LIMIT 10) ORDER BY value"),
    "command_gremlin_project" ->
      ("WITH sib AS (SELECT o_custkey, count(*) AS siblings, " +
       "min(CAST(o_orderkey AS VARCHAR)) AS firstsib FROM orders " +
       "JOIN customer ON o_custkey = c_custkey GROUP BY 1) " +
       "SELECT CAST(o_orderkey AS VARCHAR) AS oid, o_totalprice AS price, " +
       "sib.siblings, sib.firstsib FROM orders JOIN sib USING (o_custkey) " +
       "ORDER BY oid"),
    // every frontier of the bounded walk; the recursion gate `d = 0 OR
    // cur NOT IN stops` is the do-while until (seeds always hop once)
    "command_gremlin_emit" ->
      ("WITH RECURSIVE e AS (SELECT CAST(c_custkey AS VARCHAR) AS src, " +
       "CAST(CASE WHEN c_custkey % 7 = 0 THEN c_custkey WHEN c_custkey % 3 = 0 THEN c_custkey - 2 ELSE c_custkey + 1 END AS VARCHAR) AS dst FROM customer), " +
       "walk(cur, d) AS (" +
       "SELECT src, 0 FROM e WHERE src IN ('5', '10', '21') " +
       "UNION ALL SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.cur " +
       "WHERE w.d < 12 AND (w.d = 0 OR w.cur NOT IN ('4', '12', '21'))) " +
       "SELECT cur AS id FROM walk ORDER BY id"),
    // the edge-creation rule mirrored with NOT EXISTS: no resolvable
    // successor -> no out-edge -> not(out()) keeps the vertex
    "command_gremlin_not" ->
      ("WITH s AS (SELECT c_custkey, CASE WHEN c_custkey % 2 = 1 THEN NULL " +
       "WHEN c_custkey % 7 = 0 THEN c_custkey WHEN c_custkey % 3 = 0 THEN c_custkey - 2 " +
       "ELSE c_custkey + 1 END AS succ FROM customer) " +
       "SELECT CAST(c_custkey AS VARCHAR) AS id, 'customer' AS label FROM s " +
       "WHERE succ IS NULL OR NOT EXISTS (SELECT 1 FROM customer c2 WHERE c2.c_custkey = s.succ) " +
       "ORDER BY id"),
    // even customers take the successor-hop branch, odd ones fall
    // through to the identity filter (coalesce precedence)
    "command_gremlin_coalesce" ->
      ("SELECT CASE WHEN c_custkey % 2 = 0 THEN " +
       "CAST(CASE WHEN c_custkey % 7 = 0 THEN c_custkey WHEN c_custkey % 3 = 0 THEN c_custkey - 2 ELSE c_custkey + 1 END AS VARCHAR) " +
       "ELSE CAST(c_custkey AS VARCHAR) END AS id, 'customer' AS label " +
       "FROM customer ORDER BY id"),
    // even customers land on their (resolvable) successor, odd ones on
    // themselves — the optional() identity fallback as LEFT JOIN+COALESCE
    "command_gremlin_optional" ->
      ("WITH s AS (SELECT c_custkey, CASE WHEN c_custkey % 2 = 1 THEN NULL " +
       "WHEN c_custkey % 7 = 0 THEN c_custkey WHEN c_custkey % 3 = 0 THEN c_custkey - 2 " +
       "ELSE c_custkey + 1 END AS succ FROM customer), " +
       "land AS (SELECT COALESCE(CAST(c2.c_custkey AS VARCHAR), " +
       "CAST(s.c_custkey AS VARCHAR)) AS id " +
       "FROM s LEFT JOIN customer c2 ON c2.c_custkey = s.succ) " +
       "SELECT id, count(*) AS count FROM land GROUP BY id ORDER BY id"),
    "graph_triangle" ->
      ("WITH e AS (SELECT CAST(c_custkey AS VARCHAR) AS src, " +
       "CAST(CASE WHEN c_custkey % 3 = 0 THEN c_custkey - 2 ELSE c_custkey + 1 END AS VARCHAR) AS dst " +
       "FROM customer) " +
       "SELECT e1.src AS x, e2.src AS y, e3.src AS z FROM e e1 " +
       "JOIN e e2 ON e2.src = e1.dst JOIN e e3 ON e3.src = e2.dst AND e3.dst = e1.src " +
       "WHERE e1.src < e2.src AND e1.src < e3.src ORDER BY x, y, z"),
    "graph_cc" ->
      ("WITH ids AS (" +
       "SELECT 'c' || CAST(c_custkey AS VARCHAR) AS id, n_regionkey AS rg " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "UNION ALL SELECT 'n' || CAST(n_nationkey AS VARCHAR), n_regionkey FROM nation " +
       "UNION ALL SELECT 'r' || CAST(r_regionkey AS VARCHAR), r_regionkey FROM region), " +
       "m AS (SELECT rg, min(id) AS component FROM ids GROUP BY rg) " +
       "SELECT ids.id, m.component FROM ids JOIN m USING (rg) ORDER BY id"),
    "graph_labelprop" -> {
      // 3 unrolled synchronous LPA iterations, min-tie-break argmax via
      // QUALIFY-free row_number (windows evaluate after GROUP BY)
      val steps = (1 to 3).map(i =>
        s"l$i AS (SELECT n.id, coalesce(w.l, n.id) AS community " +
        s"FROM nodes n LEFT JOIN (" +
        s"SELECT id, community AS l FROM (" +
        s"SELECT u.a AS id, p.community, " +
        s"row_number() OVER (PARTITION BY u.a ORDER BY count(*) DESC, p.community ASC) AS rn " +
        s"FROM u JOIN l${i - 1} p ON p.id = u.b GROUP BY u.a, p.community) " +
        s"WHERE rn = 1) w ON w.id = n.id)").mkString(", ")
      "WITH e AS (" +
      "SELECT 'c' || CAST(c_custkey AS VARCHAR) AS src, 'n' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer " +
      "UNION ALL SELECT 'n' || CAST(n_nationkey AS VARCHAR), 'r' || CAST(n_regionkey AS VARCHAR) FROM nation), " +
      "u AS (SELECT DISTINCT a, b FROM (SELECT src AS a, dst AS b FROM e " +
      "UNION ALL SELECT dst, src FROM e)), " +
      "nodes AS (SELECT DISTINCT a AS id FROM u), " +
      "l0 AS (SELECT id, id AS community FROM nodes), " +
      steps +
      " SELECT id, community FROM l3 ORDER BY id"
    },
    "graph_kcore" ->
      // group-size-aware (fixture keys may start at 0 OR 1 after a
      // regeneration): a clique of size s survives k=2 iff s >= 3,
      // at in-core degree s-1
      ("WITH g AS (SELECT c_custkey, c_custkey // 4 AS grp FROM customer WHERE c_custkey < 200), " +
       "sz AS (SELECT grp, count(*) AS s FROM g GROUP BY 1) " +
       "SELECT 'v' || CAST(g.c_custkey AS VARCHAR) AS id, CAST(sz.s - 1 AS BIGINT) AS degree " +
       "FROM g JOIN sz USING (grp) WHERE sz.s >= 3 " +
       "UNION ALL SELECT 'v' || CAST(c_custkey AS VARCHAR), CAST(2 AS BIGINT) " +
       "FROM customer WHERE c_custkey BETWEEN 1000 AND 1040 ORDER BY id"),
    "graph_coreness" ->
      // group-size-aware like graph_kcore: a clique of size s has
      // coreness s-1 (size-1 groups have no edges and are absent)
      ("WITH g AS (SELECT c_custkey, c_custkey // 4 AS grp FROM customer WHERE c_custkey < 200), " +
       "sz AS (SELECT grp, count(*) AS s FROM g GROUP BY 1) " +
       "SELECT 'v' || CAST(g.c_custkey AS VARCHAR) AS id, CAST(sz.s - 1 AS BIGINT) AS coreness " +
       "FROM g JOIN sz USING (grp) WHERE sz.s >= 2 " +
       "UNION ALL SELECT 'v' || CAST(c_custkey AS VARCHAR), CAST(1 AS BIGINT) " +
       "FROM customer WHERE c_custkey >= 200 AND c_custkey < 515 " +
       "UNION ALL SELECT 'v' || CAST(c_custkey AS VARCHAR), CAST(2 AS BIGINT) " +
       "FROM customer WHERE c_custkey BETWEEN 1000 AND 1040 ORDER BY id"),
    "graph_clustering" ->
      // size-aware like graph_kcore: a clique of size s gives degree
      // s-1, triangles (s-1)(s-2)/2, coef 1.0 (s >= 3)
      ("WITH g AS (SELECT c_custkey, c_custkey // 4 AS grp FROM customer WHERE c_custkey < 200), " +
       "sz AS (SELECT grp, count(*) AS s FROM g GROUP BY 1) " +
       "SELECT 'v' || CAST(g.c_custkey AS VARCHAR) AS id, CAST(sz.s - 1 AS BIGINT) AS degree, " +
       "CAST((sz.s - 1) * (sz.s - 2) // 2 AS BIGINT) AS triangles, " +
       "CAST(CASE WHEN sz.s >= 3 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS clustering_coef " +
       "FROM g JOIN sz USING (grp) WHERE sz.s >= 2 " +
       "UNION ALL SELECT 'v' || CAST(c_custkey AS VARCHAR), CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE) " +
       "FROM customer WHERE c_custkey >= 200 AND c_custkey < 500 " +
       "UNION ALL SELECT 'v' || CAST(c_custkey AS VARCHAR), CAST(CASE WHEN c_custkey IN (500, 514) THEN 1 ELSE 2 END AS BIGINT), CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE) " +
       "FROM customer WHERE c_custkey BETWEEN 500 AND 514 " +
       "UNION ALL SELECT 'v' || CAST(c_custkey AS VARCHAR), CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE) " +
       "FROM customer WHERE c_custkey BETWEEN 1000 AND 1040 ORDER BY id"),
    "graph_scc" ->
      // complete (n=4) groups are directed cycles → one SCC keyed by
      // the group minimum; a partial boundary group (keys may start at
      // 0 or 1) is a path → every member its own singleton SCC
      ("WITH v AS (SELECT c_custkey AS k, c_custkey // 4 AS g FROM customer WHERE c_custkey < 160), " +
       "sz AS (SELECT g, count(*) AS n, min(k) AS mn FROM v GROUP BY 1) " +
       "SELECT 'v' || lpad(CAST(v.k AS VARCHAR), 6, '0') AS id, " +
       "CASE WHEN sz.n = 4 THEN 'v' || lpad(CAST(sz.mn AS VARCHAR), 6, '0') " +
       "ELSE 'v' || lpad(CAST(v.k AS VARCHAR), 6, '0') END AS scc_id " +
       "FROM v JOIN sz ON v.g = sz.g ORDER BY id"),
    "class_balance" ->
      ("WITH b AS (SELECT event_id, CASE WHEN event_id % 4 < 3 THEN 'common' ELSE event_type END AS cls FROM events), " +
       "c AS (SELECT cls, count(*) AS nc FROM b GROUP BY 1), " +
       "t AS (SELECT min(nc) AS tgt FROM c) " +
       "SELECT event_id, cls FROM b JOIN c USING (cls), t " +
       "WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|' || cls), 1, 6))::BIGINT % 10000 < least(10000, (tgt * 10000) // nc) " +
       "ORDER BY event_id"),
    "graph_metrics" ->
      ("WITH v AS (SELECT c_custkey AS k FROM customer WHERE c_custkey < 40), " +
       "heads AS (SELECT k FROM v WHERE k % 8 = 0), " +
       "e0 AS (SELECT a.k AS s, b.k AS d FROM v a JOIN v b ON b.k = a.k + 1 " +
       "UNION ALL SELECT v.k, h.k FROM v JOIN heads h ON h.k = (v.k // 8) * 8), " +
       "e AS (SELECT DISTINCT s, d FROM e0), " +
       "verts AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM (SELECT s AS x FROM e UNION SELECT d FROM e)), " +
       "ne AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e), " +
       "od AS (SELECT CAST(max(c) AS BIGINT) AS mo FROM (SELECT s, count(*) AS c FROM e GROUP BY 1)), " +
       "idg AS (SELECT CAST(max(c) AS BIGINT) AS mi FROM (SELECT d, count(*) AS c FROM e GROUP BY 1)) " +
       "SELECT nv AS n_vertices, n AS n_edges, mo AS max_out_degree, mi AS max_in_degree, " +
       "CAST(n * 2 AS DOUBLE) / CAST(nv AS DOUBLE) AS avg_degree, " +
       "CASE WHEN nv >= 2 THEN CAST(n AS DOUBLE) / CAST(nv * (nv - 1) AS DOUBLE) END AS density " +
       "FROM verts, ne, od, idg"),
    "graph_assort" ->
      ("WITH v AS (SELECT c_custkey AS k FROM customer WHERE c_custkey < 40), " +
       "heads AS (SELECT k FROM v WHERE k % 8 = 0), " +
       "e0 AS (SELECT a.k AS s, b.k AS d FROM v a JOIN v b ON b.k = a.k + 1 " +
       "UNION ALL SELECT v.k, h.k FROM v JOIN heads h ON h.k = (v.k // 8) * 8), " +
       "e AS (SELECT DISTINCT s, d FROM e0), " +
       "verts AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM (SELECT s AS x FROM e UNION SELECT d FROM e)), " +
       "ne AS (SELECT CAST(count(*) AS BIGINT) AS n_e FROM e), " +
       "od AS (SELECT s, count(*) AS odg FROM e GROUP BY 1), " +
       "ig AS (SELECT d, count(*) AS idg FROM e GROUP BY 1), " +
       "p AS (SELECT od.odg AS x, ig.idg AS y FROM e JOIN od USING (s) JOIN ig USING (d)), " +
       "a AS (SELECT count(*) AS n, CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy, " +
       "CAST(sum(x * y) AS DOUBLE) AS sxy, CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(y * y) AS DOUBLE) AS syy FROM p), " +
       "c AS (SELECT n, CAST(n AS DOUBLE) * sxy - sx * sy AS cov, " +
       "CAST(n AS DOUBLE) * sxx - sx * sx AS vx, CAST(n AS DOUBLE) * syy - sy * sy AS vy FROM a) " +
       "SELECT verts.nv AS n_vertices, ne.n_e AS n_edges, " +
       "CASE WHEN vx > 0 AND vy > 0 THEN cov / (sqrt(vx) * sqrt(vy)) END AS assortativity " +
       "FROM verts, ne, c"),
    "topo_sort" ->
      // +1-chained component: layer = k − min(k); +2-chained component:
      // two parity chains from 100/101, layer = (k−100) div 2
      ("WITH v AS (SELECT c_custkey AS k FROM customer WHERE c_custkey < 13), " +
       "m AS (SELECT min(k) AS mk FROM v), " +
       "c1 AS (SELECT k, k - mk AS layer FROM v, m), " +
       "c2 AS (SELECT c_custkey AS k, (c_custkey - 100) // 2 AS layer FROM customer WHERE c_custkey >= 100 AND c_custkey < 124) " +
       "SELECT 'v' || lpad(CAST(k AS VARCHAR), 6, '0') AS id, CAST(layer AS BIGINT) AS layer " +
       "FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2) t ORDER BY id"),
    "graph_bfs" ->
      ("WITH RECURSIVE e AS (" +
       "SELECT 'c' || CAST(c_custkey AS VARCHAR) AS src, 'n' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer " +
       "UNION ALL SELECT 'n' || CAST(n_nationkey AS VARCHAR), 'r' || CAST(n_regionkey AS VARCHAR) FROM nation), " +
       "u AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e), " +
       "walk(id, dist) AS (SELECT 'c1', 0 UNION ALL " +
       "SELECT u.dst, w.dist + 1 FROM walk w JOIN u ON u.src = w.id WHERE w.dist < 3) " +
       "SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY id ORDER BY id"),
    // bounded Bellman–Ford mirror: every ≤6-edge path enumerates in the
    // recursive CTE (branch factor 2), min per node
    "shortest_paths" ->
      ("WITH RECURSIVE e AS (" +
       "SELECT CAST(c.c_custkey AS VARCHAR) AS src, CAST(c.c_custkey + 1 AS VARCHAR) AS dst, 2.0 AS w " +
       "FROM customer c WHERE EXISTS (SELECT 1 FROM customer c2 WHERE c2.c_custkey = c.c_custkey + 1) " +
       "UNION ALL SELECT CAST(c.c_custkey AS VARCHAR), CAST(c.c_custkey + 3 AS VARCHAR), 5.0 " +
       "FROM customer c WHERE EXISTS (SELECT 1 FROM customer c2 WHERE c2.c_custkey = c.c_custkey + 3)), " +
       "walk(id, d, h) AS (" +
       "SELECT id, CAST(0 AS DOUBLE), 0 FROM (VALUES ('7'), ('500')) t(id) " +
       "UNION ALL SELECT e.dst, wk.d + e.w, wk.h + 1 FROM walk wk " +
       "JOIN e ON e.src = wk.id WHERE wk.h < 6) " +
       "SELECT id, CAST(round(min(d)) AS BIGINT) AS dist FROM walk GROUP BY id ORDER BY id"),
    "pagerank_weighted" -> {
      // weighted mirror of the pagerank oracle: deg = Σw per src
      // (integer-valued — exact), contrib = rank·w/deg; the customer→
      // order direction gives every dst ONE in-edge (no float-sum
      // ordering anywhere)
      val steps = (1 to 5).map(i =>
        s"p$i AS (SELECT n.id, 0.15 / nc.n + 0.85 * coalesce(s.csum, 0) AS rank " +
        s"FROM nodes n CROSS JOIN nc LEFT JOIN " +
        s"(SELECT e.dst, sum(p.rank * e.w / dg.d) AS csum FROM p${i - 1} p " +
        s"JOIN e ON e.src = p.id JOIN deg dg ON dg.src = p.id GROUP BY e.dst) s " +
        s"ON s.dst = n.id)").mkString(", ")
      "WITH e AS (SELECT CAST(c_custkey AS VARCHAR) AS src, CAST(o_orderkey AS VARCHAR) AS dst, " +
      "CAST(round(o_totalprice) AS DOUBLE) AS w " +
      "FROM orders JOIN customer ON o_custkey = c_custkey), " +
      "nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION SELECT dst AS id FROM e)), " +
      "nc AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), " +
      "deg AS (SELECT src, sum(w) AS d FROM e GROUP BY src), " +
      "p0 AS (SELECT id, 1.0 / nc.n AS rank FROM nodes, nc), " + steps + " " +
      "SELECT id, CAST(floor(rank * 1e6 + 0.499999) AS BIGINT) AS rank_ppm FROM p5 ORDER BY id"
    },
    "pagerank" -> {
      // 5 unrolled iterations (recursive CTEs can't aggregate over the
      // recursive term). rank_ppm quantizes with a GUARD BAND:
      // floor(x*1e6 + 0.499999) equals round() everywhere except values
      // sitting EXACTLY on a .5 ppm boundary — which pagerank produces
      // (many ranks are exact decimal fractions), and which plain
      // round() resolves by the ~1e-13 engine-specific summation-order
      // noise, i.e. by luck. The band (1e-6 ≫ noise) makes boundary
      // sitters round DOWN deterministically in BOTH engines.
      val steps = (1 to 5).map(i =>
        s"p$i AS (SELECT n.id, 0.15 / nc.n + 0.85 * coalesce(s.csum, 0) AS rank " +
        s"FROM nodes n CROSS JOIN nc LEFT JOIN " +
        s"(SELECT e.dst, sum(p.rank / dg.d) AS csum FROM p${i - 1} p " +
        s"JOIN e ON e.src = p.id JOIN deg dg ON dg.src = p.id GROUP BY e.dst) s " +
        s"ON s.dst = n.id)").mkString(", ")
      "WITH e AS (SELECT CAST(o_orderkey AS VARCHAR) AS src, CAST(c_custkey AS VARCHAR) AS dst " +
      "FROM orders JOIN customer ON o_custkey = c_custkey), " +
      "nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION SELECT dst AS id FROM e)), " +
      "nc AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), " +
      "deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY src), " +
      "p0 AS (SELECT id, 1.0 / nc.n AS rank FROM nodes, nc), " + steps + " " +
      "SELECT id, CAST(floor(rank * 1e6 + 0.499999) AS BIGINT) AS rank_ppm FROM p5 ORDER BY id"
    },
    "pagerank_personalized" -> {
      // seeded teleport over the +1/+3 custkey lattice: the reset CASE
      // mirrors the engine's lit(0.15) * reset two-step arithmetic
      // (0.15*0.5 for seeds, 0.15*0.0 else — both exact halvings, so
      // decimal-vs-binary literal parsing agrees); each dst has ≤ 2
      // contributors → one commutative IEEE add per group, zero
      // sum-order noise. p0 IS the reset vector (PPR init)
      val reset = "CASE WHEN n.id IN ('7', '11') THEN 1.0 / 2 ELSE 0.0 END"
      val steps = (1 to 5).map(i =>
        s"p$i AS (SELECT n.id, 0.15 * ($reset) + 0.85 * coalesce(s.csum, 0) AS rank " +
        s"FROM nodes n LEFT JOIN " +
        s"(SELECT e.dst, sum(p.rank / dg.d) AS csum FROM p${i - 1} p " +
        s"JOIN e ON e.src = p.id JOIN deg dg ON dg.src = p.id GROUP BY e.dst) s " +
        s"ON s.dst = n.id)").mkString(", ")
      "WITH e AS (" +
      "SELECT CAST(c.c_custkey AS VARCHAR) AS src, CAST(c.c_custkey + 1 AS VARCHAR) AS dst " +
      "FROM customer c WHERE EXISTS (SELECT 1 FROM customer c2 WHERE c2.c_custkey = c.c_custkey + 1) " +
      "UNION ALL SELECT CAST(c.c_custkey AS VARCHAR), CAST(c.c_custkey + 3 AS VARCHAR) " +
      "FROM customer c WHERE EXISTS (SELECT 1 FROM customer c2 WHERE c2.c_custkey = c.c_custkey + 3)), " +
      "nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION SELECT dst AS id FROM e)), " +
      "deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY src), " +
      "p0 AS (SELECT n.id, " + reset + " AS rank FROM nodes n), " + steps + " " +
      "SELECT id, CAST(floor(rank * 1e6 + 0.499999) AS BIGINT) AS rank_ppm FROM p5 ORDER BY id"
    },
    "graph_neighbors" ->
      ("SELECT o_orderkey, CAST(c_custkey AS VARCHAR) AS neighbors " +
       "FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey"),
    "partitioned_write" ->
      "SELECT s_suppkey, s_name, CAST(s_nationkey AS INTEGER) AS s_nationkey, s_acctbal FROM supplier WHERE s_nationkey = 3 ORDER BY s_suppkey",
    "upsert_write" ->
      "SELECT c_custkey, c_name, c_nationkey, CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey",
    "upsert_bucketed" ->
      "SELECT c_custkey, c_name, c_nationkey, CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey",
    // compaction must preserve every row exactly
    "compact_files" ->
      "SELECT s_suppkey, s_name, CAST(s_nationkey AS INTEGER) AS s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey",
    // both sides compute type-7 quantiles (pos = p·(n−1), linear
    // interpolation) over exact integers — bit-identical
    "group_quantiles" ->
      ("WITH o AS (SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
       "SELECT o_orderpriority, quantile_cont(cents, 0.25) AS p25, " +
       "quantile_cont(cents, 0.5) AS p50, quantile_cont(cents, 0.9) AS p90 " +
       "FROM o GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "winsorize_clip" ->
      ("WITH o AS (SELECT o_orderkey, o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
       "b AS (SELECT o_orderpriority, quantile_cont(cents, 0.1) AS lo, quantile_cont(cents, 0.9) AS hi FROM o GROUP BY 1) " +
       "SELECT o.o_orderkey, o.o_orderpriority, " +
       "least(greatest(CAST(o.cents AS DOUBLE), b.lo), b.hi) AS cents_w, " +
       "(CAST(o.cents AS DOUBLE) < b.lo OR CAST(o.cents AS DOUBLE) > b.hi) AS clipped " +
       "FROM o JOIN b USING (o_orderpriority) ORDER BY o_orderkey"),
    // both engines sum cents and cents^2 EXACTLY (decimal(38,0) /
    // HUGEINT), convert once to double, then apply the identical
    // (x - s/n) / sqrt((ss - s*s/n)/n) operation order — hash-exact
    "zscore_outliers" ->
      ("WITH o AS (SELECT o_orderkey, o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
       // DuckDB's HUGEINT→DOUBLE cast DOUBLE-ROUNDS (upper+lower parts
       // each rounded, then summed) and can land 1 ulp off the
       // correctly-rounded value Spark's decimal→double produces —
       // observed on the sf0.1 5-LOW sum of squares. Splitting at 2^32
       // makes both cast operands exact, so the single IEEE add rounds
       // once, correctly
       "s AS (SELECT o_orderpriority, count(*) AS n, " +
       "  CAST(sum(cents) // 4294967296 AS DOUBLE) * 4294967296.0 + " +
       "    CAST(sum(cents) % 4294967296 AS DOUBLE) AS sm, " +
       "  CAST(sum(cents * cents) // 4294967296 AS DOUBLE) * 4294967296.0 + " +
       "    CAST(sum(cents * cents) % 4294967296 AS DOUBLE) AS ss FROM o GROUP BY 1) " +
       "SELECT o_orderkey, o.o_orderpriority, cents, " +
       "CASE WHEN sqrt((ss - sm * sm / n) / n) > 0 " +
       "  THEN (cents - sm / n) / sqrt((ss - sm * sm / n) / n) END AS cents_z, " +
       "CASE WHEN sqrt((ss - sm * sm / n) / n) > 0 " +
       "  THEN abs((cents - sm / n) / sqrt((ss - sm * sm / n) / n)) > 2.5 END AS cents_z_outlier " +
       "FROM o JOIN s USING (o_orderpriority) ORDER BY o_orderkey"),
    // ground truth by brute force over the bounded probe panel: any
    // candidate the engine's prefix filter missed would change top-1
    "fuzzy_join" ->
      ("WITH p AS (SELECT c_custkey AS probe_id, c_name AS probe_val FROM customer WHERE c_custkey % 97 = 0), " +
       "cand AS (SELECT p.probe_id, p.probe_val, c.c_custkey AS match_id, c.c_name AS match_val, " +
       "  CAST(levenshtein(p.probe_val, c.c_name) AS BIGINT) AS dist " +
       "  FROM p CROSS JOIN customer c WHERE c.c_custkey <> p.probe_id) " +
       "SELECT probe_id, probe_val, match_id, match_val, dist FROM ( " +
       "  SELECT *, row_number() OVER (PARTITION BY probe_id " +
       "    ORDER BY dist, match_val, match_id) AS rn FROM cand WHERE dist <= 2) " +
       "WHERE rn = 1 ORDER BY probe_id"),
    // SCD2 expected history from first principles: %10∉{0,1} keys keep
    // their v1 open row (and %10==1 re-sent UNCHANGED values — no-op);
    // %10==0 closes v1 at 2 and opens v2 (+100); %20==0 additionally
    // closes v2 at 3 and opens v3 (segment MOVED, price unchanged)
    "scd2_history" ->
      ("SELECT c_custkey, c_mktsegment, c_acctbal, valid_from, valid_to, is_current FROM ( " +
       "SELECT c_custkey, c_mktsegment, c_acctbal, CAST(1 AS BIGINT) AS valid_from, " +
       "  CAST(CASE WHEN c_custkey % 10 = 0 THEN 2 END AS BIGINT) AS valid_to, " +
       "  c_custkey % 10 <> 0 AS is_current FROM customer " +
       "UNION ALL " +
       "SELECT c_custkey, c_mktsegment, c_acctbal + 100, 2, " +
       "  CAST(CASE WHEN c_custkey % 20 = 0 THEN 3 END AS BIGINT), " +
       "  c_custkey % 20 <> 0 FROM customer WHERE c_custkey % 10 = 0 " +
       "UNION ALL " +
       "SELECT c_custkey, 'MOVED', c_acctbal + 100, 3, NULL, true " +
       "  FROM customer WHERE c_custkey % 20 = 0 " +
       ") ORDER BY c_custkey, valid_from"),
    "orc_roundtrip" ->
      "SELECT p_partkey, p_name, p_size, p_retailprice FROM part ORDER BY p_partkey",
    "etl_list" ->
      "SELECT c.c_custkey, array_to_string(list_sort(list(o.o_orderkey)), ',') AS order_keys FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey GROUP BY c.c_custkey ORDER BY c_custkey",
    "etl_map" ->
      ("SELECT c.c_custkey, array_to_string(list_sort(list(o.o_orderkey || ':' || CAST(CAST(round(o.o_totalprice * 100) AS BIGINT) AS VARCHAR))), ',') AS entries " +
       "FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey GROUP BY c.c_custkey ORDER BY c_custkey"),
    "command_agg" ->
      "SELECT c_mktsegment, count(*) AS cnt FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment",
    "topk_per_group" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, rank FROM " +
       "(SELECT o_custkey, o_orderkey, o_totalprice, CAST(row_number() OVER " +
       "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rank " +
       "FROM orders) WHERE rank <= 3 ORDER BY o_custkey, rank"),
    "histogram" ->
      ("SELECT bucket, 0 + bucket * 5.0 AS lo, 0 + (bucket + 1) * 5.0 AS hi, cnt FROM " +
       "(SELECT least(greatest(CAST(floor(CAST(l_quantity AS DOUBLE) / 5.0) AS BIGINT), 0), 9) AS bucket, " +
       "count(*) AS cnt FROM lineitem GROUP BY 1) ORDER BY bucket"),
    "code_sql" ->
      "SELECT o_orderkey, o_totalprice * 0.9 AS discounted FROM orders ORDER BY o_orderkey",
    "let_field" ->
      "SELECT c_custkey, c_acctbal + 100 AS with_bonus FROM customer ORDER BY c_custkey",
    "console_block" ->
      "SELECT count(*) AS n_rich FROM customer WHERE c_acctbal > 5000",
    "block_let" ->
      "SELECT c_custkey, c_mktsegment = 'BUILDING' AS is_seg FROM customer ORDER BY c_custkey",
    "code_hook" ->
      "SELECT o_orderkey, o_totalprice * 2 AS dbl_price FROM orders ORDER BY o_orderkey",
    "log_identity" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "code_expr" ->
      "SELECT n_nationkey, length(n_name) AS n_name_len FROM nation ORDER BY n_nationkey",
    "code_js_regex" ->
      (raw"SELECT n_nationkey, regexp_replace(n_name, '_\d+$$', '', 'g') AS base, " +
       "CAST(CASE WHEN regexp_matches(n_name, '1') THEN 1 ELSE 0 END AS BIGINT) AS has1, " +
       "CAST(CASE WHEN regexp_matches(n_name, '(?i)^nation') THEN 1 ELSE 0 END AS BIGINT) AS isn, " +
       "CAST(CASE WHEN n_regionkey = 0 THEN 1 ELSE 0 END AS BIGINT) AS r0, " +
       "CAST(CASE WHEN n_regionkey = 1 THEN 1 ELSE 0 END AS BIGINT) AS r1 " +
       "FROM nation ORDER BY n_nationkey"),
    "code_js" ->
      ("SELECT c_custkey, CAST(c_custkey * 1 + c_custkey * 2 + c_custkey * 3 AS BIGINT) AS wsum, " +
       "CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS band, " +
       "CAST(floor(sqrt(c_custkey)) AS BIGINT) AS root, " +
       "CASE WHEN length(lower(c_mktsegment)) >= 10 THEN lower(c_mktsegment) " +
       "ELSE lpad(lower(c_mktsegment), 10, '.') END AS tag " +
       "FROM customer ORDER BY c_custkey"),
    "code_js_switch" ->
      ("SELECT n_nationkey, " +
       "'nation ' || n_name || ' in r' || n_regionkey AS msg, " +
       "CASE CAST(n_regionkey AS INT) WHEN 0 THEN 'africa' WHEN 2 THEN 'asia' ELSE 'other' END AS zone, " +
       "CAST(CASE CAST(n_regionkey AS INT) WHEN 0 THEN 1 WHEN 2 THEN 2 END AS BIGINT) AS prio " +
       "FROM nation ORDER BY n_nationkey"),
    "code_js_arrays" ->
      ("SELECT n_nationkey, " +
       "CAST(n_nationkey * 2 AS VARCHAR) || '-' || CAST(n_regionkey * 2 AS VARCHAR) || '-14' AS csv3, " +
       "n_regionkey AS pick0, " +
       "CASE WHEN n_nationkey * 3 < 15 THEN 'small' " +
       "WHEN n_nationkey * 3 < 45 THEN 'medium' ELSE 'large' END AS tier, " +
       "'2,4,6' AS evens " +
       "FROM nation ORDER BY n_nationkey"),
    "http_csv" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "etl_params" ->
      "SELECT r.r_regionkey, array_to_string(list_sort(list(n.n_nationkey)), ',') AS nation_keys FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey GROUP BY r.r_regionkey ORDER BY r.r_regionkey",
    "dedup_exact" ->
      "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars FROM documents d JOIN (SELECT n_chars, min(doc_id) AS kid FROM documents GROUP BY n_chars) g ON d.doc_id = g.kid ORDER BY d.doc_id",
    "dedup_keep_last" ->
      "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars FROM documents d JOIN (SELECT n_chars, max(doc_id) AS kid FROM documents GROUP BY n_chars) g ON d.doc_id = g.kid ORDER BY d.doc_id",
    "dedup_content" ->
      "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars FROM documents d JOIN (SELECT md5(text) AS h, min(doc_id) AS kid FROM documents GROUP BY md5(text)) g ON d.doc_id = g.kid ORDER BY d.doc_id",
    "textstats" ->
      (s"SELECT doc_id, CAST(length(text) AS BIGINT) AS ts_chars, " +
       s"CAST(len($toks) AS BIGINT) AS ts_tokens, " +
       s"CAST(len(list_distinct($toks)) AS BIGINT) AS ts_distinct_tokens, " +
       s"CAST(list_reduce(list_transform($toks, t -> CAST(length(t) AS BIGINT)), (a, b) -> a + b) AS DOUBLE)" +
       s" / greatest(CAST(len($toks) AS DOUBLE), 1.0) AS ts_avg_token_len, " +
       s"CAST(len(list_filter($toks, t -> t IN ('the','a','an','of','and','in','to','is'))) AS DOUBLE)" +
       s" / greatest(CAST(len($toks) AS DOUBLE), 1.0) AS ts_stopword_ratio, " +
       s"CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)" +
       s" / greatest(CAST(length(text) AS DOUBLE), 1.0) AS ts_punct_ratio, " +
       s"CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)" +
       s" / greatest(CAST(length(text) AS DOUBLE), 1.0) AS ts_upper_ratio " +
       s"FROM documents ORDER BY doc_id"),
    "events_window" ->
      ("SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start, " +
       "event_type, count(*) AS n FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"),
    "asof_join" ->
      ("SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, c.click_id, " +
       "c.click_value, epoch_us(c.ts) AS click_ts_us " +
       "FROM (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase') p " +
       "ASOF LEFT JOIN (SELECT user_id, ts, max(event_id) AS click_id, " +
       "arg_max(value, event_id) AS click_value " +
       "FROM events WHERE event_type = 'click' GROUP BY user_id, ts) c " +
       "ON p.user_id = c.user_id AND p.ts >= c.ts ORDER BY event_id"),
    // DuckDB's ASOF is backward-only; forward/nearest oracles use a
    // correlated LATERAL top-1 over the same tie-pre-aggregated right
    "asof_join_forward" ->
      ("SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, " +
       "c.click_id, c.click_value, c.click_ts_us " +
       "FROM (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase') p " +
       "LEFT JOIN LATERAL (SELECT r.click_id, r.click_value, epoch_us(r.ts) AS click_ts_us " +
       "FROM (SELECT user_id, ts, max(event_id) AS click_id, arg_max(value, event_id) AS click_value " +
       "FROM events WHERE event_type = 'click' GROUP BY user_id, ts) r " +
       "WHERE r.user_id = p.user_id AND r.ts >= p.ts " +
       "ORDER BY r.ts LIMIT 1) c ON true ORDER BY event_id"),
    // nearest: tie at equal distance prefers the earlier (backward) row
    // — ORDER BY (abs distance, ts) pins the same choice
    "asof_join_nearest" ->
      ("SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, " +
       "c.click_id, c.click_value, c.click_ts_us " +
       "FROM (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase') p " +
       "LEFT JOIN LATERAL (SELECT r.click_id, r.click_value, epoch_us(r.ts) AS click_ts_us " +
       "FROM (SELECT user_id, ts, max(event_id) AS click_id, arg_max(value, event_id) AS click_value " +
       "FROM events WHERE event_type = 'click' GROUP BY user_id, ts) r " +
       "WHERE r.user_id = p.user_id AND abs(epoch_us(r.ts) - epoch_us(p.ts)) <= 600000000 " +
       "ORDER BY abs(epoch_us(r.ts) - epoch_us(p.ts)), r.ts LIMIT 1) c ON true ORDER BY event_id"),
    "stream_join" ->
      ("SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, c.event_id AS click_id " +
       "FROM events p JOIN events c ON c.user_id = p.user_id AND c.event_type = 'click' " +
       "AND c.ts >= p.ts - INTERVAL 2 HOUR AND c.ts <= p.ts " +
       "WHERE p.event_type = 'purchase' ORDER BY p.event_id, click_id"),
    // left_outer band join cut at max(ts) - 6h (see the query comment:
    // null-padded rows only emit once the watermark passes their band)
    "stream_join_outer" ->
      ("SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, c.event_id AS click_id " +
       "FROM events p LEFT JOIN events c ON c.user_id = p.user_id AND c.event_type = 'click' " +
       "AND c.ts >= p.ts - INTERVAL 2 HOUR AND c.ts <= p.ts " +
       "WHERE p.event_type = 'purchase' " +
       "AND epoch_us(p.ts) <= (SELECT max(epoch_us(ts)) FROM events) - 21600000000 " +
       "ORDER BY p.event_id, click_id NULLS FIRST"),
    // full_outer band join, both dangling sides cut at max(ts) - 6h on
    // whichever time the row carries (the same coalesce as the query)
    "stream_join_full" ->
      ("SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, " +
       "c.event_id AS click_id, epoch_us(c.ts) AS click_ts_us " +
       "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
       "FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
       "ON c.user_id = p.user_id " +
       "AND c.ts >= p.ts - INTERVAL 2 HOUR AND c.ts <= p.ts " +
       "WHERE coalesce(epoch_us(p.ts), epoch_us(c.ts)) <= " +
       "(SELECT max(epoch_us(ts)) FROM events) - 21600000000 " +
       "ORDER BY p.event_id NULLS FIRST, click_id NULLS FIRST, " +
       "click_ts_us NULLS FIRST"),
    "batch_sessions" ->
      ("WITH e AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL OR " +
       "epoch_us(ts) - epoch_us(lag(ts) OVER w) > 43200000000 THEN 1 ELSE 0 END AS ns " +
       "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
       "s AS (SELECT user_id, ts, sum(ns) OVER (PARTITION BY user_id ORDER BY ts " +
       "ROWS UNBOUNDED PRECEDING) AS sid FROM e) " +
       "SELECT CAST(user_id AS VARCHAR) AS key, epoch_us(min(ts)) AS start_us, " +
       "epoch_us(max(ts)) AS end_us, count(*) AS n_events FROM s " +
       "GROUP BY user_id, sid ORDER BY key, start_us"),
    "rolling_window" ->
      ("SELECT event_id, count(*) OVER w AS rolling_n, " +
       "CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS rolling_sum_cents " +
       "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts " +
       "RANGE BETWEEN INTERVAL 24 HOUR PRECEDING AND CURRENT ROW) " +
       "ORDER BY event_id"),
    "funnel_steps" ->
      ("WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events " +
       "WHERE event_type = 'view' GROUP BY 1), " +
       "s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e " +
       "JOIN s1 ON e.user_id = s1.user_id WHERE e.event_type = 'click' " +
       "AND e.ts > s1.t1 AND epoch_us(e.ts) <= epoch_us(s1.t1) + 86400000000 GROUP BY 1), " +
       "s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e " +
       "JOIN s2 ON e.user_id = s2.user_id JOIN s1 ON e.user_id = s1.user_id " +
       "WHERE e.event_type = 'purchase' AND e.ts > s2.t2 " +
       "AND epoch_us(e.ts) <= epoch_us(s1.t1) + 86400000000 GROUP BY 1) " +
       "SELECT s1.user_id AS key, CAST(CASE WHEN t3 IS NOT NULL THEN 3 " +
       "WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER) AS steps_completed, " +
       "epoch_us(t1) AS first_us, epoch_us(coalesce(t3, t2, t1)) AS last_us " +
       "FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id " +
       "LEFT JOIN s3 ON s1.user_id = s3.user_id ORDER BY key"),
    "cohort_retention" ->
      ("WITH b AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS p FROM events WHERE event_id % 11 = 0), " +
       "f AS (SELECT user_id, min(p) AS c FROM b GROUP BY 1), " +
       "a AS (SELECT DISTINCT b.user_id, f.c, " +
       "date_diff('day', f.c, b.p) // 7 AS period FROM b JOIN f ON b.user_id = f.user_id) " +
       "SELECT strftime(c, '%Y-%m-%d') AS cohort, CAST(period AS INTEGER) AS period, " +
       "count(*) AS active FROM a GROUP BY 1, 2 ORDER BY cohort, period"),
    "resample_agg" ->
      ("SELECT event_type, " +
       "CAST(CAST(floor(epoch_us(ts) / 21600000000.0) AS BIGINT) * 21600000000 AS BIGINT) AS bucket_us, " +
       "count(*) AS n, " +
       "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents, " +
       "CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_cents " +
       "FROM events GROUP BY 1, 2 ORDER BY event_type, bucket_us"),
    "resample_ffill" ->
      ("WITH e AS (SELECT user_id, CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS bucket, " +
       "  epoch_us(ts) AS us, CAST(round(value * 100) AS BIGINT) AS cents " +
       "  FROM events WHERE event_type = 'purchase'), " +
       "r AS (SELECT *, row_number() OVER (PARTITION BY user_id, bucket " +
       "  ORDER BY us DESC, cents DESC) AS rn FROM e), " +
       "b AS (SELECT user_id, bucket, count(*) AS n, " +
       "  CAST(sum(cents) AS BIGINT) AS sum_cents, " +
       "  max(CASE WHEN rn = 1 THEN cents END) AS last_cents FROM r GROUP BY 1, 2), " +
       "bounds AS (SELECT user_id, min(bucket) AS mn, max(bucket) AS mx FROM b GROUP BY 1), " +
       "grid AS (SELECT user_id, unnest(generate_series(mn, mx)) AS bucket FROM bounds), " +
       "j AS (SELECT g.user_id, g.bucket, b.n, b.sum_cents, b.last_cents, " +
       "  b.user_id IS NOT NULL AS present FROM grid g " +
       "  LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket) " +
       "SELECT user_id, CAST(bucket * 86400000000 AS BIGINT) AS bucket_us, " +
       "CAST(last_value(n IGNORE NULLS) OVER w AS BIGINT) AS n, " +
       "CAST(last_value(sum_cents IGNORE NULLS) OVER w AS BIGINT) AS sum_cents, " +
       "CAST(last_value(last_cents IGNORE NULLS) OVER w AS BIGINT) AS last_cents, " +
       "NOT present AS is_gap FROM j " +
       "WINDOW w AS (PARTITION BY user_id ORDER BY bucket ROWS UNBOUNDED PRECEDING) " +
       "ORDER BY user_id, bucket_us"),
    // linear fill: both sides compute pv + (nv-pv)·(b-pb)/(nb-pb) with
    // the SAME double operation order (left-assoc * then /), so the
    // IEEE results are bit-identical — no rounding guard needed
    "resample_linear" ->
      ("WITH e AS (SELECT user_id, CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS bucket, " +
       "  CAST(round(value * 100) AS BIGINT) AS cents " +
       "  FROM events WHERE event_type = 'purchase'), " +
       "b AS (SELECT user_id, bucket, count(*) AS n, " +
       "  CAST(sum(cents) AS BIGINT) AS sum_cents FROM e GROUP BY 1, 2), " +
       "bounds AS (SELECT user_id, min(bucket) AS mn, max(bucket) AS mx FROM b GROUP BY 1), " +
       "grid AS (SELECT user_id, unnest(generate_series(mn, mx)) AS bucket FROM bounds), " +
       "j AS (SELECT g.user_id, g.bucket, b.n, b.sum_cents, " +
       "  b.user_id IS NOT NULL AS present FROM grid g " +
       "  LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket), " +
       "f AS (SELECT *, " +
       "  last_value(CASE WHEN present THEN n END IGNORE NULLS) OVER wp AS pn, " +
       "  last_value(CASE WHEN present THEN sum_cents END IGNORE NULLS) OVER wp AS ps, " +
       "  last_value(CASE WHEN present THEN bucket END IGNORE NULLS) OVER wp AS pb, " +
       "  first_value(CASE WHEN present THEN n END IGNORE NULLS) OVER wn AS fn, " +
       "  first_value(CASE WHEN present THEN sum_cents END IGNORE NULLS) OVER wn AS fs, " +
       "  first_value(CASE WHEN present THEN bucket END IGNORE NULLS) OVER wn AS fb " +
       "  FROM j WINDOW wp AS (PARTITION BY user_id ORDER BY bucket ROWS UNBOUNDED PRECEDING), " +
       "  wn AS (PARTITION BY user_id ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
       "SELECT user_id, CAST(bucket * 86400000000 AS BIGINT) AS bucket_us, " +
       "CASE WHEN present THEN CAST(n AS DOUBLE) ELSE CAST(pn AS DOUBLE) + " +
       "  (CAST(fn AS DOUBLE) - CAST(pn AS DOUBLE)) * CAST(bucket - pb AS DOUBLE) / CAST(fb - pb AS DOUBLE) END AS n, " +
       "CASE WHEN present THEN CAST(sum_cents AS DOUBLE) ELSE CAST(ps AS DOUBLE) + " +
       "  (CAST(fs AS DOUBLE) - CAST(ps AS DOUBLE)) * CAST(bucket - pb AS DOUBLE) / CAST(fb - pb AS DOUBLE) END AS sum_cents, " +
       "NOT present AS is_gap FROM f ORDER BY user_id, bucket_us"),
    "range_join" ->
      ("WITH w AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wstart, count(*) AS n_in_hour " +
       "FROM events GROUP BY 1 HAVING count(*) >= 20) " +
       "SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, " +
       "epoch_us(w.wstart) AS w_us, w.n_in_hour FROM events e " +
       "JOIN w ON e.ts >= w.wstart AND e.ts < w.wstart + INTERVAL 2 HOUR " +
       "WHERE e.event_type = 'purchase' ORDER BY event_id, w_us"),
    "stream_window" ->
      ("SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start, " +
       "event_type, count(*) AS n FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"),
    // sessions: closed-by-a-later-event sessions always emit; a user's
    // LAST session emits iff its event-time timeout fired before the
    // stream stopped — timeout fires when end + gap < final watermark
    // (max event time − 1 s delay), Spark's strict `<` comparison
    "stream_sessions" ->
      ("WITH e AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL OR " +
       "epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 43200000 THEN 1 ELSE 0 END AS ns " +
       "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
       "s AS (SELECT user_id, ts, sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM e), " +
       "g AS (SELECT user_id, sid, min(ts) AS t0, max(ts) AS t1, count(*) AS n FROM s GROUP BY user_id, sid), " +
       "gm AS (SELECT *, max(sid) OVER (PARTITION BY user_id) m FROM g), " +
       "wm AS (SELECT epoch_ms(max(ts)) - 1000 AS w FROM events) " +
       "SELECT CAST(user_id AS VARCHAR) AS key, " +
       "strftime(t0, '%Y-%m-%d %H:%M:%S') AS session_start, " +
       "strftime(t1, '%Y-%m-%d %H:%M:%S') AS session_end, n AS n_events " +
       "FROM gm, wm WHERE sid < m OR epoch_ms(t1) + 43200000 < w " +
       "ORDER BY key, session_start"),
    "union_tables" ->
      ("SELECT n_nationkey AS k, n_name AS name FROM nation WHERE n_regionkey <= 2 " +
       "UNION " +
       "SELECT n_nationkey AS k, n_name AS name FROM nation WHERE n_regionkey >= 2 " +
       "ORDER BY k"),
    "except_rows" ->
      ("SELECT o_orderkey, o_orderstatus FROM orders " +
       "EXCEPT " +
       "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F' " +
       "ORDER BY o_orderkey"),
    "intersect_rows" ->
      ("SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' " +
       "INTERSECT " +
       "SELECT o_custkey AS c_custkey FROM orders " +
       "ORDER BY c_custkey"),
    "interval_join" ->
      ("SELECT l.event_id AS event_id, l.user_id AS user_id, " +
       "r.event_id AS err_id " +
       "FROM events l JOIN events r ON l.user_id = r.user_id " +
       "AND l.event_type = 'view' AND r.event_type = 'error' " +
       "AND l.ts < r.ts + INTERVAL 30 MINUTE " +
       "AND r.ts < l.ts + INTERVAL 10 MINUTE " +
       "ORDER BY event_id, err_id"),
    "gopher_rules" ->
      (raw"WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS w FROM documents) " +
       "SELECT doc_id, " +
       "len(w) >= 40 AND len(w) <= 100000 AS gopher_word_count, " +
       "CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / greatest(CAST(len(w) AS DOUBLE), 1.0) >= 3.0 " +
       " AND CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / greatest(CAST(len(w) AS DOUBLE), 1.0) <= 10.0 AS gopher_mean_word_len, " +
       "CAST((length(text) - length(replace(text, '#', ''))) + " +
       " (length(text) - length(replace(text, '...', ''))) / 3 + " +
       " (length(text) - length(replace(text, '…', ''))) AS DOUBLE) / greatest(CAST(len(w) AS DOUBLE), 1.0) <= 0.1 AS gopher_symbol_ratio, " +
       "CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / greatest(CAST(len(w) AS DOUBLE), 1.0) >= 0.8 AS gopher_alpha_ratio, " +
       "len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'], s -> list_contains(w, s))) >= 1 AS gopher_stopwords, " +
       "len(w) >= 40 AND len(w) <= 100000 " +
       " AND CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / greatest(CAST(len(w) AS DOUBLE), 1.0) >= 3.0 " +
       " AND CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / greatest(CAST(len(w) AS DOUBLE), 1.0) <= 10.0 " +
       " AND CAST((length(text) - length(replace(text, '#', ''))) + " +
       "  (length(text) - length(replace(text, '...', ''))) / 3 + " +
       "  (length(text) - length(replace(text, '…', ''))) AS DOUBLE) / greatest(CAST(len(w) AS DOUBLE), 1.0) <= 0.1 " +
       " AND CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / greatest(CAST(len(w) AS DOUBLE), 1.0) >= 0.8 " +
       " AND len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'], s -> list_contains(w, s))) >= 1 " +
       "AS gopher_keep FROM t ORDER BY doc_id"),
    "paragraph_dedup" ->
      ("WITH base AS (SELECT doc_id, replace(text, ' ', chr(10)) AS text FROM documents), " +
       "lines AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line, " +
       "generate_subscripts(string_split(text, chr(10)), 1) AS pos FROM base), " +
       "firsts AS (SELECT doc_id, line, min(pos) AS pos FROM lines GROUP BY doc_id, line) " +
       "SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text " +
       "FROM firsts GROUP BY doc_id ORDER BY doc_id"),
    "boilerplate_strip" ->
      ("WITH base AS (SELECT doc_id, replace(text, ' table ', chr(10)) AS text FROM documents), " +
       "lines AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line, " +
       "generate_subscripts(string_split(text, chr(10)), 1) AS pos FROM base), " +
       "hot AS (SELECT line FROM lines GROUP BY line HAVING count(DISTINCT doc_id) >= 3), " +
       "kept AS (SELECT * FROM lines WHERE line NOT IN (SELECT line FROM hot)), " +
       "rebuilt AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text " +
       "FROM kept GROUP BY doc_id) " +
       "SELECT b.doc_id, coalesce(r.text, '') AS text " +
       "FROM base b LEFT JOIN rebuilt r USING (doc_id) ORDER BY doc_id"),
    "quality_filter" ->
      (s"SELECT doc_id, n_chars FROM documents WHERE length(text) >= 160 AND length(text) <= 380 " +
       s"AND CAST(len(list_filter($toks, t -> t IN ('the','a','an','of','and','in','to','is'))) AS DOUBLE)" +
       s" / greatest(CAST(len($toks) AS DOUBLE), 1.0) <= 0.12 ORDER BY doc_id"),
    "langid" -> {
      // each fixture row's true language is doc_id arithmetic; the Spark
      // side must CLASSIFY the real text to match
      val whens = graft.text.LangIdModel.Languages.zipWithIndex.map {
        case (l, i) => s"WHEN $i THEN '$l'"
      }.mkString(" ")
      s"SELECT doc_id, CASE CAST(doc_id % ${graft.text.LangIdModel.Languages.length} AS INT) " +
      s"$whens END AS lang_pred FROM documents ORDER BY doc_id"
    },
    "data_split" ->
      ("SELECT doc_id, CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split " +
       "FROM (SELECT doc_id, ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'v1'), 1, 6))::BIGINT % 10000 AS b " +
       "FROM documents) ORDER BY doc_id"),
    "kfold_split" ->
      ("SELECT doc_id, CAST(b % 7 AS BIGINT) AS fold, " +
       "CASE WHEN b % 7 = 2 THEN 'test' ELSE 'train' END AS role " +
       "FROM (SELECT doc_id, ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'cv'), 1, 6))::BIGINT % 10000 AS b " +
       "FROM documents) ORDER BY doc_id"),
    "pack_chunks" ->
      (s"SELECT doc_id, CAST(floor(CAST(cum - n AS DOUBLE) / 2048) AS BIGINT) AS chunk_id, " +
       s"CAST((cum - n) % 2048 AS BIGINT) AS chunk_offset FROM " +
       s"(SELECT doc_id, CAST(len($toks) AS BIGINT) AS n, " +
       s"sum(CAST(len($toks) AS BIGINT)) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum " +
       s"FROM documents) ORDER BY doc_id"),
    "hash_sample" ->
      ("SELECT doc_id, n_chars FROM documents " +
       "WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 10000 < 2500 " +
       "ORDER BY doc_id"),
    // stage ORDER is what's verified: dedup groups over the FILTERED
    // set, sample over the DEDUPED set
    "pipeline_curate" ->
      (s"WITH q AS (SELECT * FROM documents WHERE length(text) >= 120 AND length(text) <= 450 " +
       s"AND CAST(len(list_filter($toks, t -> t IN ('the','a','an','of','and','in','to','is'))) AS DOUBLE)" +
       s" / greatest(CAST(len($toks) AS DOUBLE), 1.0) <= 0.15), " +
       "d AS (SELECT q.* FROM q JOIN (SELECT n_chars, min(doc_id) AS kid FROM q GROUP BY 1) g " +
       "ON q.doc_id = g.kid) " +
       "SELECT doc_id, n_chars FROM d " +
       "WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 10000 < 5000 " +
       "ORDER BY doc_id"),
    "rowid_assign" ->
      ("SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 + 1000 AS row_id " +
       "FROM documents ORDER BY doc_id"),
    "profile_columns" -> {
      // "column" is reserved in DuckDB — quote it everywhere
      def block(c: String) =
        s"""SELECT '$c' AS "column", 'non_nulls' AS metric, CAST(count($c) AS VARCHAR) AS value FROM orders """ +
        s"UNION ALL SELECT '$c', 'nulls', CAST(count(*) - count($c) AS VARCHAR) FROM orders " +
        s"UNION ALL SELECT '$c', 'distinct', CAST(count(DISTINCT $c) AS VARCHAR) FROM orders " +
        s"UNION ALL SELECT '$c', 'min', CAST(min($c) AS VARCHAR) FROM orders " +
        s"UNION ALL SELECT '$c', 'max', CAST(max($c) AS VARCHAR) FROM orders"
      Seq("o_orderkey", "o_orderstatus", "o_orderpriority").map(block)
        .mkString("", " UNION ALL ", """ ORDER BY "column", metric""")
    },
    "weighted_sample" ->
      ("SELECT doc_id, n_chars FROM documents " +
       "WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 10000 " +
       "< CAST(floor(least(greatest(n_chars / 2000.0, 0.0), 1.0) * 10000) AS BIGINT) " +
       "ORDER BY doc_id"),
    "zorder_layout" -> {
      val mask = (1L << 22) - 1
      val terms = (for {
        (cn, i) <- Seq("u", "t").zipWithIndex
        b <- 0 until 22
      } yield s"((($cn >> $b) & 1) << ${b * 2 + i})").mkString(" + ")
      s"WITH e AS (SELECT event_id, " +
      s"least(greatest(CAST(user_id AS BIGINT), 0), $mask) AS u, " +
      s"least(greatest(CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) - 1704067200, 0), $mask) AS t " +
      s"FROM events) SELECT event_id, CAST($terms AS BIGINT) AS zvalue " +
      s"FROM e ORDER BY event_id"
    },
    "stratified_sample" ->
      ("SELECT doc_id, lang FROM (SELECT doc_id, lang, " +
       "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 's1'), 1, 6))::BIGINT % 10000 AS b, " +
       "CASE lang WHEN 'de' THEN 10000 WHEN 'en' THEN 2000 WHEN 'zh' THEN 5000 " +
       "ELSE 7500 END AS t FROM documents) WHERE b < t ORDER BY doc_id"),
    "corpus_shuffle" ->
      ("SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || 'epoch1') AS shuffle_key " +
       "FROM documents ORDER BY shuffle_key"),
    "group_cap" ->
      ("SELECT doc_id, url_host, url_domain, url_path FROM (" +
       "SELECT doc_id, url_host, url_domain, url_path, " +
       "row_number() OVER (PARTITION BY url_host ORDER BY doc_id) AS rn FROM (" +
       "SELECT doc_id, " +
       "coalesce(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1), '') AS url_host, " +
       "coalesce(regexp_extract(coalesce(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1), ''), '([^.]+\\.[^.]+)$', 1), '') AS url_domain, " +
       "coalesce(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), '') AS url_path " +
       "FROM (SELECT doc_id, 'https://www.' || source || '-m.com/p/' || CAST(doc_id AS VARCHAR) AS url " +
       "FROM documents))) WHERE rn <= 10 ORDER BY doc_id"),
    // expected canonical form constructed analytically from the same
    // synthesis recipe: lowercased host, :443 gone, tracking params
    // gone, survivors sorted (a=1 < b=N), fragment gone; malformed
    // rows pass through untouched
    "url_normalize" ->
      ("SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN 'not a url' ELSE " +
       "'https://www.' || lower(source) || '.com/Path/' || CAST(doc_id AS VARCHAR) " +
       "|| '?a=1&b=' || CAST(doc_id % 7 AS VARCHAR) END AS url_norm " +
       "FROM documents ORDER BY doc_id"),
    "mixture_sample" ->
      ("SELECT doc_id, lang, mix_source FROM (" +
       "SELECT doc_id, lang, 'base' AS mix_source FROM documents " +
       "WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'base'), 1, 6))::BIGINT % 10000 < 1000 " +
       "UNION ALL SELECT doc_id, lang, 'web' FROM documents " +
       "WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'web'), 1, 6))::BIGINT % 10000 < 3000 " +
       "UNION ALL SELECT doc_id, lang, 'code' FROM documents " +
       "WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'code'), 1, 6))::BIGINT % 10000 < 1500" +
       ") ORDER BY mix_source, doc_id"),
    "mixture_tokens" ->
      ("WITH tok AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN 0 " +
       "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS t FROM documents), " +
       "wk AS (SELECT doc_id FROM (SELECT doc_id, SUM(t) OVER (" +
       "ORDER BY md5(CAST(doc_id AS VARCHAR) || 'web'), CAST(doc_id AS VARCHAR) " +
       "ROWS UNBOUNDED PRECEDING) AS cum FROM tok) WHERE cum <= 40000), " +
       "ck AS (SELECT doc_id FROM (SELECT doc_id, SUM(t) OVER (" +
       "ORDER BY md5(CAST(doc_id AS VARCHAR) || 'code'), CAST(doc_id AS VARCHAR) " +
       "ROWS UNBOUNDED PRECEDING) AS cum FROM tok) WHERE cum <= 20000) " +
       "SELECT doc_id, 'web' AS mix_source FROM wk " +
       "UNION ALL SELECT doc_id, 'code' FROM ck " +
       "ORDER BY mix_source, doc_id"),
    "avro_export" ->
      ("SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, " +
       "CAST(c_acctbal AS DOUBLE) AS bal, c_custkey % 2 = 0 AS even " +
       "FROM customer ORDER BY c_custkey"),
    "robots_filter" ->
      ("SELECT doc_id, CASE " +
       "WHEN doc_id % 4 = 0 THEN doc_id % 3 <> 0 " +
       "WHEN doc_id % 4 = 1 THEN doc_id % 3 <> 2 " +
       "ELSE true END AS robots_allowed " +
       "FROM documents ORDER BY doc_id"),
    "mm_textmeta" ->
      ("SELECT doc_id AS media_id, " +
       "CAST(CASE WHEN doc_id % 9 = 4 THEN 0 ELSE 3 END AS INTEGER) AS n_meta, " +
       "CASE WHEN doc_id % 9 = 4 THEN '' ELSE " +
       "'author=user' || CAST(doc_id % 50 AS VARCHAR) || '; note=n' || CAST(doc_id AS VARCHAR) || '; rank=' || CAST(doc_id * 7 % 1000 AS VARCHAR) END AS meta_kv " +
       "FROM documents ORDER BY media_id"),
    "minmax_scale" ->
      ("WITH s AS (SELECT o_orderpriority, min(CAST(o_totalprice AS DOUBLE)) AS mn, max(CAST(o_totalprice AS DOUBLE)) AS mx FROM orders GROUP BY 1) " +
       "SELECT o.o_orderkey, o.o_orderpriority, " +
       "CASE WHEN s.mx > s.mn THEN (CAST(o.o_totalprice AS DOUBLE) - s.mn) / (s.mx - s.mn) END AS price_01 " +
       "FROM orders o JOIN s ON o.o_orderpriority = s.o_orderpriority " +
       "ORDER BY o_orderkey"),
    "semi_join" ->
      ("SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey IN " +
       "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') " +
       "ORDER BY o_orderkey"),
    "anti_join" ->
      ("SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey NOT IN " +
       "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') " +
       "ORDER BY o_orderkey"),
    "feature_hash" ->
      (s"SELECT doc_id, array_to_string(list_transform(generate_series(0, 15), j -> " +
       s"coalesce(list_sum(list_transform(list_filter($toks, w -> w <> ''), w -> " +
       raw"CASE WHEN ('0x' || substr(md5(w), 1, 6))::BIGINT % 16 = j THEN " +
       raw"(CASE WHEN ('0x' || substr(md5(w), 7, 1))::BIGINT % 2 = 0 THEN 1 ELSE -1 END) ELSE 0 END)), 0)), ',') AS features_str " +
       "FROM documents ORDER BY doc_id"),
    "label_encode" ->
      ("SELECT c_custkey, c_mktsegment, " +
       "CAST(dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS BIGINT) AS c_mktsegment_id " +
       "FROM customer ORDER BY c_custkey"),
    "mad_outliers" ->
      ("WITH med AS (SELECT o_orderpriority, quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS m FROM orders GROUP BY 1), " +
       "dev AS (SELECT o.o_orderkey, o.o_orderpriority, CAST(o.o_totalprice AS DOUBLE) AS x, med.m FROM orders o JOIN med ON o.o_orderpriority = med.o_orderpriority), " +
       "mad AS (SELECT o_orderpriority, quantile_cont(abs(x - m), 0.5) AS md FROM dev GROUP BY 1) " +
       "SELECT d.o_orderkey, d.o_orderpriority, " +
       "CASE WHEN mad.md > 0 THEN (d.x - d.m) / mad.md END AS price_rz, " +
       "CASE WHEN mad.md > 0 THEN abs((d.x - d.m) / mad.md) > 3.5 END AS price_rz_outlier " +
       "FROM dev d JOIN mad ON d.o_orderpriority = mad.o_orderpriority " +
       "ORDER BY o_orderkey"),
    "cdc_chunks" ->
      (s"WITH words AS (SELECT doc_id, i, ($toks)[i] AS tok " +
       s"FROM documents, UNNEST(generate_series(1, len($toks))) AS t(i) " +
       s"WHERE ($toks)[i] <> ''), " +
       "marked AS (SELECT doc_id, i, tok, CASE WHEN ('0x' || substr(md5(tok), 1, 6))::BIGINT % 8 = 0 THEN 1 ELSE 0 END AS b FROM words), " +
       "grouped AS (SELECT doc_id, i, tok, coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS grp FROM marked) " +
       "SELECT doc_id, CAST(grp AS BIGINT) AS chunk_index, " +
       "string_agg(tok, ' ' ORDER BY i) AS chunk_text, " +
       "md5(string_agg(tok, ' ' ORDER BY i)) AS chunk_hash, " +
       "count(*) AS chunk_tokens " +
       "FROM grouped GROUP BY doc_id, grp ORDER BY doc_id, chunk_index"),
    "avro_roundtrip" ->
      ("SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, " +
       "CAST(n_regionkey AS BIGINT) AS n_regionkey, " +
       "'[\"r' || CAST(n_regionkey AS VARCHAR) || '\", \"n' || CAST(n_nationkey AS VARCHAR) || '\"]' AS tags, " +
       "'{\"k\": \"key' || CAST(n_nationkey AS VARCHAR) || '\", \"v\": ' || CAST(n_nationkey * 10 AS VARCHAR) || '}' AS meta, " +
       "CASE WHEN n_nationkey % 2 = 0 THEN 'even' || CAST(n_nationkey AS VARCHAR) END AS note " +
       "FROM nation ORDER BY n_nationkey"),
    "pii_mask" ->
      (raw"WITH built AS (SELECT doc_id, 'Contact u' || CAST(doc_id AS VARCHAR) || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.com or 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 3) % 256 AS VARCHAR) || ' ssn 123-45-6789 . ' || text AS t FROM documents) " +
       raw"SELECT doc_id, " +
       raw"regexp_replace(regexp_replace(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'), '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g') AS text, " +
       raw"CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS pii_email_n, " +
       raw"CAST(len(regexp_extract_all(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INTEGER) AS pii_ipv4_n, " +
       raw"CAST(len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS INTEGER) AS pii_ssn_n " +
       "FROM built ORDER BY doc_id"),
    "url_filter" ->
      ("SELECT doc_id, (doc_id % 5 NOT IN (0, 1) AND doc_id % 5 <> 3 AND doc_id % 7 <> 0) AS url_keep " +
       "FROM documents ORDER BY doc_id"),
    "wiki_extract" ->
      (raw"SELECT doc_id, 'Page ' || CAST(doc_id AS VARCHAR) AS title, " +
       raw"trim('Heading ' || CAST(doc_id AS VARCHAR) || ' Bold intro with a label ' || CAST(doc_id AS VARCHAR) || " +
       raw"' and Plain. ext label and text follows. bullet one ' || trim(regexp_replace(text, '\s+', ' ', 'g'))) AS text " +
       "FROM documents ORDER BY doc_id"),
    "hint_broadcast" ->
      ("SELECT o.o_orderkey, c.c_name FROM orders o " +
       "JOIN customer c ON o.o_custkey = c.c_custkey " +
       "WHERE c.c_mktsegment = 'BUILDING' ORDER BY o_orderkey"),
    "compress_quality" ->
      ("SELECT doc_id, doc_id % 4 <> 0 AS compress_keep " +
       "FROM documents ORDER BY doc_id"),
    "hll_rollup" ->
      ("SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_exact, " +
       "true AS est_ok FROM orders GROUP BY 1 ORDER BY o_orderpriority"),
    "hll_merge" ->
      "SELECT count(DISTINCT o_custkey) AS n_exact, true AS est_ok FROM orders",
    "bloom_join" ->
      ("SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey IN " +
       "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') " +
       "ORDER BY o_orderkey"),
    "bloom_join_anti" ->
      ("SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey NOT IN " +
       "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') " +
       "ORDER BY o_orderkey"),
    // broadcast-carrier + type-coerced hash: same rows as bloom_join
    // with the left key widened to BIGINT
    "bloom_join_bcast" ->
      ("SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey " +
       "FROM orders WHERE o_custkey IN " +
       "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') " +
       "ORDER BY o_orderkey"),
    "checksum_rollup" ->
      ("SELECT count(*) AS n_rows, true AS merge_identity, " +
       "true AS tamper_detected FROM lineitem"),
    "kll_rollup" ->
      ("SELECT true AS n_ok, true AS p25_ok, true AS p50_ok, " +
       "true AS p75_ok"),
    "topk_rollup" ->
      ("SELECT o_orderpriority AS item, count(*) AS est, count(*) AS lb, " +
       "count(*) AS ub FROM orders GROUP BY 1 ORDER BY est DESC, item"),
    "topk_heavy" ->
      "SELECT CAST(1 AS BIGINT) AS hot_rows, true AS bounds_ok",
    "c4_clean" ->
      (raw"WITH pages AS (SELECT doc_id, " +
       "'A good first line with enough words to pass.' AS l1, " +
       "'No terminal punctuation on this line at all' || CASE WHEN doc_id % 13 = 7 THEN ' {' ELSE '' END AS l4, " +
       "text || CASE WHEN doc_id % 17 = 11 THEN ' ends here' ELSE ' ends here.' END AS l5, " +
       "CASE WHEN doc_id % 11 = 5 THEN 'Lorem ipsum dolor sit amet today.' ELSE 'A final good sentence with many words indeed!' END AS l6 " +
       "FROM documents), " +
       "built AS (SELECT doc_id, l1 || chr(10) || 'too short.' || chr(10) || 'This line mentions JavaScript frameworks and is dropped today.' || chr(10) || l4 || chr(10) || l5 || chr(10) || l6 AS page, " +
       raw"l1, l5, l6, (len(regexp_extract_all(l5, '\S+')) >= 5 AND NOT contains(lower(l5), 'javascript') AND (rtrim(l5) LIKE '%.' OR rtrim(l5) LIKE '%!' OR rtrim(l5) LIKE '%?')) AS keep5 FROM pages), " +
       "cleaned AS (SELECT doc_id, page, l1 || CASE WHEN keep5 THEN chr(10) || l5 ELSE '' END || chr(10) || l6 AS c4_text FROM built) " +
       "SELECT doc_id, c4_text, " +
       "NOT contains(lower(page), 'lorem ipsum') AS c4_no_lorem, " +
       "NOT contains(page, '{') AS c4_no_brace, " +
       "((length(c4_text) - length(replace(c4_text, '.', ''))) + (length(c4_text) - length(replace(c4_text, '!', ''))) + (length(c4_text) - length(replace(c4_text, '?', '')))) >= 3 AS c4_min_sentences, " +
       "(NOT contains(lower(page), 'lorem ipsum') AND NOT contains(page, '{') AND ((length(c4_text) - length(replace(c4_text, '.', ''))) + (length(c4_text) - length(replace(c4_text, '!', ''))) + (length(c4_text) - length(replace(c4_text, '?', '')))) >= 3) AS c4_keep " +
       "FROM cleaned ORDER BY doc_id"),
    "normalize_text" ->
      (raw"SELECT doc_id, " +
       "trim(list_extract(['cafe menu', 'a la carte', 'naive bell', 'sao paulo', 'zurich', 'hello world'], CAST(doc_id % 6 AS INTEGER) + 1) " +
       raw"|| ' ' || lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS norm, " +
       "trim(list_extract(['Café MENU', 'À la carte', 'naïve bell', 'São Paulo', 'Zürich', 'Hello WORLD'], CAST(doc_id % 6 AS INTEGER) + 1) " +
       raw"|| ' ' || trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm_nfc " +
       "FROM documents ORDER BY doc_id"),
    "warc_extract" ->
      (raw"SELECT doc_id, 'https://ex.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri, " +
       raw"strftime(TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND, '%Y-%m-%dT%H:%M:%SZ') AS warc_date, " +
       raw"CAST(CASE WHEN doc_id % 7 = 3 THEN 404 ELSE 200 END AS INTEGER) AS http_status, " +
       raw"CASE WHEN doc_id % 7 = 3 THEN 'text/plain' ELSE 'text/html; charset=utf-8' END AS http_content_type, " +
       raw"CASE WHEN doc_id % 7 = 3 THEN 'not found ' || CAST(doc_id AS VARCHAR) " +
       raw"ELSE trim('D' || CAST(doc_id AS VARCHAR) || ' ' || trim(regexp_replace(text, '\s+', ' ', 'g'))) END AS extracted " +
       "FROM documents ORDER BY doc_id"),
    "warc_stats" ->
      ("SELECT warc_type, n, total_len FROM (" +
       "SELECT 'request' AS warc_type, count(*) AS n, " +
       "CAST(sum(strlen('GET /doc/' || CAST(doc_id AS VARCHAR) || ' HTTP/1.1' || chr(13) || chr(10) || 'Host: ex.com' || chr(13) || chr(10) || chr(13) || chr(10))) AS BIGINT) AS total_len " +
       "FROM documents WHERE doc_id % 5 = 0 " +
       "UNION ALL SELECT 'response', count(*), " +
       "CAST(sum(CASE WHEN doc_id % 7 = 3 " +
       "THEN strlen('HTTP/1.1 404 Not Found' || chr(13) || chr(10) || 'Content-Type: text/plain' || chr(13) || chr(10) || chr(13) || chr(10) || 'not found ' || CAST(doc_id AS VARCHAR)) " +
       "ELSE strlen('HTTP/1.1 200 OK' || chr(13) || chr(10) || 'Content-Type: text/html; charset=utf-8' || chr(13) || chr(10) || chr(13) || chr(10) || '<html><body><h2>D' || CAST(doc_id AS VARCHAR) || '</h2><p>' || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') || '</p></body></html>') END) AS BIGINT) " +
       "FROM documents " +
       "UNION ALL SELECT 'warcinfo', count(DISTINCT doc_id % 16), " +
       "CAST(count(DISTINCT doc_id % 16) * strlen('software: graft/13' || chr(13) || chr(10)) AS BIGINT) " +
       "FROM documents) ORDER BY warc_type"),
    "html_links" ->
      ("WITH n AS (SELECT doc_id, doc_id % 3 AS nl FROM documents), " +
       "links AS (SELECT doc_id, j AS link_pos, " +
       "'https://s' || CAST((doc_id*7+j) % 100 AS VARCHAR) || '.ex.com/p' || CAST(doc_id AS VARCHAR) || '-' || CAST(j AS VARCHAR) AS href, " +
       "'go & see ' || CAST(doc_id AS VARCHAR) || ' -' || CAST(j AS VARCHAR) AS anchor " +
       "FROM n, UNNEST(range(nl)) AS t(j)) " +
       "SELECT doc_id, CAST(link_pos AS BIGINT) AS link_pos, href, anchor " +
       "FROM links ORDER BY doc_id, link_pos"),
    "canonical_dedup" ->
      ("SELECT doc_id, 'https://c.ex.com/p' || CAST(doc_id AS VARCHAR) AS canonical " +
       "FROM documents WHERE doc_id < 50 ORDER BY doc_id"),
    "html_meta" ->
      ("SELECT doc_id, " +
       "'desc ' || CAST(doc_id % 9 AS VARCHAR) || ' & more' AS description, " +
       "CASE WHEN doc_id % 3 = 0 THEN NULL ELSE 'T' || CAST(doc_id % 5 AS VARCHAR) END AS og_title, " +
       "'https://c.ex.com/p' || CAST(doc_id % 50 AS VARCHAR) AS canonical, " +
       "CAST(NULL AS VARCHAR) AS robots " +
       "FROM documents ORDER BY doc_id"),
    "anchor_text" ->
      ("WITH l AS (SELECT doc_id, " +
       "'https://t' || CAST(doc_id % 7 AS VARCHAR) || '.ex.com/p' || CAST(doc_id % 50 AS VARCHAR) AS target, " +
       "'go ' || CAST(doc_id % 5 AS VARCHAR) AS anchor FROM documents) " +
       "SELECT target, count(*) AS n_links, count(DISTINCT doc_id) AS n_sources, " +
       "array_to_string(list_sort(list(anchor)), '|') AS anchors " +
       "FROM l GROUP BY target ORDER BY target"),
    "crawl_frontier" ->
      ("WITH l AS (SELECT doc_id, 0 AS link_pos, " +
       "'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.ex.com/a/up' || CAST(doc_id AS VARCHAR) AS frontier " +
       "FROM documents WHERE doc_id % 3 >= 1 " +
       "UNION ALL SELECT doc_id, 1, " +
       "'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.ex.com/r' || CAST(doc_id AS VARCHAR) " +
       "FROM documents WHERE doc_id % 3 >= 2) " +
       "SELECT doc_id, CAST(link_pos AS BIGINT) AS link_pos, frontier " +
       "FROM l ORDER BY doc_id, link_pos"),
    "html_tables" ->
      ("SELECT doc_id, CAST(t AS INTEGER) AS table_idx, CAST(r AS INTEGER) AS row_idx, cells_str FROM (" +
       "SELECT doc_id, 0 AS t, 0 AS r, 'k|v & w' AS cells_str FROM documents " +
       "UNION ALL SELECT doc_id, 0, 1, 'a' || CAST(doc_id % 50 AS VARCHAR) || '|b' || CAST(doc_id % 7 AS VARCHAR) FROM documents " +
       "UNION ALL SELECT doc_id, 1, 0, 'x inner y|z' FROM documents WHERE doc_id % 2 = 0" +
       ") ORDER BY doc_id, table_idx, row_idx"),
    "html_extract" ->
      (raw"SELECT doc_id, 'Doc ' || CAST(doc_id AS VARCHAR) AS title, " +
       raw"trim('Doc ' || chr(CAST(65 + doc_id % 26 AS INTEGER)) || ' link ' || trim(regexp_replace(text, '\s+', ' ', 'g'))) AS extracted, " +
       raw"'https://ex.com/' || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS links_str " +
       "FROM documents ORDER BY doc_id"),
    "html_markdown" ->
      ("SELECT doc_id, " +
       "repeat('#', CAST(1 + doc_id % 3 AS INTEGER)) || ' Doc ' || doc_id || chr(10) || chr(10) || " +
       "'para **one** of ' || doc_id || chr(10) || chr(10) || " +
       "'- item 0' || chr(10) || '- item *' || (doc_id % 5) || '*' || chr(10) || " +
       "'- outer' || chr(10) || '  1. n1' || chr(10) || '  2. n2' || chr(10) || chr(10) || " +
       "'see [link ' || doc_id || '](https://ex.com/' || doc_id || ')' AS markdown " +
       "FROM documents ORDER BY doc_id"),
    "regex_mask" ->
      (raw"SELECT doc_id, regexp_replace(regexp_replace(text, '\btable\b', '<TBL>', 'g'), " +
       "'(key|row)', '<K>', 'g') AS masked FROM documents ORDER BY doc_id"),
    "repetition" ->
      (s"SELECT doc_id, CAST(max(cnt) AS DOUBLE) / greatest(CAST(sum(cnt) AS DOUBLE), 1.0) AS rep_top_token_ratio, " +
       s"CAST(count(*) AS DOUBLE) / greatest(CAST(sum(cnt) AS DOUBLE), 1.0) AS rep_distinct_ratio " +
       s"FROM (SELECT doc_id, tok, count(*) AS cnt FROM " +
       s"(SELECT doc_id, unnest($toks) AS tok FROM documents) GROUP BY doc_id, tok) " +
       s"GROUP BY doc_id ORDER BY doc_id"),
    "ngram_count" ->
      (s"SELECT g AS ngram, count(*) AS cnt FROM (SELECT unnest(" +
       s"CASE WHEN len($toks) < 3 THEN [array_to_string($toks, ' ')] " +
       s"ELSE list_transform(generate_series(1, len($toks) - 2), " +
       s"i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2]) END) AS g " +
       s"FROM documents) GROUP BY g ORDER BY cnt DESC, ngram ASC LIMIT 50"),
    "tokenize" ->
      (s"SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_ws_tokens, " +
       raw"CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish_tokens " +
       s"FROM documents ORDER BY doc_id"),
    "fingerprint" ->
      raw"SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp_md5 FROM documents ORDER BY doc_id",
    "decontaminate" -> {
      val sh5 =
        s"CASE WHEN len($toks) < 5 THEN [array_to_string($toks, ' ')] " +
        s"ELSE list_distinct(list_transform(generate_series(1, len($toks) - 4), " +
        s"i -> ${(0 until 5).map(j => s"$toks[i+$j]").mkString(" || ' ' || ")})) END"
      s"WITH ev AS (SELECT list(s) AS l FROM " +
      s"(SELECT DISTINCT unnest($sh5) AS s FROM documents WHERE doc_id < 20)) " +
      s"SELECT doc_id, n_chars FROM documents, ev " +
      s"WHERE doc_id >= 20 AND len(list_intersect($sh5, ev.l)) = 0 ORDER BY doc_id"
    },
    "neardup_dedup" -> {
      val sh = shingles("documents")
      s"WITH RECURSIVE s AS (SELECT doc_id, $sh AS sh FROM documents WHERE doc_id < 250), " +
      "p AS (SELECT a.doc_id AS a, b.doc_id AS b FROM s a JOIN s b ON a.doc_id < b.doc_id " +
      "WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.5), " +
      "sym AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p), " +
      "reach(src, dst) AS (SELECT a AS src, b AS dst FROM sym " +
      "UNION SELECT r.src, s2.b AS dst FROM reach r JOIN sym s2 ON r.dst = s2.a) " +
      "SELECT doc_id, lang, source, n_chars FROM documents d WHERE doc_id < 250 " +
      "AND NOT EXISTS (SELECT 1 FROM reach WHERE reach.src = d.doc_id AND reach.dst < d.doc_id) " +
      "ORDER BY doc_id"
    },
    "neardup_keepbest" -> {
      val sh = shingles("documents")
      s"WITH RECURSIVE s AS (SELECT doc_id, $sh AS sh FROM documents WHERE doc_id < 250), " +
      "p AS (SELECT a.doc_id AS a, b.doc_id AS b FROM s a JOIN s b ON a.doc_id < b.doc_id " +
      "WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.5), " +
      "sym AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p), " +
      "reach(src, dst) AS (SELECT a AS src, b AS dst FROM sym " +
      "UNION SELECT r.src, s2.b AS dst FROM reach r JOIN sym s2 ON r.dst = s2.a) " +
      "SELECT doc_id, lang, source, n_chars FROM documents d WHERE doc_id < 250 " +
      "AND NOT EXISTS (SELECT 1 FROM reach r JOIN documents m ON m.doc_id = r.dst " +
      "WHERE r.src = d.doc_id AND (m.n_chars > d.n_chars OR " +
      "(m.n_chars = d.n_chars AND m.doc_id < d.doc_id))) " +
      "ORDER BY doc_id"
    },
    "substring_spans" -> (substringSpanCte(4) +
      "SELECT d.doc_id, CAST(coalesce(st.n, 0) AS BIGINT) AS ss_spans, " +
      "CAST(coalesce(st.dw, 0) AS BIGINT) AS ss_dup_words, " +
      "CAST(coalesce(st.mx, 0) AS BIGINT) AS ss_max_span " +
      "FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS n, " +
      "sum(len) AS dw, max(len) AS mx FROM spans GROUP BY doc_id) st " +
      "USING (doc_id) ORDER BY d.doc_id"),
    "substring_strip" -> (substringSpanCte(4) +
      ", cov AS (SELECT doc_id, list(DISTINCT cp) AS cps FROM " +
      "(SELECT doc_id, unnest(range(s, s + len)) AS cp FROM spans) " +
      "GROUP BY doc_id) " +
      "SELECT d.doc_id, CASE WHEN cov.cps IS NULL THEN d.text ELSE " +
      // DuckDB array_to_string([]) is NULL; a fully-stripped doc is ''
      "coalesce(array_to_string(list_filter(string_split(d.text, ' '), " +
      "(x, i) -> NOT list_contains(cov.cps, i)), ' '), '') END AS text " +
      "FROM documents d LEFT JOIN cov USING (doc_id) ORDER BY d.doc_id"),
    "minhash_pairs" -> {
      val sh = shingles("documents")
      s"WITH s AS (SELECT doc_id, $sh AS sh FROM documents) " +
      s"SELECT a.doc_id AS a, b.doc_id AS b, " +
      s"CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      s"CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard " +
      s"FROM s a JOIN s b ON a.doc_id < b.doc_id " +
      s"WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      s"CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.2 " +
      s"ORDER BY a, b"
    },
    // verdict tables for the approximate operators (recall/differential
    // checks computed in Spark; the oracle is the expected constant)
    "simhash_pairs" ->
      ("SELECT * FROM (VALUES ('all_pairs_within_maxdist', true), " +
       "('native_equals_hof_sigs', true), ('pairs_found', true)) " +
       "AS t(metric, pass) ORDER BY metric"),
    "similarity_lsh" ->
      ("SELECT * FROM (VALUES ('recall_at_5_ge_0.3', true), " +
       "('results_nonempty', true)) AS t(metric, pass) ORDER BY metric"),
    // the sign s(j,i) = parity of (j*100003 + i*17)^2 mod 1000003 and
    // the long quantization q(x) = round(x*1e6) are pure integer/IEEE
    // arithmetic — DuckDB recomputes the projection exactly
    "rand_project" ->
      ("WITH e AS (SELECT vec_id, unnest(embedding) AS x, " +
       "generate_subscripts(embedding, 1) AS i FROM embeddings) " +
       "SELECT e.vec_id, t.j, " +
       "CAST(SUM(CASE WHEN ((t.j*100003 + (e.i-1)*17) * (t.j*100003 + (e.i-1)*17)) " +
       "% 1000003 % 2 = 0 THEN 1 ELSE -1 END * " +
       "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS y " +
       "FROM e CROSS JOIN range(8) t(j) " +
       "GROUP BY e.vec_id, t.j ORDER BY vec_id, j"),
    "table_diff" ->
      ("WITH after AS (SELECT c_custkey, c_name, " +
       "CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal, " +
       "CASE WHEN c_custkey % 11 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment " +
       "FROM customer WHERE c_custkey % 13 <> 0 " +
       "UNION ALL SELECT 900000 + r_regionkey, 'NEW', 0.0, 'NEW' FROM region), " +
       "j AS (SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey, " +
       "a.c_custkey IS NOT NULL AS in_a, b.c_custkey IS NOT NULL AS in_b, " +
       "NOT (a.c_acctbal IS NOT DISTINCT FROM b.c_acctbal) AS d1, " +
       "NOT (a.c_mktsegment IS NOT DISTINCT FROM b.c_mktsegment) AS d2, " +
       "NOT (a.c_name IS NOT DISTINCT FROM b.c_name) AS d3 " +
       "FROM after a FULL JOIN customer b ON a.c_custkey = b.c_custkey) " +
       "SELECT c_custkey, " +
       "CASE WHEN NOT in_b THEN 'added' WHEN NOT in_a THEN 'removed' " +
       "WHEN d1 OR d2 OR d3 THEN 'changed' ELSE 'unchanged' END AS change, " +
       "CASE WHEN in_a AND in_b AND (d1 OR d2 OR d3) THEN concat_ws(',', " +
       "CASE WHEN d1 THEN 'c_acctbal' END, CASE WHEN d2 THEN 'c_mktsegment' END, " +
       "CASE WHEN d3 THEN 'c_name' END) ELSE '' END AS changed_cols " +
       "FROM j WHERE NOT (in_a AND in_b AND NOT d1 AND NOT d2 AND NOT d3) " +
       "ORDER BY c_custkey"),
    "quantize_embed" ->
      ("SELECT * FROM (VALUES ('max_err_le_half_scale', true), " +
       "('q_range_symmetric', true), ('recall_at_5_ge_0.9', true), " +
       "('results_nonempty', true)) AS t(metric, pass) ORDER BY metric"),
    "similarity_ivf" ->
      ("SELECT * FROM (VALUES ('recall_at_5_ge_0.8', true), " +
       "('results_nonempty', true)) AS t(metric, pass) ORDER BY metric"),
    "similarity_ivfpq" ->
      ("SELECT * FROM (VALUES ('recall_at_5_ge_0.8', true), " +
       "('results_nonempty', true)) AS t(metric, pass) ORDER BY metric"),
    "similarity_ivf_cross" ->
      ("SELECT * FROM (VALUES ('recall_at_5_ge_0.8', true), " +
       "('results_nonempty', true)) AS t(metric, pass) ORDER BY metric"),
    "flatten_nested" ->
      ("SELECT event_id, user_id AS meta_who_uid, event_type AS meta_what, " +
       "CAST(0 AS BIGINT) AS pair_idx, event_id AS pair FROM events " +
       "UNION ALL SELECT event_id, user_id, event_type, 1, user_id FROM events " +
       "ORDER BY event_id, pair_idx"),
    "rollup_levels" ->
      ("SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)' " +
       "ELSE CAST(o_orderstatus AS VARCHAR) END AS o_orderstatus, " +
       "CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)' " +
       "ELSE CAST(o_orderpriority AS VARCHAR) END AS o_orderpriority, " +
       "CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid, " +
       "count(*) AS n, " +
       "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
       "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority) " +
       "ORDER BY gid, o_orderstatus, o_orderpriority"),
    "pivot_wide" ->
      ("SELECT user_id, " +
       "count(CASE WHEN event_type = 'click' THEN 1 END) AS click, " +
       "count(CASE WHEN event_type = 'error' THEN 1 END) AS error, " +
       "count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase, " +
       "count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup, " +
       "count(CASE WHEN event_type = 'view' THEN 1 END) AS view " +
       "FROM events GROUP BY user_id ORDER BY user_id"),
    "expect_rules" ->
      ("WITH n AS (SELECT count(*) AS rows_ FROM orders), " +
       "m AS (" +
       "SELECT 'custkey_not_null' AS rule, n.rows_ AS rows, " +
       "(SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS violations, 1.0 AS min_ratio FROM n " +
       "UNION ALL SELECT 'orderkey_unique', n.rows_, " +
       "(SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)), 1.0 FROM n " +
       "UNION ALL SELECT 'price_positive', n.rows_, " +
       "(SELECT count(*) FROM orders WHERE NOT coalesce(o_totalprice > 0, false)) AS v, 0.99 FROM n " +
       "UNION ALL SELECT 'status_accepted', n.rows_, " +
       "(SELECT count(*) FROM orders WHERE o_orderstatus IS NULL OR o_orderstatus NOT IN ('F', 'O', 'P')), 1.0 FROM n " +
       "UNION ALL SELECT 'custkey_known', n.rows_, " +
       "(SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)), 1.0 FROM n " +
       "UNION ALL SELECT 'custkey_vs_regiondim', n.rows_, " +
       "(SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = o.o_custkey)), 0.0 FROM n) " +
       "SELECT rule, CAST(rows AS BIGINT) AS rows, CAST(violations AS BIGINT) AS violations, " +
       "CASE WHEN rows = 0 THEN 1.0 ELSE CAST(rows - violations AS DOUBLE) / rows END AS ratio, " +
       "(CASE WHEN rows = 0 THEN 1.0 ELSE CAST(rows - violations AS DOUBLE) / rows END) >= min_ratio AS passed " +
       "FROM m ORDER BY rule"),
    // bigram model mirrored in SQL: lockstep unnest of l[1:n-1]/l[2:n]
    // builds the bigram stream; integer bits like the unigram form
    "tokeninfo_bigram" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS l FROM documents), " +
       "bg AS (SELECT doc_id, unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2 FROM t WHERE len(l) >= 2), " +
       "cb AS (SELECT w1, w2, count(*) AS cbg FROM bg GROUP BY 1, 2), " +
       "cp AS (SELECT w1, count(*) AS cpre FROM bg GROUP BY 1), " +
       "d AS (SELECT bg.doc_id, count(*) AS nt, " +
       "CAST(sum(length(bin(cp.cpre // cb.cbg))) AS BIGINT) AS bits " +
       "FROM bg JOIN cb USING (w1, w2) JOIN cp USING (w1) GROUP BY 1) " +
       "SELECT doc.doc_id, CAST(coalesce(d.nt, 0) AS BIGINT) AS n_info_tokens, " +
       "CAST(coalesce(d.bits, 0) AS BIGINT) AS info_bits, " +
       "CASE WHEN coalesce(d.nt, 0) > 0 THEN CAST(d.bits AS DOUBLE) / d.nt END AS bits_per_token " +
       "FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id ORDER BY doc.doc_id"),
    "perplexity_filter" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS l FROM documents), " +
       "bg AS (SELECT doc_id, unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2 FROM t WHERE len(l) >= 2), " +
       "tt AS (SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS l FROM documents WHERE doc_id % 7 = 0), " +
       "tbg AS (SELECT unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2 FROM tt WHERE len(l) >= 2), " +
       "cb AS (SELECT w1, w2, count(*) AS cbg FROM tbg GROUP BY 1, 2), " +
       "cp AS (SELECT w1, count(*) AS cpre FROM tbg GROUP BY 1), " +
       "v AS (SELECT count(DISTINCT u) AS vv FROM (SELECT unnest(l) AS u FROM tt)), " +
       "d AS (SELECT bg.doc_id, count(*) AS nt, " +
       "CAST(sum(length(bin(coalesce(cp.cpre, 0) + v.vv)) - length(bin(coalesce(cb.cbg, 0) + 1))) AS BIGINT) AS bits " +
       "FROM bg LEFT JOIN cb USING (w1, w2) LEFT JOIN cp USING (w1) CROSS JOIN v GROUP BY 1) " +
       "SELECT doc.doc_id, CAST(coalesce(d.nt, 0) AS BIGINT) AS n_info_tokens, " +
       "CAST(coalesce(d.bits, 0) AS BIGINT) AS info_bits, " +
       "CASE WHEN coalesce(d.nt, 0) > 0 THEN CAST(d.bits AS DOUBLE) / d.nt END AS bits_per_token " +
       "FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id ORDER BY doc.doc_id"),
    "tokeninfo" ->
      ("WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok " +
       "FROM documents), tt AS (SELECT doc_id, tok FROM t WHERE tok <> ''), " +
       "c AS (SELECT tok, count(*) AS cnt FROM tt GROUP BY 1), " +
       "n AS (SELECT count(*) AS total FROM tt), " +
       "d AS (SELECT tt.doc_id, count(*) AS nt, " +
       "CAST(sum(length(bin(n.total // c.cnt))) AS BIGINT) AS bits " +
       "FROM tt JOIN c USING (tok) CROSS JOIN n GROUP BY 1) " +
       "SELECT doc.doc_id, CAST(coalesce(d.nt, 0) AS BIGINT) AS n_info_tokens, " +
       "CAST(coalesce(d.bits, 0) AS BIGINT) AS info_bits, " +
       "CASE WHEN coalesce(d.nt, 0) > 0 THEN CAST(d.bits AS DOUBLE) / d.nt END AS bits_per_token " +
       "FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id ORDER BY doc.doc_id"),
    "bpe_tokenize" ->
      ("SELECT * FROM (VALUES ('compresses', true), ('deterministic', true), " +
       "('roundtrip_exact', true), ('vocab_bounded', true)) " +
       "AS t(metric, pass) ORDER BY metric"),
    "cosine_dup" ->
      ("SELECT * FROM (VALUES ('false_positives_zero', true), " +
       "('recall_ge_0.4', true), ('results_nonempty', true)) " +
       "AS t(metric, pass) ORDER BY metric"),
    "kmeans_cluster" ->
      ("SELECT * FROM (VALUES ('all_assigned', true), ('cells_bounded', true), " +
       "('results_nonempty', true), ('trained_improves', true)) " +
       "AS t(metric, pass) ORDER BY metric"),
    "semantic_dedup" ->
      ("SELECT * FROM (VALUES ('false_positives_zero', true), " +
       "('recall_ge_0.8', true), ('results_nonempty', true)) " +
       "AS t(metric, pass) ORDER BY metric"),
    "neardup_dedup_lsh" -> {
      val sh = shingles("documents")
      s"WITH RECURSIVE s AS (SELECT doc_id, $sh AS sh FROM documents), " +
      "p AS (SELECT a.doc_id AS a, b.doc_id AS b FROM s a JOIN s b ON a.doc_id < b.doc_id " +
      "WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.5), " +
      "sym AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p), " +
      "reach(src, dst) AS (SELECT a AS src, b AS dst FROM sym " +
      "UNION SELECT r.src, s2.b AS dst FROM reach r JOIN sym s2 ON r.dst = s2.a) " +
      "SELECT doc_id, n_chars FROM documents d " +
      "WHERE NOT EXISTS (SELECT 1 FROM reach WHERE reach.src = d.doc_id AND reach.dst < d.doc_id) " +
      "ORDER BY doc_id"
    },
    "ngram_jaccard" -> {
      val sh = shingles("documents")
      s"WITH s AS (SELECT doc_id, $sh AS sh FROM documents WHERE doc_id < 60) " +
      s"SELECT a.doc_id AS a, b.doc_id AS b, " +
      s"CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      s"CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard " +
      s"FROM s a JOIN s b ON a.doc_id < b.doc_id " +
      s"WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      s"CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.015 " +
      s"ORDER BY a, b"
    },
    "containment_pairs" -> {
      val sh = shingles("corp")
      raw"WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id < 40 " +
      "UNION ALL SELECT doc_id + 100000, array_to_string(list_slice(list_filter(string_split(trim(text), ' '), x -> x <> ''), 1, 12), ' ') " +
      "FROM documents WHERE doc_id < 40 AND doc_id % 3 = 0), " +
      s"s AS (SELECT doc_id, $sh AS sh FROM corp) " +
      "SELECT a.doc_id AS a, b.doc_id AS b, " +
      "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "CAST(least(len(a.sh), len(b.sh)) AS DOUBLE) AS containment " +
      "FROM s a JOIN s b ON a.doc_id < b.doc_id " +
      "WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "CAST(least(len(a.sh), len(b.sh)) AS DOUBLE) >= 0.6 " +
      "ORDER BY a, b"
    },
    "similarity_cross" -> (
      "WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 10), " +
      "b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id >= 50), " +
      "scored AS (SELECT q.vec_id AS q_id, b.vec_id AS n_id, " +
      "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
      "list_dot_product(q.e, b.e) / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(b.e, b.e))) DESC, " +
      "b.vec_id ASC) AS rank FROM q, b) " +
      "SELECT q_id, n_id, rank FROM scored WHERE rank <= 5 ORDER BY q_id, rank"),
    "similarity_topk" -> (
      "WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 20), " +
      "b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
      "scored AS (SELECT q.vec_id AS q_id, b.vec_id AS n_id, " +
      "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
      "list_dot_product(q.e, b.e) / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(b.e, b.e))) DESC, " +
      "b.vec_id ASC) AS rank FROM q, b WHERE q.vec_id <> b.vec_id) " +
      "SELECT q_id, n_id, rank FROM scored WHERE rank <= 5 ORDER BY q_id, rank"),
    // oracles recompute the MediaFixtures dimension arithmetic — the
    // Spark side must recover the same numbers from REAL image bytes
    "mm_decode" ->
      ("SELECT doc_id AS media_id, " +
       "CAST(16 + (doc_id * 7) % 97 AS INTEGER) AS width, " +
       "CAST(16 + (doc_id * 11) % 83 AS INTEGER) AS height, " +
       "CAST(CASE WHEN doc_id % 5 = 3 THEN 1 ELSE 3 END AS INTEGER) AS channels, " +
       "CAST(1 AS INTEGER) AS n_frames " +
       "FROM documents WHERE doc_id % 5 <> 4 ORDER BY media_id"),
    "mm_exif" ->
      ("SELECT doc_id AS media_id, " +
       "CAST(1 + doc_id % 8 AS INTEGER) AS orientation, " +
       "'maker' || CAST(doc_id % 7 AS VARCHAR) AS exif_make, " +
       "'model' || CAST(doc_id * 3 % 13 AS VARCHAR) AS exif_model " +
       "FROM documents WHERE doc_id % 5 = 1 ORDER BY media_id"),
    "mm_frames" ->
      ("SELECT doc_id AS media_id, " +
       "CAST(unnest(generate_series(0, CAST(doc_id % 6 AS INTEGER), 2)) AS BIGINT) AS frame_idx " +
       "FROM documents WHERE doc_id % 5 = 4 ORDER BY media_id, frame_idx"),
    "mm_resize" ->
      ("SELECT doc_id AS media_id, " +
       "CAST(floor((16 + (doc_id * 7) % 97) * least(CAST(24 AS DOUBLE) / (16 + (doc_id * 7) % 97), CAST(24 AS DOUBLE) / (16 + (doc_id * 11) % 83), CAST(1 AS DOUBLE))) AS INTEGER) AS width, " +
       "CAST(floor((16 + (doc_id * 11) % 83) * least(CAST(24 AS DOUBLE) / (16 + (doc_id * 7) % 97), CAST(24 AS DOUBLE) / (16 + (doc_id * 11) % 83), CAST(1 AS DOUBLE))) AS INTEGER) AS height, " +
       "CAST(CASE WHEN doc_id % 5 = 3 THEN 1 ELSE 3 END AS INTEGER) AS channels " +
       "FROM documents WHERE doc_id % 5 <> 4 ORDER BY media_id"),
    "mm_video" ->
      ("SELECT doc_id AS media_id, " +
       "CAST(32 + (doc_id * 7) % 289 AS INTEGER) AS width, " +
       "CAST(32 + (doc_id * 11) % 241 AS INTEGER) AS height, " +
       "CAST(10 + (doc_id * 13) % 90 AS INTEGER) AS n_frames, " +
       "CAST(600 AS BIGINT) AS timescale, " +
       "CAST((10 + (doc_id * 13) % 90) * (600 // (CASE CAST(doc_id % 7 AS INT) " +
       "WHEN 0 THEN 10 WHEN 1 THEN 12 WHEN 2 THEN 15 WHEN 3 THEN 20 " +
       "WHEN 4 THEN 24 WHEN 5 THEN 25 ELSE 30 END)) AS BIGINT) AS duration " +
       "FROM documents ORDER BY media_id"),
    "mm_audio" ->
      ("SELECT doc_id AS media_id, " +
       "CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 32000 END AS INTEGER) AS sample_rate, " +
       "CAST(1 + doc_id % 2 AS INTEGER) AS channels, " +
       "CAST(500 + (doc_id * 13) % 1000 AS BIGINT) AS n_samples " +
       "FROM documents ORDER BY media_id"),
    // per-page PDF text = doc_id arithmetic (MediaFixtures.pdfText):
    // the engine must recover the SAME strings from real PDF bytes
    "pdf_extract" ->
      ("SELECT d.doc_id AS media_id, CAST(g.p AS INTEGER) AS page, " +
       "CAST(1 + d.doc_id % 4 AS INTEGER) AS n_pages, " +
       "'Doc ' || d.doc_id || ' page ' || g.p || chr(10) || " +
       "'tok' || ((d.doc_id * 7 + g.p * 3) % 97) || ' (q' || (d.doc_id % 5) || ')' || chr(10) || " +
       "'alpha beta' AS text " +
       "FROM documents d CROSS JOIN generate_series(1, 4) AS g(p) " +
       "WHERE g.p <= 1 + d.doc_id % 4 ORDER BY media_id, page"),
    // zip member facts = doc arithmetic + byte-length of the text the
    // member carries; the engine must recover them from real archives
    "zip_extract" ->
      ("SELECT doc_id, 'doc/' || doc_id || '.txt' AS member, " +
       "CAST(strlen(text) AS BIGINT) AS size, " +
       "CASE WHEN doc_id % 5 = 0 THEN 'stored' ELSE 'deflate' END AS method, " +
       "text FROM documents ORDER BY doc_id"),
    // roundtrip identity via two zip implementations (writer:
    // java.util.zip; reader: our central-directory walk)
    "zip_export" ->
      ("SELECT doc_id, 'doc/' || doc_id || '.txt' AS member, " +
       "CAST(strlen(text) AS BIGINT) AS size, 'deflate' AS method, " +
       "text FROM documents ORDER BY doc_id"),
    // roundtrip identity: what the tar loader wrote, the tar extractor
    // reads back — facts are the source-table arithmetic
    "tar_export" ->
      ("SELECT doc_id, 'doc/' || doc_id || '.txt' AS member, " +
       "CAST(strlen(text) AS BIGINT) AS size, " +
       "CAST(1400000000 + doc_id AS BIGINT) AS mtime, " +
       "text FROM documents ORDER BY doc_id"),
    // bare-message decode: subject via 2047-B, body via QP
    "eml_extract" ->
      ("SELECT doc_id, 'Eml café ' || doc_id AS subject, " +
       "'Eé body ' || doc_id AS text FROM documents " +
       "WHERE doc_id % 4 = 1 ORDER BY doc_id"),
    // thread depth = doc_id % 4 by the planted reply chains; only the
    // corpus-tail root can be edge-less (excluded on both sides)
    "mail_threads" ->
      ("SELECT '<m' || doc_id || '@example.com>' AS id, " +
       "CAST(doc_id % 4 AS BIGINT) AS layer FROM documents " +
       "WHERE doc_id % 4 <> 0 OR doc_id + 1 <= (SELECT max(doc_id) FROM documents) " +
       "ORDER BY id"),
    // every decoded mail field is doc arithmetic: Q-encoded subjects on
    // even ids, four body classes (plain+mboxrd newline tail, QP with
    // its soft break healed, base64 payload, multipart plain part)
    "mbox_extract" ->
      ("SELECT doc_id, " +
       "CASE WHEN doc_id % 2 = 0 THEN 'Msg café ' || doc_id ELSE 'Msg ' || doc_id END AS subject, " +
       "'User ' || doc_id || ' <user' || doc_id || '@example.com>' AS from_addr, " +
       "CASE WHEN doc_id % 4 = 3 THEN 'multipart/mixed' ELSE 'text/plain' END AS content_type, " +
       "CASE CAST(doc_id % 4 AS INT) " +
       "WHEN 0 THEN text || chr(10) || 'From here on' || chr(10) " +
       "WHEN 1 THEN 'QP café body ' || doc_id || chr(10) " +
       "WHEN 2 THEN 'B64 body ' || doc_id || ' é' " +
       "ELSE 'MP plain ' || doc_id END AS text " +
       "FROM documents ORDER BY doc_id"),
    // charset label + decoded text are pure doc arithmetic; the engine
    // must detect them from the bytes
    "decode_text" ->
      ("SELECT doc_id, CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'UTF-8' " +
       "WHEN 1 THEN 'UTF-8-BOM' WHEN 2 THEN 'UTF-16LE' WHEN 3 THEN 'UTF-16BE' " +
       "ELSE 'windows-1252' END AS charset, " +
       "'Doc ' || doc_id || ' café end' AS text " +
       "FROM documents ORDER BY doc_id"),
    // sample regrouping: the pair members carry the source text and a
    // doc-arithmetic label; one row per sample
    "wds_samples" ->
      ("SELECT doc_id, text, 'c' || (doc_id % 10) AS cls " +
       "FROM documents ORDER BY doc_id"),
    // cell density = the same pmod-then-floor-divide integer spelling
    // (DuckDB % keeps the dividend sign, so +c then %c matches pmod;
    // // is exact on the divisible numerator); sum cast (HUGEINT rule)
    "geo_density" ->
      ("WITH p AS (SELECT c_custkey, (c_custkey*37)%100000 AS lat, " +
       "(c_custkey*73)%100000 - 50000 AS lon FROM customer) " +
       "SELECT (lat - (((lat % 10000) + 10000) % 10000)) // 10000 AS cell_y, " +
       "(lon - (((lon % 10000) + 10000) % 10000)) // 10000 AS cell_x, " +
       "count(*) AS n, CAST(sum(c_custkey) AS BIGINT) AS key_sum " +
       "FROM p GROUP BY 1, 2 ORDER BY cell_y, cell_x"),
    // planted-clique clustering: component = min custkey of the
    // cluster key (custkey % 100) — pure window arithmetic, no closure
    "geo_cluster" ->
      ("SELECT 'p' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS id, " +
       "'p' || lpad(CAST(min(c_custkey) OVER (PARTITION BY c_custkey % 100) AS VARCHAR), 6, '0') AS component " +
       "FROM customer ORDER BY id"),
    // radius join ground truth = the full cross join with the exact
    // integer distance predicate (all BIGINT, no floats anywhere)
    "geo_join" ->
      ("SELECT id, r_sid, (lat-rlat)*(lat-rlat)+(lon-rlon)*(lon-rlon) AS dist2 FROM " +
       "(SELECT c_custkey AS id, (c_custkey*37)%100000 AS lat, (c_custkey*73)%100000 AS lon FROM customer) a " +
       "CROSS JOIN " +
       "(SELECT s_suppkey AS r_sid, (s_suppkey*41)%100000 AS rlat, (s_suppkey*79)%100000 AS rlon FROM supplier) b " +
       "WHERE (lat-rlat)*(lat-rlat)+(lon-rlon)*(lon-rlon) <= 25000000 " +
       "ORDER BY id, r_sid"),
    // tar member facts = doc arithmetic (planted mtime, byte sizes);
    // the engine recovers them from real ustar blocks (half gzipped)
    "tar_extract" ->
      ("SELECT doc_id, 'doc/' || doc_id || '.txt' AS member, " +
       "CAST(strlen(text) AS BIGINT) AS size, " +
       "CAST(1500000000 + doc_id AS BIGINT) AS mtime, " +
       "text FROM documents ORDER BY doc_id"),
    // script plant: minor = doc_id%6 latin 'a', major = 7 + doc_id%5 of
    // the doc_id%3-rotated script; LATIN majors merge with the minor
    // (ratio exactly 1), others ratio = one IEEE division
    "script_mix" ->
      ("SELECT doc_id, CAST(doc_id % 6 + 7 + doc_id % 5 AS BIGINT) AS n_letters, " +
       "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'LATIN' WHEN 1 THEN 'CYRILLIC' ELSE 'HAN' END AS top_script, " +
       "CASE WHEN doc_id % 3 = 0 THEN CAST(1 AS DOUBLE) " +
       "ELSE CAST(7 + doc_id % 5 AS DOUBLE) / CAST(doc_id % 6 + 7 + doc_id % 5 AS DOUBLE) END AS top_ratio " +
       "FROM documents ORDER BY doc_id"),
    // the LaTeX skeleton strips to: title + section + text + the kept
    // literals, whitespace-collapsed (the htmlextract contract)
    "latex_strip" ->
      (raw"SELECT doc_id, 'Doc ' || doc_id || ' Intro Text: ' || " +
       raw"trim(regexp_replace(text, '\s+', ' ', 'g')) || " +
       "' and 100% bold' || (doc_id % 7) AS text " +
       "FROM documents ORDER BY doc_id"),
    // the Markdown skeleton strips to the planted prose pieces joined
    // by single spaces (the htmlextract whitespace contract)
    "markdown_strip" ->
      (raw"SELECT doc_id, 'Doc ' || doc_id || ' Intro em' || (doc_id % 7) || " +
       "' and bold plus code span ' || (doc_id % 5) || " +
       "' here. Link text and fig alt ' || (doc_id % 3) || " +
       "' item one item two ' || (doc_id % 4) || " +
       "' quoted tail ' || (doc_id % 6) || " +
       "' code fence ' || (doc_id % 2) || " +
       "' col a col b cell ' || (doc_id % 8) || " +
       "' x Setext ' || (doc_id % 9) || " +
       raw"' Body: ' || trim(regexp_replace(text, '\s+', ' ', 'g')) || " +
       "' Tail *lit* snake_case & done' AS text " +
       "FROM documents ORDER BY doc_id"),
    // EPUB chapter text = doc_id arithmetic: 1–2 chapters per doc ≡ 0
    // mod 4 (2 when ≡ 0 mod 8), heading + paragraph space-joined by the
    // htmlextract whitespace contract
    "epub_extract" ->
      ("SELECT d.doc_id, CAST(g.ch AS INTEGER) AS chapter, " +
       "'Ch ' || g.ch || ' Body ' || g.ch || ' of doc ' || d.doc_id AS text " +
       "FROM documents d CROSS JOIN generate_series(1, 2) AS g(ch) " +
       "WHERE d.doc_id % 4 = 0 AND (g.ch = 1 OR d.doc_id % 8 = 0) " +
       "ORDER BY doc_id, chapter"),
    // DOCX paragraph text = doc_id arithmetic (MediaFixtures.docxParas):
    // para 1 carries XML entities + a tab the parser must restore
    "docx_extract" ->
      ("SELECT doc_id AS media_id, CAST(1 + doc_id % 3 AS INTEGER) AS n_paragraphs, " +
       "'Title <' || doc_id || '> & co' || chr(9) || 'col' || (doc_id % 7) || " +
       "CASE WHEN doc_id % 3 >= 1 THEN chr(10) || 'Para 2 of doc ' || doc_id ELSE '' END || " +
       "CASE WHEN doc_id % 3 >= 2 THEN chr(10) || 'Para 3 of doc ' || doc_id ELSE '' END AS text " +
       "FROM documents ORDER BY media_id"),
    // ODT paragraphs strip to space-joined text (the htmlextract
    // whitespace contract; the XML prolog and ODF tags all drop)
    "odt_extract" ->
      ("SELECT doc_id, 'Odt ' || doc_id || ' First part of doc ' || doc_id || " +
       "' Second part ' || (doc_id % 6) AS text " +
       "FROM documents WHERE doc_id % 4 = 2 ORDER BY doc_id"),
    // RTF plant: same paragraph arithmetic family as docx — the header
    // destinations must not leak, every escape family must restore
    "rtf_extract" ->
      ("SELECT doc_id AS media_id, CAST(1 + doc_id % 3 AS INTEGER) AS n_paragraphs, " +
       "'RTF ' || doc_id || ' café' || chr(9) || '{b' || (doc_id % 5) || '}' || " +
       "CASE WHEN doc_id % 3 >= 1 THEN chr(10) || 'Para 2 of rtf ' || doc_id || ' 50\\50' ELSE '' END || " +
       "CASE WHEN doc_id % 3 >= 2 THEN chr(10) || 'Uni 中 ' || doc_id ELSE '' END AS text " +
       "FROM documents ORDER BY media_id"),
    // embedded-figure plants (even ids): declared dims are doc_id
    // arithmetic; the decode composition must recover the SAME dims
    // from the real JPEG pixels
    "pdf_images" ->
      ("SELECT doc_id AS media_id, CAST(0 AS INTEGER) AS image_idx, " +
       "CAST(16 + (doc_id * 5) % 31 AS INTEGER) AS width, " +
       "CAST(16 + (doc_id * 9) % 29 AS INTEGER) AS height, " +
       "'DCTDecode' AS filter FROM documents WHERE doc_id % 2 = 0 " +
       "ORDER BY media_id, image_idx"),
    "pdf_meta" ->
      ("SELECT doc_id AS media_id, " +
       "CASE WHEN doc_id % 3 <> 1 THEN 'Doc ' || doc_id END AS title, " +
       "CASE WHEN doc_id % 3 <> 1 THEN 'author' || (doc_id % 13) END AS author " +
       "FROM documents ORDER BY media_id"),
    "pdf_figure_decode" ->
      ("SELECT doc_id AS media_id, " +
       "CAST(16 + (doc_id * 5) % 31 AS INTEGER) AS width, " +
       "CAST(16 + (doc_id * 9) % 29 AS INTEGER) AS height, " +
       "CAST(3 AS INTEGER) AS channels FROM documents WHERE doc_id % 2 = 0 " +
       "ORDER BY media_id"),
    // WARC→PDF composition: page-1 text per PDF response record (every
    // 3rd doc is a text/html decoy the content-type routing drops)
    "warc_pdf" ->
      ("SELECT d.doc_id, CAST(1 + d.doc_id % 4 AS INTEGER) AS n_pages, " +
       "'Doc ' || d.doc_id || ' page 1' || chr(10) || " +
       "'tok' || ((d.doc_id * 7 + 3) % 97) || ' (q' || (d.doc_id % 5) || ')' || chr(10) || " +
       "'alpha beta' AS text " +
       "FROM documents d WHERE d.doc_id % 3 <> 1 ORDER BY doc_id"),
    // ID3v2 plants: tags on even ids (ADTS ids are odd), TALB on %4=0
    "mm_id3" ->
      ("SELECT doc_id AS media_id, " +
       "CASE WHEN doc_id % 2 = 0 THEN 'Title ' || CAST(doc_id % 23 AS VARCHAR) END AS title, " +
       "CASE WHEN doc_id % 2 = 0 THEN 'artist' || CAST(doc_id % 7 AS VARCHAR) END AS artist, " +
       "CASE WHEN doc_id % 4 = 0 THEN 'album' || CAST(doc_id * 3 % 11 AS VARCHAR) END AS album " +
       "FROM documents ORDER BY media_id"),
    // MP3: frames × 1152 (MPEG-1 Layer III); ADTS (doc_id%4=3): × 1024
    "mm_audio_compressed" ->
      ("SELECT doc_id AS media_id, " +
       "CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS INTEGER) AS sample_rate, " +
       "CAST(1 + doc_id % 2 AS INTEGER) AS channels, " +
       "CAST((6 + (doc_id * 11) % 24) * (CASE WHEN doc_id % 4 = 3 THEN 1024 ELSE 1152 END) AS BIGINT) AS n_samples " +
       "FROM documents ORDER BY media_id"),
    // every 4th frame of each fixture MP4; frame payload bytes are
    // doc_id arithmetic, so first_byte proves the REAL byte slicing
    "mm_frame_sample" ->
      ("SELECT d.doc_id AS media_id, CAST(g.i AS INT) AS frame_idx, " +
       "1 AS n_bytes, CAST((d.doc_id * 31 + g.i * 7) % 251 AS INT) AS first_byte " +
       "FROM documents d CROSS JOIN generate_series(0, 98, 4) AS g(i) " +
       "WHERE g.i < 10 + (d.doc_id * 13) % 90 " +
       "ORDER BY media_id, frame_idx"),
    // per-sampled-frame pixel facts (MediaFixtures.mjpeg* arithmetic):
    // the engine must slice the right JPEG bytes and pixel-decode them
    "mm_frame_decode" ->
      ("SELECT d.doc_id AS media_id, CAST(g.i AS BIGINT) AS frame_idx, " +
       "CAST(16 + (d.doc_id * 3 + g.i * 5) % 48 AS BIGINT) AS width, " +
       "CAST(16 + (d.doc_id * 7 + g.i * 11) % 40 AS BIGINT) AS height, " +
       "(d.doc_id + g.i) % 2 = 0 AS bright " +
       "FROM documents d CROSS JOIN generate_series(0, 7, 2) AS g(i) " +
       "WHERE g.i < 3 + d.doc_id % 6 " +
       "ORDER BY media_id, frame_idx"),
    "scene_cuts" ->
      ("SELECT d.doc_id AS media_id, CAST(3 + d.doc_id % 6 AS BIGINT) AS n_frames, " +
       "CAST(2 + d.doc_id % 6 AS BIGINT) AS n_cuts, CAST(1 AS BIGINT) AS first_cut " +
       "FROM documents d ORDER BY media_id"),
    // the planted-partner arithmetic (MediaFixtures.phashPattern): the
    // engine must recover each (id-1, id) pair from real PNG pixels;
    // rows_match kills false pairs, so no hash values need expressing
    "mm_phash_dedup" ->
      ("SELECT d.doc_id - 1 AS a, d.doc_id AS b FROM documents d " +
       "JOIN documents e ON e.doc_id = d.doc_id - 1 " +
       "WHERE d.doc_id % 100 = 1 ORDER BY a, b"),
    "stream_dedup" ->
      ("SELECT DISTINCT user_id, event_type FROM events " +
       "ORDER BY user_id, event_type"),
    "stream_distinct" ->
      ("SELECT date_trunc('hour', ts) AS window_start, event_type, " +
       "CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact, true AS est_ok " +
       "FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"),
    "stream_throttle" ->
      ("WITH b AS (SELECT CAST(user_id % 20 AS VARCHAR) AS key, ts, event_id AS tie FROM events), " +
       "w AS (SELECT key, ts, tie, epoch_ms(ts) // 604800000 AS win FROM b), " +
       "r AS (SELECT key, ts, tie, win, row_number() OVER (PARTITION BY key, win ORDER BY ts, tie) AS rn FROM w) " +
       "SELECT key, ts, tie, epoch_ms(win * 604800000) AS window_start " +
       "FROM r WHERE rn <= 50 ORDER BY tie"),
    "stream_ingest" ->
      (raw"SELECT doc_id, trim('d' || CAST(doc_id AS VARCHAR) || ' ' || " +
       raw"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS norm " +
       "FROM documents ORDER BY doc_id"),
    "stream_enrich" ->
      ("SELECT e.event_id, e.user_id, c.c_mktsegment AS segment " +
       "FROM events e JOIN customer c ON e.user_id = c.c_custkey " +
       "ORDER BY event_id"),
    "stream_upsert" ->
      ("SELECT event_id, user_id, " +
       "CASE WHEN event_id % 10 = 0 THEN 'updated' ELSE event_type END AS event_type, " +
       "CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value " +
       "FROM events ORDER BY event_id"),
    "chunk_windows" ->
      (s"WITH t AS (SELECT doc_id, $toks AS tk FROM documents), " +
       "u AS (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk), 1), 48)) AS s FROM t) " +
       "SELECT doc_id, CAST((s - 1) / 48 AS BIGINT) AS chunk_index, " +
       "array_to_string(list_slice(tk, s, s + 63), ' ') AS chunk_text, " +
       "CAST(least(64, len(tk) - s + 1) AS BIGINT) AS chunk_tokens " +
       "FROM u ORDER BY doc_id, chunk_index"),
    "sentence_split" ->
      ("WITH t AS (SELECT doc_id, regexp_extract_all(text, '[^.!?]+[.!?]*') AS sents FROM documents), " +
       "u AS (SELECT doc_id, sents, unnest(generate_series(1, len(sents))) AS i FROM t) " +
       "SELECT doc_id, CAST(i - 1 AS BIGINT) AS sent_idx, trim(sents[i]) AS sentence " +
       "FROM u WHERE trim(sents[i]) <> '' ORDER BY doc_id, sent_idx"),
    "tfidf_terms" -> {
      val ltoks = raw"regexp_split_to_array(trim(lower(text)), '\s+')"
      s"WITH tf AS (SELECT doc_id, t AS term, count(*) AS tf FROM " +
      s"(SELECT doc_id, unnest($ltoks) AS t FROM documents) GROUP BY 1, 2), " +
      "dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
      "n AS (SELECT count(*) AS nn FROM documents), " +
      "scored AS (SELECT doc_id, term, tf, df, " +
      "CAST(tf * nn AS DOUBLE) / CAST(df AS DOUBLE) AS score " +
      "FROM tf JOIN dfq USING (term) CROSS JOIN n) " +
      "SELECT doc_id, term, tf, df, score, CAST(row_number() OVER " +
      "(PARTITION BY doc_id ORDER BY score DESC, term ASC) AS BIGINT) AS term_rank " +
      "FROM scored QUALIFY term_rank <= 3 ORDER BY doc_id, term_rank"
    },
    "dsir_weight" -> {
      val toks = raw"unnest(regexp_split_to_array(trim(lower(text)), '\s+'))"
      s"WITH tok AS (SELECT doc_id, t AS w FROM (SELECT doc_id, $toks AS t FROM documents)), " +
      s"ttok AS (SELECT t AS w FROM (SELECT $toks AS t FROM documents WHERE doc_id % 7 = 0)), " +
      "dt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2), " +
      "src AS (SELECT w, count(*) AS cs FROM tok GROUP BY 1), " +
      "tgt AS (SELECT w, count(*) AS ct FROM ttok GROUP BY 1), " +
      "tot AS (SELECT (SELECT count(*) FROM tok) AS ns, (SELECT count(*) FROM ttok) AS nt), " +
      "per AS (SELECT dt.doc_id, CAST(sum(dt.c * " +
      "((length(bin(COALESCE(tgt.ct, 0) + 1)) - length(bin(tot.nt + 1))) - " +
      "(length(bin(src.cs + 1)) - length(bin(tot.ns + 1))))) AS BIGINT) AS w " +
      "FROM dt JOIN src USING (w) LEFT JOIN tgt USING (w) CROSS JOIN tot GROUP BY 1) " +
      "SELECT d.doc_id, CAST(COALESCE(per.w, 0) AS BIGINT) AS dsir_weight " +
      "FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id ORDER BY d.doc_id"
    },
    "nb_classify" -> {
      // mirrors the stage's integer-bits NB exactly: L(x)=length(bin(x)),
      // score_c = L(docs_c) + Σ c·(L(cnt_c+1) − L(N_c + V)), argmax with
      // ascending-label ties
      val toks = raw"unnest(regexp_split_to_array(trim(lower(text)), '\s+'))"
      s"WITH tok AS (SELECT doc_id, t AS token FROM (SELECT doc_id, $toks AS t FROM documents)), " +
      "lab AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'good' ELSE 'bad' END AS label FROM documents WHERE doc_id % 7 < 2), " +
      "ltok AS (SELECT l.label, t.token FROM lab l JOIN tok t USING (doc_id)), " +
      "tc AS (SELECT label, token, count(*) AS cc FROM ltok GROUP BY 1, 2), " +
      "ct AS (SELECT label, sum(cc) AS ntok FROM tc GROUP BY 1), " +
      "cd AS (SELECT label, count(*) AS ndoc FROM lab GROUP BY 1), " +
      "v AS (SELECT count(DISTINCT token) AS vs FROM ltok), " +
      "cls AS (SELECT ct.label, CAST(length(bin(cd.ndoc)) AS BIGINT) AS prior, " +
      "CAST(length(bin(ct.ntok + v.vs)) AS BIGINT) AS denom FROM ct JOIN cd USING (label) CROSS JOIN v), " +
      "dt AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2), " +
      "sc AS (SELECT dt.doc_id, cls.label, cls.prior + sum(dt.c * " +
      "(CAST(length(bin(COALESCE(tc.cc, 0) + 1)) AS BIGINT) - cls.denom)) AS score " +
      "FROM dt CROSS JOIN cls LEFT JOIN tc ON tc.label = cls.label AND tc.token = dt.token " +
      "GROUP BY 1, 2, cls.prior), " +
      "best AS (SELECT doc_id, label, score, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label ASC) AS rn FROM sc) " +
      "SELECT d.doc_id, b.label AS nb_label, CAST(b.score AS BIGINT) AS nb_label_bits " +
      "FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1 " +
      "ORDER BY d.doc_id"
    },
    "bm25_search" -> {
      // mirrors the bm25 stage's exact IEEE dag (linear idf, per-term
      // contributions summed in sorted term order, left-assoc)
      val ltoks = raw"regexp_split_to_array(trim(lower(text)), '\s+')"
      s"WITH base AS (SELECT doc_id, $ltoks AS tk FROM documents), " +
      "lens AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM base), " +
      "corpus AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) / count(*) AS avgdl FROM lens), " +
      "tft AS (SELECT doc_id, t AS term, CAST(count(*) AS DOUBLE) AS tf FROM " +
      "(SELECT doc_id, unnest(tk) AS t FROM base) WHERE t IN ('hash', 'join', 'scan') GROUP BY 1, 2), " +
      "dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS dfd FROM tft GROUP BY 1), " +
      "sc AS (SELECT f.doc_id, f.term, (((c.n - d.dfd) + 0.5) / (d.dfd + 0.5)) * " +
      "((f.tf * (1.2 + 1.0)) / (f.tf + 1.2 * ((1.0 - 0.75) + 0.75 * (l.dl / c.avgdl)))) AS cv " +
      "FROM tft f JOIN dfq d USING (term) JOIN lens l USING (doc_id) CROSS JOIN corpus c), " +
      "piv AS (SELECT doc_id, max(CASE WHEN term = 'hash' THEN cv END) AS c0, " +
      "max(CASE WHEN term = 'join' THEN cv END) AS c1, " +
      "max(CASE WHEN term = 'scan' THEN cv END) AS c2 FROM sc GROUP BY 1), " +
      "ranked AS (SELECT doc_id, (coalesce(c0, 0.0) + coalesce(c1, 0.0)) + coalesce(c2, 0.0) AS score FROM piv) " +
      "SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) AS rank " +
      "FROM ranked ORDER BY score DESC, doc_id LIMIT 20"
    },
    "corpus_stats" ->
      (s"SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(n) AS BIGINT) AS total, " +
       "CAST(min(n) AS BIGINT) AS minv, CAST(max(n) AS BIGINT) AS maxv, " +
       "CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean, " +
       "CAST(quantile_disc(n, 0.25) AS BIGINT) AS p25, " +
       "CAST(quantile_disc(n, 0.5) AS BIGINT) AS p50, " +
       "CAST(quantile_disc(n, 0.75) AS BIGINT) AS p75, " +
       "CAST(quantile_disc(n, 0.95) AS BIGINT) AS p95 " +
       s"FROM (SELECT CAST(len($toks) AS BIGINT) AS n FROM documents)"),
    "csv_write_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "jsonl_write_roundtrip" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "distinct_count" ->
      ("SELECT CAST(count(DISTINCT lang) AS BIGINT) AS lang_distinct, " +
       "CAST(count(DISTINCT source) AS BIGINT) AS source_distinct, " +
       "CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_id_distinct " +
       "FROM documents"),
    "cross_dedup" ->
      (raw"WITH f AS (SELECT doc_id, n_chars, md5(substr(regexp_replace(lower(text), '\s+', ' ', 'g'), 1, 50)) AS fp FROM documents) " +
       "SELECT doc_id, n_chars FROM f a WHERE doc_id >= 250 AND NOT EXISTS " +
       "(SELECT 1 FROM f b WHERE b.doc_id < 250 AND b.fp = a.fp) ORDER BY doc_id"),
    "decontaminate_bloom" -> {
      val sh5 =
        s"CASE WHEN len($toks) < 5 THEN [array_to_string($toks, ' ')] " +
        s"ELSE list_distinct(list_transform(generate_series(1, len($toks) - 4), " +
        s"i -> ${(0 until 5).map(j => s"$toks[i+$j]").mkString(" || ' ' || ")})) END"
      s"WITH ev AS (SELECT list(s) AS l FROM " +
      s"(SELECT DISTINCT unnest($sh5) AS s FROM documents WHERE doc_id < 20)) " +
      s"SELECT doc_id, n_chars FROM documents, ev " +
      s"WHERE doc_id >= 20 AND len(list_intersect($sh5, ev.l)) = 0 ORDER BY doc_id"
    },
    "decontaminate_score" -> {
      val sh5 =
        s"CASE WHEN len($toks) < 5 THEN [array_to_string($toks, ' ')] " +
        s"ELSE list_distinct(list_transform(generate_series(1, len($toks) - 4), " +
        s"i -> ${(0 until 5).map(j => s"$toks[i+$j]").mkString(" || ' ' || ")})) END"
      s"WITH ev AS (SELECT list(s) AS l FROM " +
      s"(SELECT DISTINCT unnest($sh5) AS s FROM documents WHERE doc_id < 20)) " +
      s"SELECT doc_id, CAST(len(list_intersect($sh5, ev.l)) AS DOUBLE) / " +
      s"CAST(len($sh5) AS DOUBLE) AS contamination " +
      s"FROM documents, ev WHERE doc_id >= 20 ORDER BY doc_id"
    },
    "readability_score" ->
      (s"WITH c AS (SELECT doc_id, $toks AS w, " +
       raw"len(list_filter(regexp_split_to_array(text, '[.!?]+'), x -> len(trim(x)) > 0)) AS rawsent, " +
       "trim(text) = '' AS blank FROM documents) " +
       "SELECT doc_id, " +
       "CAST(CASE WHEN blank THEN 0 ELSE len(w) END AS BIGINT) AS n_words, " +
       "CAST(greatest(1, rawsent) AS BIGINT) AS n_sentences, " +
       "CAST(CASE WHEN blank THEN 0 ELSE list_sum(list_transform(w, " +
       "x -> greatest(1, len(regexp_extract_all(lower(x), '[aeiouy]+'))))) END AS BIGINT) AS n_syllables, " +
       "CASE WHEN blank THEN NULL ELSE " +
       "CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * " +
       "(CAST(CASE WHEN blank THEN 0 ELSE len(w) END AS DOUBLE) / CAST(greatest(1, rawsent) AS DOUBLE)) - " +
       "CAST(84.6 AS DOUBLE) * " +
       "(CAST(CASE WHEN blank THEN 0 ELSE list_sum(list_transform(w, " +
       "x -> greatest(1, len(regexp_extract_all(lower(x), '[aeiouy]+'))))) END AS DOUBLE) / " +
       "CAST(CASE WHEN blank THEN 0 ELSE len(w) END AS DOUBLE)) END AS flesch_score " +
       "FROM c ORDER BY doc_id"),
    "retrieval_eval" ->
      ("WITH c AS (SELECT doc_id % 10 AS q, doc_id AS d, " +
       "CAST(doc_id * 37 % 100 AS DOUBLE) / CAST(4.0 AS DOUBLE) AS s, " +
       "CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS l FROM documents), " +
       "r AS (SELECT q, l, row_number() OVER (PARTITION BY q ORDER BY s DESC, d ASC) AS rk FROM c) " +
       "SELECT q AS query_id, " +
       "CAST(max(CASE WHEN rk <= 5 AND l > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k, " +
       "CAST(sum(CASE WHEN rk <= 5 AND l > 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(5.0 AS DOUBLE) AS precision_at_k, " +
       "CAST(coalesce(CAST(1.0 AS DOUBLE) / min(CASE WHEN l > 0 THEN rk END), 0.0) AS DOUBLE) AS mrr " +
       "FROM r GROUP BY q ORDER BY query_id"),
    "retrieval_ndcg" -> {
      // the SAME fixed-point discount integers the engine inlines
      // (SimilarityStages.ndcgWeights) — identity by construction, so
      // DCG/IDCG are exact integer sums in both engines and ndcg is one
      // IEEE division of two < 2^53 exact values
      val w = graft.similarity.SimilarityStages.ndcgWeights(5)
      val wl = w.mkString("[", ", ", "]")
      val pl = w.scanLeft(0L)(_ + _).tail.mkString("[", ", ", "]")
      "WITH c AS (SELECT doc_id % 10 AS q, doc_id AS d, " +
      "CAST(doc_id * 37 % 100 AS DOUBLE) / CAST(4.0 AS DOUBLE) AS s, " +
      "CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS l FROM documents), " +
      "r AS (SELECT q, l, row_number() OVER (PARTITION BY q ORDER BY s DESC, d ASC) AS rk FROM c), " +
      "a AS (SELECT q, " +
      "CAST(coalesce(CAST(1.0 AS DOUBLE) / min(CASE WHEN l > 0 THEN rk END), 0.0) AS DOUBLE) AS mrr, " +
      s"CAST(sum(CASE WHEN rk <= 5 AND l > 0 THEN list_extract($wl, CAST(rk AS INTEGER)) ELSE 0 END) AS BIGINT) AS dcg, " +
      "CAST(sum(CASE WHEN l > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nrel FROM r GROUP BY q) " +
      "SELECT q AS query_id, mrr, " +
      "CASE WHEN nrel > 0 THEN CAST(dcg AS DOUBLE) / " +
      s"CAST(list_extract($pl, CAST(least(nrel, 5) AS INTEGER)) AS DOUBLE) " +
      "ELSE CAST(0.0 AS DOUBLE) END AS ndcg_at_k " +
      "FROM a ORDER BY query_id"
    },
    "retrieval_map" ->
      ("WITH c AS (SELECT doc_id % 10 AS q, doc_id AS d, " +
       "CAST(doc_id * 37 % 100 AS DOUBLE) / CAST(4.0 AS DOUBLE) AS s, " +
       "CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS l FROM documents), " +
       "r AS (SELECT q, l, row_number() OVER w AS rk, " +
       "CAST(sum(CASE WHEN l > 0 THEN 1 ELSE 0 END) OVER wc AS BIGINT) AS cum FROM c " +
       "WINDOW w AS (PARTITION BY q ORDER BY s DESC, d ASC), " +
       "wc AS (PARTITION BY q ORDER BY s DESC, d ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
       "a AS (SELECT q, " +
       "CAST(sum(CASE WHEN rk <= 5 AND l > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hk, " +
       "CAST(sum(CASE WHEN rk <= 5 AND l > 0 THEN cum * (60 // rk) ELSE 0 END) AS BIGINT) AS apn, " +
       "CAST(sum(CASE WHEN l > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nrel FROM r GROUP BY q) " +
       "SELECT q AS query_id, CAST(hk AS DOUBLE) / CAST(5.0 AS DOUBLE) AS precision_at_k, " +
       "CASE WHEN nrel > 0 THEN CAST(apn AS DOUBLE) / CAST(least(nrel, 5) * 60 AS DOUBLE) " +
       "ELSE CAST(0.0 AS DOUBLE) END AS map_at_k " +
       "FROM a ORDER BY query_id"),
    "event_deltas" ->
      ("SELECT event_id, epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dt_us, " +
       "cents - lag(cents) OVER w AS cents_delta " +
       "FROM (SELECT event_id, user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents FROM events) " +
       "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) " +
       "ORDER BY event_id"),
    "skew_join" ->
      ("SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_nationkey " +
       "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
       "ORDER BY o_orderkey"),
    "unpivot_melt" ->
      ("WITH b AS (SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, " +
       "CAST(o_custkey AS BIGINT) AS cust, " +
       "CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderkey % 7 END AS septile FROM orders) " +
       "SELECT o_orderkey, variable, CAST(value AS BIGINT) AS value FROM (" +
       "SELECT o_orderkey, 'price_cents' AS variable, price_cents AS value FROM b " +
       "UNION ALL SELECT o_orderkey, 'cust', cust FROM b " +
       "UNION ALL SELECT o_orderkey, 'septile', septile FROM b) " +
       "WHERE value IS NOT NULL ORDER BY o_orderkey, variable"),
    "impute_missing" ->
      ("WITH b AS (SELECT event_id, event_type, CASE WHEN event_id % 11 = 0 THEN NULL " +
       "ELSE CAST(round(value * 100) AS BIGINT) END AS cents FROM events), " +
       "m AS (SELECT event_type, quantile_cont(cents, 0.5) AS med FROM b " +
       "WHERE cents IS NOT NULL GROUP BY 1) " +
       "SELECT b.event_id, coalesce(CAST(b.cents AS DOUBLE), m.med) AS cents_imputed " +
       "FROM b LEFT JOIN m ON b.event_type = m.event_type ORDER BY event_id"),
    "quantile_bins" ->
      ("WITH s AS (SELECT o_orderpriority, quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), [0.25, 0.5, 0.75]) AS cuts FROM orders GROUP BY 1) " +
       "SELECT o.o_orderkey, o.o_orderpriority, " +
       "CAST(len(list_filter(s.cuts, c -> CAST(round(o.o_totalprice * 100) AS BIGINT) > c)) AS INTEGER) AS cents_bin " +
       "FROM orders o JOIN s USING (o_orderpriority) ORDER BY o_orderkey"),
    "correlate_fit" ->
      ("WITH b AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) % 1000 AS x, event_id % 97 AS y FROM events), " +
       "a AS (SELECT event_type, count(*) AS n, CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy, " +
       "CAST(sum(x * y) AS DOUBLE) AS sxy, CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(y * y) AS DOUBLE) AS syy FROM b GROUP BY 1), " +
       "c AS (SELECT event_type, n, sx, sy, " +
       "CAST(n AS DOUBLE) * sxy - sx * sy AS cov, " +
       "CAST(n AS DOUBLE) * sxx - sx * sx AS vx, " +
       "CAST(n AS DOUBLE) * syy - sy * sy AS vy FROM a) " +
       "SELECT event_type, n, " +
       "CASE WHEN vx > 0 AND vy > 0 THEN cov / (sqrt(vx) * sqrt(vy)) END AS r, " +
       "CASE WHEN vx > 0 THEN cov / vx END AS slope, " +
       "CASE WHEN vx > 0 THEN (sy - (cov / vx) * sx) / CAST(n AS DOUBLE) END AS intercept " +
       "FROM c ORDER BY event_type"),
    "vtt_parse" ->
      ("SELECT doc_id, " +
       "CASE WHEN i % 2 = 0 THEN 'cue-' || doc_id || '-' || i END AS cue_id, " +
       "CAST(doc_id * 977 + i * 2000 AS BIGINT) AS start_ms, " +
       "CAST(doc_id * 977 + i * 2000 + 1500 AS BIGINT) AS end_ms, " +
       "CASE WHEN i = 0 THEN 'position:50%' END AS cue_settings, " +
       "'line ' || doc_id || ' t' || i AS cue_text " +
       "FROM (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS i FROM documents) " +
       "ORDER BY doc_id, start_ms"),
    "srt_parse" ->
      ("SELECT doc_id, CAST(i + 1 AS INTEGER) AS cue_idx, " +
       "CAST(doc_id * 977 + i * 2000 AS BIGINT) AS start_ms, " +
       "CAST(doc_id * 977 + i * 2000 + 1500 AS BIGINT) AS end_ms, " +
       "'cue ' || doc_id || ' line ' || i AS cue_text " +
       "FROM (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS i FROM documents) " +
       "ORDER BY doc_id, cue_idx"),
    "mm_caption_frames" ->
      ("WITH c AS (SELECT doc_id, i, doc_id * 977 + i * 2000 AS s " +
       "FROM (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS i FROM documents WHERE doc_id < 200)) " +
       "SELECT doc_id, CAST(i + 1 AS INTEGER) AS cue_idx, " +
       "unnest(range((s + 399) // 400, (s + 1500 - 1) // 400 + 1)) AS frame_idx " +
       "FROM c ORDER BY doc_id, cue_idx, frame_idx"),
    "date_features" ->
      ("SELECT event_id, CAST(year(ts) AS INTEGER) AS ts_year, " +
       "CAST(month(ts) AS INTEGER) AS ts_month, " +
       "CAST(day(ts) AS INTEGER) AS ts_day, " +
       "CAST(isodow(ts) AS INTEGER) AS ts_dow, " +
       "CAST(hour(ts) AS INTEGER) AS ts_hour, " +
       "CAST(week(ts) AS INTEGER) AS ts_week, " +
       "CAST(dayofyear(ts) AS INTEGER) AS ts_doy " +
       "FROM events ORDER BY event_id"),
    "one_hot" ->
      ("WITH b AS (SELECT event_id, CASE WHEN event_id % 31 = 0 THEN NULL ELSE event_type END AS etype FROM events) " +
       "SELECT event_id, " +
       Seq("click", "error", "purchase", "signup", "view").map(v =>
         s"CAST(CASE WHEN etype = '$v' THEN 1 ELSE 0 END AS BIGINT) AS etype_$v")
         .mkString(", ") +
       " FROM b ORDER BY event_id"),
    "percent_rank" ->
      ("SELECT o_orderkey, o_orderpriority, " +
       "percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY cents) AS cents_pct " +
       "FROM (SELECT o_orderkey, o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders) " +
       "ORDER BY o_orderkey"),
    "percent_rank_global" ->
      ("WITH b AS (SELECT event_id, CASE WHEN event_id % 53 = 0 THEN NULL ELSE CAST(round(value * 100) AS BIGINT) % 750 END AS cents FROM events) " +
       "SELECT event_id, cents, " +
       "percent_rank() OVER (ORDER BY cents ASC NULLS FIRST) AS cents_pct " +
       "FROM b ORDER BY event_id"),
    "proportion_ci" ->
      ("WITH b AS (SELECT user_id % 11 AS band, CASE WHEN event_id % 29 = 0 THEN NULL ELSE event_type = 'purchase' END AS converted FROM events), " +
       "a AS (SELECT band, count(*) AS n, CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS successes " +
       "FROM b WHERE converted IS NOT NULL GROUP BY 1), " +
       "w AS (SELECT band, n, successes, " +
       "CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p, " +
       "(CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n AS DOUBLE) AS t, CAST(n AS DOUBLE) AS nd FROM a) " +
       "SELECT band, n, successes, p AS rate, " +
       "(p + t / CAST(2.0 AS DOUBLE)) / (CAST(1.0 AS DOUBLE) + t) - (CAST(1.96 AS DOUBLE) * sqrt(p * (CAST(1.0 AS DOUBLE) - p) / nd + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (CAST(4.0 AS DOUBLE) * nd * nd))) / (CAST(1.0 AS DOUBLE) + t) AS ci_low, " +
       "(p + t / CAST(2.0 AS DOUBLE)) / (CAST(1.0 AS DOUBLE) + t) + (CAST(1.96 AS DOUBLE) * sqrt(p * (CAST(1.0 AS DOUBLE) - p) / nd + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (CAST(4.0 AS DOUBLE) * nd * nd))) / (CAST(1.0 AS DOUBLE) + t) AS ci_high " +
       "FROM w ORDER BY band"),
    "entropy_profile" ->
      ("WITH b AS (SELECT user_id % 7 AS bucket, CASE WHEN event_id % 23 = 0 THEN NULL ELSE event_type END AS v FROM events), " +
       "vc AS (SELECT bucket, v, count(*) AS nv FROM b GROUP BY 1, 2), " +
       "gt AS (SELECT bucket AS g, CAST(sum(nv) AS BIGINT) AS n, count(*) AS dv FROM vc GROUP BY 1), " +
       "j AS (SELECT vc.bucket, vc.nv, gt.n, gt.dv, " +
       "CAST(length(bin(gt.n // vc.nv)) - 1 AS BIGINT) AS bits " +
       "FROM vc JOIN gt ON vc.bucket = gt.g) " +
       "SELECT bucket, CAST(max(n) AS BIGINT) AS n, CAST(max(dv) AS BIGINT) AS distinct_vals, " +
       "CAST(sum(nv * bits) AS BIGINT) AS info_bits, " +
       "CAST(sum(nv * bits) AS DOUBLE) / CAST(max(n) AS DOUBLE) AS entropy_bits " +
       "FROM j GROUP BY bucket ORDER BY bucket"),
    "gini_impurity" ->
      ("WITH b AS (SELECT user_id % 7 AS bucket, CASE WHEN event_id % 23 = 0 THEN NULL ELSE event_type END AS v FROM events), " +
       "vc AS (SELECT bucket, v, count(*) AS nv FROM b GROUP BY 1, 2), " +
       "a AS (SELECT bucket, CAST(sum(nv) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS distinct_vals, " +
       "CAST(sum(nv * nv) AS BIGINT) AS ss FROM vc GROUP BY 1) " +
       "SELECT bucket, n, distinct_vals, n * n - ss AS gini_num, " +
       "CAST(n * n - ss AS DOUBLE) / CAST(n * n AS DOUBLE) AS gini " +
       "FROM a ORDER BY bucket"),
    "mutual_info" ->
      ("WITH b AS (SELECT unnest(string_split(text, ' ')) AS token, doc_id % 3 AS cls FROM documents), " +
       "cells AS (SELECT token, cls, CAST(count(*) AS BIGINT) AS nfc FROM b WHERE token IS NOT NULL AND cls IS NOT NULL GROUP BY 1, 2), " +
       "fm AS (SELECT token, CAST(sum(nfc) AS BIGINT) AS nf FROM cells GROUP BY 1 HAVING CAST(sum(nfc) AS BIGINT) >= 50), " +
       "cm AS (SELECT cls, CAST(sum(nfc) AS BIGINT) AS nc FROM cells GROUP BY 1), " +
       "tot AS (SELECT CAST(sum(nfc) AS BIGINT) AS tn FROM cells), " +
       "j AS (SELECT cells.token, nfc, nf, nfc * tn AS a, nf * nc AS bb FROM cells JOIN fm USING (token) JOIN cm USING (cls), tot), " +
       "k AS (SELECT token, nfc, nf, CASE WHEN a >= bb THEN CAST(length(bin(a // bb)) AS BIGINT) ELSE -CAST(length(bin(bb // a)) AS BIGINT) END AS bits FROM j) " +
       "SELECT token AS feature, CAST(max(nf) AS BIGINT) AS n, CAST(sum(nfc * bits) AS BIGINT) AS mi_bits, " +
       "CAST(CAST(sum(nfc * bits) AS BIGINT) AS DOUBLE) / CAST(max(nf) AS DOUBLE) AS mi_rate " +
       "FROM k GROUP BY 1 ORDER BY feature"),
    "regression_eval" ->
      ("WITH b AS (SELECT event_type, CASE WHEN event_id % 43 = 0 THEN NULL ELSE CAST(round(value * 100) AS BIGINT) % 500 END AS y, " +
       "CAST(round(value * 100) AS BIGINT) % 500 + event_id % 9 - 4 AS yhat FROM events), " +
       "s AS (SELECT event_type, y, yhat, yhat - y AS e FROM b WHERE y IS NOT NULL AND yhat IS NOT NULL), " +
       "a AS (SELECT event_type, count(*) AS n, CAST(sum(abs(e)) AS BIGINT) AS sae, CAST(sum(e * e) AS BIGINT) AS sse, " +
       "CAST(sum(y) AS BIGINT) AS sy, CAST(sum(y * y) AS BIGINT) AS syy FROM s GROUP BY 1) " +
       "SELECT event_type, n, CAST(sae AS DOUBLE) / CAST(n AS DOUBLE) AS mae, " +
       "CAST(sse AS DOUBLE) / CAST(n AS DOUBLE) AS mse, " +
       "sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) AS rmse, " +
       "CASE WHEN n * syy - sy * sy > 0 THEN CAST(1 AS DOUBLE) - CAST(n * sse AS DOUBLE) / CAST(n * syy - sy * sy AS DOUBLE) END AS r2 " +
       "FROM a ORDER BY event_type"),
    "calibration_bins" ->
      ("WITH b AS (SELECT CASE WHEN event_id % 37 = 0 THEN NULL ELSE CAST(round(value * 100) AS BIGINT) % 1001 END AS score, " +
       "(CAST(round(value * 100) AS BIGINT) % 1001 + event_id % 400) >= 700 AS hit FROM events), " +
       "a AS (SELECT (score * 10) // 1001 AS bin, count(*) AS n, CAST(sum(score) AS BIGINT) AS ss, " +
       "CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS positives FROM b " +
       "WHERE score IS NOT NULL AND hit IS NOT NULL GROUP BY 1), " +
       "k AS (SELECT bin, n, positives, CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) / CAST(1000 AS DOUBLE) AS conf, " +
       "CAST(positives AS DOUBLE) / CAST(n AS DOUBLE) AS acc FROM a) " +
       "SELECT bin, n, positives, conf, acc, acc - conf AS gap FROM k ORDER BY bin"),
    "robust_scale" ->
      ("WITH b AS (SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events), " +
       "q AS (SELECT event_type, quantile_cont(cents, [0.25, 0.5, 0.75]) AS qs FROM b GROUP BY 1) " +
       "SELECT b.event_id, b.cents, " +
       "CASE WHEN qs[3] > qs[1] THEN (CAST(b.cents AS DOUBLE) - qs[2]) / (qs[3] - qs[1]) END AS cents_robust " +
       "FROM b JOIN q USING (event_type) ORDER BY event_id"),
    "ab_test" ->
      ("WITH b AS (SELECT CAST(user_id % 4 AS VARCHAR) AS arm, CASE WHEN event_id % 29 = 0 THEN NULL WHEN user_id % 4 = 2 AND event_id % 17 = 0 THEN TRUE ELSE event_type = 'purchase' END AS converted FROM events), " +
       "a AS (SELECT arm, count(*) AS n, CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS s FROM b WHERE converted IS NOT NULL GROUP BY 1), " +
       "c AS (SELECT n AS n0, s AS s0 FROM a WHERE arm = '0'), " +
       "k AS (SELECT arm, n, s, n0, s0, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS p1, " +
       "CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0, " +
       "CAST(s + s0 AS DOUBLE) / CAST(n + n0 AS DOUBLE) AS pp FROM a, c WHERE arm <> '0') " +
       "SELECT arm AS variant, n, s AS successes, p1 AS rate, n0 AS control_n, " +
       "s0 AS control_successes, p0 AS control_rate, " +
       "CASE WHEN pp > 0 AND pp < 1 THEN (p1 - p0) / sqrt(pp * (CAST(1 AS DOUBLE) - pp) * " +
       "(CAST(1 AS DOUBLE) / CAST(n AS DOUBLE) + CAST(1 AS DOUBLE) / CAST(n0 AS DOUBLE))) END AS z " +
       "FROM k ORDER BY variant"),
    "survival_km" ->
      ("WITH b AS (SELECT user_id % 3 AS cohort, CASE WHEN event_id % 31 = 0 THEN NULL ELSE event_id % 28 + 1 END AS t_day, event_type = 'error' AS ev FROM events), " +
       "cells AS (SELECT cohort, t_day, CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d, count(*) AS cnt FROM b " +
       "WHERE t_day IS NOT NULL AND ev IS NOT NULL GROUP BY 1, 2), " +
       "tot AS (SELECT cohort, CAST(sum(cnt) AS BIGINT) AS n0 FROM cells GROUP BY 1), " +
       "r AS (SELECT cells.cohort, t_day, d, cnt, n0 - CAST(coalesce(sum(cnt) OVER " +
       "(PARTITION BY cells.cohort ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk " +
       "FROM cells JOIN tot USING (cohort)), " +
       "f AS (SELECT cohort, t_day, d, cnt, n_risk, CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor FROM r), " +
       "w AS (SELECT cohort, t_day, d, cnt, n_risk, list(factor) OVER " +
       "(PARTITION BY cohort ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l FROM f) " +
       "SELECT cohort, t_day AS time, n_risk, d AS events, CAST(cnt - d AS BIGINT) AS censored, " +
       "list_reduce(l, (acc, x) -> acc * x) AS survival " +
       "FROM w ORDER BY cohort, time"),
    "drift_tvd" ->
      ("WITH c AS (SELECT CASE WHEN event_id % 10 = 4 THEN 'outage' ELSE event_type END AS v FROM events WHERE event_id % 2 = 0), " +
       "b AS (SELECT event_type AS v FROM events WHERE event_id % 2 = 1), " +
       "cc AS (SELECT v, count(*) AS ca FROM c GROUP BY 1), " +
       "bb AS (SELECT v, count(*) AS cb FROM b GROUP BY 1), " +
       "j AS (SELECT coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb FROM cc FULL OUTER JOIN bb ON cc.v = bb.v), " +
       "t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM j), " +
       "k AS (SELECT CAST(sum(abs(ca * nb - cb * na)) AS BIGINT) AS num, CAST(count(*) AS BIGINT) AS dv, max(na) AS na, max(nb) AS nb FROM j, t) " +
       "SELECT na AS n_cur, nb AS n_base, dv AS distinct_vals, num AS tvd_num, " +
       "CAST(num AS DOUBLE) / CAST(2 * na * nb AS DOUBLE) AS tvd FROM k"),
    "classify_eval" ->
      ("WITH b AS (SELECT CASE WHEN event_id % 41 = 0 THEN NULL ELSE event_type END AS actual, " +
       "CASE WHEN event_id % 7 = 0 THEN 'click' ELSE event_type END AS pred FROM events), " +
       "s AS (SELECT actual, pred FROM b WHERE actual IS NOT NULL AND pred IS NOT NULL), " +
       "a AS (SELECT actual AS cls, count(*) AS na, CAST(sum(CASE WHEN actual = pred THEN 1 ELSE 0 END) AS BIGINT) AS tp FROM s GROUP BY 1), " +
       "p AS (SELECT pred AS cls, count(*) AS np FROM s GROUP BY 1) " +
       "SELECT coalesce(a.cls, p.cls) AS \"class\", CAST(coalesce(tp, 0) AS BIGINT) AS tp, " +
       "CAST(coalesce(np, 0) - coalesce(tp, 0) AS BIGINT) AS fp, " +
       "CAST(coalesce(na, 0) - coalesce(tp, 0) AS BIGINT) AS fn, " +
       "CAST(coalesce(na, 0) AS BIGINT) AS support, " +
       "CASE WHEN coalesce(np, 0) > 0 THEN CAST(coalesce(tp, 0) AS DOUBLE) / CAST(np AS DOUBLE) END AS \"precision\", " +
       "CASE WHEN coalesce(na, 0) > 0 THEN CAST(coalesce(tp, 0) AS DOUBLE) / CAST(na AS DOUBLE) END AS recall, " +
       "CASE WHEN coalesce(np, 0) + coalesce(na, 0) > 0 THEN CAST(2 * coalesce(tp, 0) AS DOUBLE) / CAST(coalesce(np, 0) + coalesce(na, 0) AS DOUBLE) END AS f1 " +
       "FROM a FULL OUTER JOIN p ON a.cls = p.cls ORDER BY \"class\""),
    "auc_score" ->
      ("WITH b AS (SELECT user_id % 5 AS seg, CASE WHEN event_id % 37 = 0 THEN NULL ELSE CAST(round(value * 100) AS BIGINT) % 1000 END AS score, " +
       "event_type = 'purchase' AS hit FROM events), " +
       "a AS (SELECT seg, score, CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS p, " +
       "CAST(sum(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS g FROM b " +
       "WHERE score IS NOT NULL AND hit IS NOT NULL GROUP BY 1, 2), " +
       "c AS (SELECT seg, p, g, CAST(coalesce(sum(g) OVER (PARTITION BY seg ORDER BY score " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nb FROM a) " +
       "SELECT seg, CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(g) AS BIGINT) AS n_neg, " +
       "CASE WHEN sum(p) > 0 AND sum(g) > 0 THEN CAST(CAST(sum(p * (2 * nb + g)) AS BIGINT) AS DOUBLE) / " +
       "CAST(2 * CAST(sum(p) AS BIGINT) * CAST(sum(g) AS BIGINT) AS DOUBLE) END AS auc " +
       "FROM c GROUP BY seg ORDER BY seg"),
    "target_encode" ->
      ("WITH b AS (SELECT o_orderkey, o_orderpriority, CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents FROM orders), " +
       "o AS (SELECT * FROM b WHERE cents IS NOT NULL), " +
       "g AS (SELECT CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu FROM o), " +
       "c AS (SELECT o_orderpriority, CAST(sum(cents) AS BIGINT) AS sy, count(*) AS nc FROM o GROUP BY 1) " +
       "SELECT b.o_orderkey, b.o_orderpriority, " +
       "coalesce((CAST(c.sy AS DOUBLE) + CAST(25 AS DOUBLE) * g.mu) / (CAST(c.nc AS DOUBLE) + CAST(25 AS DOUBLE)), g.mu) AS prio_enc " +
       "FROM b LEFT JOIN c ON b.o_orderpriority = c.o_orderpriority, g ORDER BY o_orderkey"),
    "line_dedup" ->
      ("WITH d AS (SELECT doc_id, concat('Shared Header', chr(10), text, chr(10), 'footer ', CAST(doc_id % 3 AS VARCHAR)) AS page FROM documents), " +
       "t AS (SELECT doc_id, string_split(page, chr(10)) AS ls FROM d), " +
       "e AS (SELECT doc_id, unnest(ls) AS ln FROM t), " +
       "c AS (SELECT lower(trim(ln)) AS n, min(doc_id) AS f FROM e WHERE lower(trim(ln)) <> '' GROUP BY 1 HAVING count(*) >= 2), " +
       "dl AS (SELECT list(n) AS dn, list(f) AS fl FROM c), " +
       // DuckDB list_position returns 0 (not NULL) on a miss
       "k AS (SELECT doc_id, ls, list_filter(ls, x -> lower(trim(x)) = '' OR list_position(dn, lower(trim(x))) = 0 OR fl[list_position(dn, lower(trim(x)))] = doc_id) AS kept FROM t, dl) " +
       "SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS clean, " +
       "CAST(len(ls) - len(kept) AS BIGINT) AS n_removed FROM k ORDER BY doc_id"),
    "word_filter" ->
      (raw"WITH t AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS l FROM documents), " +
       "b AS (SELECT doc_id, CAST(len(list_filter(l, x -> list_contains(['slow', 'big', 'merge'], x))) AS BIGINT) AS bad_n, len(l) AS nt FROM t) " +
       "SELECT doc_id, bad_n, CASE WHEN nt > 0 THEN CAST(bad_n AS DOUBLE) / CAST(nt AS DOUBLE) ELSE 0.0 END AS bad_ratio " +
       "FROM b ORDER BY doc_id"),
    "stopwords_clean" ->
      (raw"WITH t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS l FROM documents), " +
       "k AS (SELECT doc_id, len(l) AS nt, list_filter(l, x -> NOT list_contains(['the', 'a', 'an', 'of', 'and', 'in', 'to', 'is'], lower(x))) AS kept FROM t) " +
       "SELECT doc_id, array_to_string(kept, ' ') AS text_clean, " +
       "CAST(nt - len(kept) AS BIGINT) AS n_removed FROM k ORDER BY doc_id"),
    "regex_extract" ->
      (raw"WITH t AS (SELECT doc_id, regexp_extract_all(text, '\bs[a-z]{3,}\b') AS l FROM documents) " +
       "SELECT doc_id, CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS match_idx, " +
       "unnest(l) AS match FROM t ORDER BY doc_id, match_idx"),
    "event_paths" ->
      ("WITH p AS (SELECT array_to_string(list_slice(list(coalesce(event_type, '(null)') ORDER BY ts, event_id), 1, 8), '>') AS path " +
       "FROM events GROUP BY user_id) " +
       "SELECT path, count(*) AS n_keys FROM p GROUP BY path ORDER BY path"),
    "journey_markov" ->
      ("WITH p AS (SELECT array_to_string(list_slice(list(coalesce(event_type, '(null)') ORDER BY ts, event_id), 1, 8), '>') AS path " +
       "FROM events GROUP BY user_id), " +
       "pc AS (SELECT path, count(*) AS n_keys FROM p GROUP BY path), " +
       "sq AS (SELECT string_split(path, '>') AS seq, n_keys FROM pc), " +
       "pairs AS (SELECT seq[i] AS from_state, seq[i + 1] AS to_state, CAST(sum(n_keys) AS BIGINT) AS n " +
       "FROM sq, UNNEST(generate_series(1, len(seq) - 1)) AS t(i) GROUP BY 1, 2), " +
       "m AS (SELECT from_state, to_state, n, CAST(sum(n) OVER (PARTITION BY from_state) AS BIGINT) AS n_from FROM pairs), " +
       "r AS (SELECT from_state, to_state, n, n_from, rank() OVER (PARTITION BY from_state ORDER BY n DESC, to_state) AS next_rank FROM m) " +
       "SELECT from_state, to_state, n, n_from, CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE) AS p, next_rank " +
       "FROM r WHERE next_rank <= 3 ORDER BY from_state, next_rank, to_state"),
    "fixedwidth_read" ->
      ("SELECT n_nationkey, n_name, " +
       "CASE WHEN n_nationkey % 7 = 3 THEN NULL ELSE n_regionkey END AS n_regionkey, " +
       "CAST(n_nationkey AS DOUBLE) * 1.5 AS price " +
       "FROM nation ORDER BY n_nationkey"),
    "event_transitions" ->
      ("WITH b AS (SELECT user_id, ts, event_id, CASE WHEN event_id % 19 = 0 THEN NULL ELSE event_type END AS state FROM events), " +
       "q AS (SELECT state AS from_state, lead(state) OVER w AS to_state, lead(1) OVER w AS hn FROM b " +
       "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
       "m AS (SELECT from_state, to_state, count(*) AS n FROM q WHERE hn IS NOT NULL GROUP BY 1, 2), " +
       "f AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS n_from FROM m GROUP BY 1) " +
       "SELECT m.from_state, m.to_state, m.n, f.n_from, " +
       "CAST(m.n AS DOUBLE) / CAST(f.n_from AS DOUBLE) AS p " +
       "FROM m JOIN f ON m.from_state IS NOT DISTINCT FROM f.from_state " +
       "ORDER BY 1 NULLS FIRST, 2 NULLS FIRST"),
    "link_predict" ->
      ("WITH e0 AS (SELECT 'v' || CAST(a AS VARCHAR) AS a, 'v' || CAST(b AS VARCHAR) AS b FROM " +
       "(SELECT x.c_custkey AS a, y.c_custkey AS b FROM customer x JOIN customer y " +
       "ON x.c_custkey < 200 AND y.c_custkey < 200 AND x.c_custkey // 4 = y.c_custkey // 4 AND x.c_custkey < y.c_custkey " +
       "UNION ALL SELECT c_custkey, c_custkey + 1 FROM customer WHERE c_custkey >= 200 AND c_custkey < 500 AND c_custkey % 2 = 0 " +
       "UNION ALL SELECT c_custkey, c_custkey + 1 FROM customer WHERE c_custkey >= 500 AND c_custkey < 514 " +
       "UNION ALL SELECT c_custkey, c_custkey + 1 FROM customer WHERE c_custkey >= 1000 AND c_custkey < 1040 " +
       "UNION ALL SELECT 1000, 1040 FROM customer WHERE c_custkey = 1000)), " +
       "sym AS (SELECT DISTINCT a, b FROM (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0) WHERE a <> b), " +
       "deg AS (SELECT a AS id, count(*) AS d FROM sym GROUP BY 1), " +
       "ctr AS (SELECT sym.a AS w, sym.b AS x, CAST(length(bin(deg.d)) AS INTEGER) AS wb " +
       "FROM sym JOIN deg ON sym.a = deg.id WHERE deg.d <= 100000), " +
       "wed AS (SELECT c1.x AS u, c2.x AS v, c1.wb FROM ctr c1 JOIN ctr c2 ON c1.w = c2.w AND c1.x < c2.x), " +
       "cn AS (SELECT u, v, count(*) AS common_neighbors, " +
       (1 to 63).map(k => s"CAST(sum(CASE WHEN wb = $k THEN 1 ELSE 0 END) AS BIGINT) AS c$k")
         .mkString(", ") +
       " FROM wed GROUP BY 1, 2), " +
       "cand AS (SELECT cn.* FROM cn WHERE NOT EXISTS (SELECT 1 FROM sym WHERE sym.a = cn.u AND sym.b = cn.v)) " +
       "SELECT cand.u, cand.v, cand.common_neighbors, du.d AS deg_u, dv.d AS deg_v, " +
       "CAST(cand.common_neighbors AS DOUBLE) / CAST(du.d + dv.d - cand.common_neighbors AS DOUBLE) AS jaccard, " +
       "du.d * dv.d AS pref_attach, " +
       (1 to 63).map(k => s"CAST(c$k AS DOUBLE) / ${k.toDouble}").mkString(" + ") +
       " AS adamic_adar " +
       "FROM cand JOIN deg du ON cand.u = du.id JOIN deg dv ON cand.v = dv.id " +
       "WHERE cand.common_neighbors >= 1 ORDER BY u, v"),
    "freq_pairs" ->
      ("WITH i AS (SELECT DISTINCT l_orderkey AS bk, l_partkey % 50 AS it FROM lineitem), " +
       "nb AS (SELECT count(DISTINCT bk) AS n_baskets FROM i), " +
       "ic AS (SELECT it, count(*) AS ni FROM i GROUP BY 1), " +
       "p AS (SELECT x.it AS item1, y.it AS item2, count(*) AS n_pair FROM i x JOIN i y " +
       "ON x.bk = y.bk AND x.it < y.it GROUP BY 1, 2), " +
       "j AS (SELECT p.item1, p.item2, p.n_pair, i1.ni AS n_item1, i2.ni AS n_item2, nb.n_baskets, " +
       "CAST(p.n_pair * nb.n_baskets AS BIGINT) AS a, CAST(i1.ni * i2.ni AS BIGINT) AS b " +
       "FROM p JOIN ic i1 ON p.item1 = i1.it JOIN ic i2 ON p.item2 = i2.it CROSS JOIN nb " +
       "WHERE p.n_pair >= 2) " +
       "SELECT item1, item2, n_pair, n_item1, n_item2, n_baskets, " +
       "CAST(n_pair AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS support, " +
       "CASE WHEN a >= b THEN CAST(length(bin(a // b)) AS BIGINT) " +
       "ELSE -CAST(length(bin(b // a)) AS BIGINT) END AS lift_bits " +
       "FROM j ORDER BY item1, item2"),
    "lag_features" ->
      ("SELECT event_id, lag(cents, 1) OVER w AS cents_lag1, " +
       "lag(cents, 2) OVER w AS cents_lag2, lead(cents, 1) OVER w AS cents_lead1 " +
       "FROM (SELECT event_id, user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents FROM events) " +
       "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) " +
       "ORDER BY event_id"),
    "bucketize_fixed" ->
      ("SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents, " +
       "CAST((CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT) >= 1000000 THEN 1 ELSE 0 END) + " +
       "(CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT) >= 5000000 THEN 1 ELSE 0 END) + " +
       "(CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT) >= 10000000 THEN 1 ELSE 0 END) + " +
       "(CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT) >= 20000000 THEN 1 ELSE 0 END) + " +
       "(CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT) >= 30000000 THEN 1 ELSE 0 END) AS BIGINT) AS cents_bin " +
       "FROM orders ORDER BY o_orderkey"),
    "vocab_overlap" ->
      (raw"WITH c AS (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS t FROM documents WHERE doc_id % 2 = 0), " +
       raw"r AS (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS rt FROM documents WHERE doc_id % 2 = 1), " +
       "cc AS (SELECT t, CAST(count(*) AS BIGINT) AS ca FROM c GROUP BY 1), " +
       "rr AS (SELECT rt FROM r GROUP BY 1), " +
       "j AS (SELECT cc.t, rr.rt, coalesce(cc.ca, 0) AS ca FROM cc FULL OUTER JOIN rr ON cc.t = rr.rt), " +
       "a AS (SELECT CAST(sum(CASE WHEN t IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_cur, " +
       "CAST(sum(CASE WHEN rt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_base, " +
       "CAST(sum(CASE WHEN t IS NOT NULL AND rt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_both, " +
       "CAST(sum(ca) AS BIGINT) AS mass_cur, " +
       "CAST(sum(CASE WHEN rt IS NULL THEN ca ELSE 0 END) AS BIGINT) AS mass_oov FROM j) " +
       "SELECT v_cur, v_base, v_both, " +
       "CAST(v_both AS DOUBLE) / CAST(v_cur + v_base - v_both AS DOUBLE) AS jaccard, " +
       "CAST(v_cur - v_both AS DOUBLE) / CAST(v_cur AS DOUBLE) AS oov_types, " +
       "CAST(mass_oov AS DOUBLE) / CAST(mass_cur AS DOUBLE) AS oov_tokens FROM a"),
    "t_closeness" ->
      ("WITH b AS (SELECT event_id, user_id % 12 AS q, CASE WHEN user_id % 12 = 0 THEN 'error' ELSE event_type END AS s FROM events), " +
       "cells AS (SELECT q, s, count(*) AS cgv FROM b GROUP BY 1, 2), " +
       "gv AS (SELECT s, CAST(sum(cgv) AS BIGINT) AS cv FROM cells GROUP BY 1), " +
       "tt AS (SELECT CAST(sum(cgv) AS BIGINT) AS n FROM cells), " +
       "sz AS (SELECT q, CAST(sum(cgv) AS BIGINT) AS ng FROM cells GROUP BY 1), " +
       "g AS (SELECT cells.q, CAST(sum(abs(cgv * n - cv * ng)) AS BIGINT) AS present, " +
       "CAST(sum(cv) AS BIGINT) AS cvsum, max(ng) AS ng, max(n) AS n " +
       "FROM cells JOIN gv USING (s) JOIN sz USING (q), tt GROUP BY 1), " +
       "v AS (SELECT q, CAST(present + ng * (n - cvsum) AS DOUBLE) / CAST(2 * ng * n AS DOUBLE) AS tvd FROM g) " +
       "SELECT b.event_id, b.q, v.tvd, v.tvd <= 0.08 AS t_close " +
       "FROM b JOIN v USING (q) ORDER BY event_id"),
    "schema_diff" ->
      ("SELECT * FROM (VALUES " +
       "('doc_id', 'bigint', 'bigint', 'both'), " +
       "('lang', 'string', NULL, 'left_only'), " +
       "('n_chars', 'int', 'bigint', 'type_mismatch'), " +
       "('source', NULL, 'string', 'right_only'), " +
       "('text', 'string', 'binary', 'type_mismatch')) " +
       "AS t(\"column\", type_left, type_right, status) ORDER BY \"column\""),
    "url_resolve" ->
      ("SELECT doc_id, CASE doc_id % 5 " +
       "WHEN 0 THEN 'https://other.org/abs' || CAST(doc_id AS VARCHAR) " +
       "WHEN 1 THEN 'https://cdn.example.net/x' || CAST(doc_id AS VARCHAR) " +
       "WHEN 2 THEN 'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/root/r' || CAST(doc_id AS VARCHAR) " +
       "WHEN 3 THEN 'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/a/b/up' || CAST(doc_id AS VARCHAR) " +
       "ELSE 'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/a/b/c/rel/s' || CAST(doc_id AS VARCHAR) END AS resolved_url " +
       "FROM documents ORDER BY doc_id"),
    "benford_digits" -> {
      // the Benford expectations are the SAME Java doubles the stage
      // ships. The `e0` exponent is LOAD-BEARING: a plain decimal
      // literal parses as DECIMAL and DuckDB's DECIMAL→DOUBLE cast
      // double-rounds (digit 3 came back 1 ulp off); an exponent
      // literal goes straight through strtod, correctly rounded
      val bp = (1 to 9).map(d =>
        s"WHEN $d THEN ${graft.stages.StatStages.BenfordP(d)}e0")
        .mkString(" ")
      "WITH b AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders), " +
      "c AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER) AS digit, count(*) AS nd FROM b " +
      "WHERE v IS NOT NULL AND v > 0 GROUP BY 1), " +
      "t AS (SELECT CAST(sum(nd) AS BIGINT) AS n FROM c) " +
      "SELECT digit, CAST(nd AS BIGINT) AS n_digit, n, " +
      "CAST(nd AS DOUBLE) / CAST(n AS DOUBLE) AS observed, " +
      s"CASE digit $bp END AS expected, " +
      s"CAST(nd AS DOUBLE) / CAST(n AS DOUBLE) - CASE digit $bp END AS gap " +
      "FROM c, t ORDER BY digit"
    },
    "run_length" ->
      ("WITH b AS (SELECT event_id, user_id % 30 AS uid, ts, CASE WHEN event_id % 19 = 0 THEN NULL ELSE event_type END AS st FROM events), " +
       "w AS (SELECT uid, ts, event_id, st, CASE WHEN lag(1) OVER win IS NULL THEN 1 " +
       "WHEN st IS NOT DISTINCT FROM lag(st) OVER win THEN 0 ELSE 1 END AS chg FROM b " +
       "WINDOW win AS (PARTITION BY uid ORDER BY ts, event_id)), " +
       "r AS (SELECT uid, ts, st, CAST(sum(chg) OVER (PARTITION BY uid ORDER BY ts, event_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run FROM w) " +
       "SELECT uid, min(st) AS state, min(ts) AS run_start, max(ts) AS run_end, " +
       "count(*) AS n_events FROM r GROUP BY uid, run " +
       "ORDER BY uid, run_start, run_end"),
    "auto_corr" ->
      ("WITH b AS (SELECT event_id, user_id % 25 AS uid, ts, CAST(round(value * 100) AS BIGINT) % 50 AS v FROM events), " +
       "l AS (SELECT uid, v, lag(v, 1) OVER win AS l1, lag(v, 2) OVER win AS l2, lag(v, 3) OVER win AS l3 FROM b " +
       "WINDOW win AS (PARTITION BY uid ORDER BY ts, event_id)), " +
       "a AS (SELECT uid, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS ss, " +
       "CAST(coalesce(sum(v * l1), 0) AS BIGINT) AS ab1, CAST(coalesce(sum(CASE WHEN l1 IS NOT NULL THEN v END), 0) AS BIGINT) AS a1, CAST(coalesce(sum(l1), 0) AS BIGINT) AS b1, CAST(count(l1) AS BIGINT) AS m1, " +
       "CAST(coalesce(sum(v * l2), 0) AS BIGINT) AS ab2, CAST(coalesce(sum(CASE WHEN l2 IS NOT NULL THEN v END), 0) AS BIGINT) AS a2, CAST(coalesce(sum(l2), 0) AS BIGINT) AS b2, CAST(count(l2) AS BIGINT) AS m2, " +
       "CAST(coalesce(sum(v * l3), 0) AS BIGINT) AS ab3, CAST(coalesce(sum(CASE WHEN l3 IS NOT NULL THEN v END), 0) AS BIGINT) AS a3, CAST(coalesce(sum(l3), 0) AS BIGINT) AS b3, CAST(count(l3) AS BIGINT) AS m3 " +
       "FROM l GROUP BY 1), " +
       "u AS (SELECT uid, n, s, ss, 1 AS lg, ab1 AS ab, a1 AS aa, b1 AS bb, m1 AS m FROM a " +
       "UNION ALL SELECT uid, n, s, ss, 2, ab2, a2, b2, m2 FROM a " +
       "UNION ALL SELECT uid, n, s, ss, 3, ab3, a3, b3, m3 FROM a) " +
       "SELECT uid, CAST(lg AS INTEGER) AS \"lag\", n, m AS n_pairs, " +
       "CASE WHEN n * (n * ss - s * s) > 0 AND m > 0 THEN " +
       "CAST(n * n * ab - n * s * (aa + bb) + m * s * s AS DOUBLE) / CAST(n * (n * ss - s * s) AS DOUBLE) END AS acf " +
       "FROM u ORDER BY uid, \"lag\""),
    "key_concentration" ->
      ("WITH b AS (SELECT CASE WHEN event_id % 5 = 0 THEN 0 ELSE user_id % 200 END AS k FROM events), " +
       "pk AS (SELECT k, count(*) AS vol FROM b GROUP BY 1), " +
       "r AS (SELECT vol, row_number() OVER (ORDER BY vol) AS i FROM pk), " +
       "t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(vol) AS BIGINT) AS s, " +
       "CAST(max(vol) AS BIGINT) AS mx, CAST(sum(CAST(i AS BIGINT) * vol) AS BIGINT) AS siv FROM r) " +
       "SELECT n AS n_keys, s AS total, CAST(mx AS DOUBLE) / CAST(s AS DOUBLE) AS max_share, " +
       "CAST(2 * siv - (n + 1) * s AS DOUBLE) / CAST(n * s AS DOUBLE) AS gini FROM t"),
    "change_point" ->
      ("WITH b AS (SELECT event_id, user_id % 40 AS uid, ts, CAST(round(value * 100) AS BIGINT) % 100 + CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 300 ELSE 0 END AS v FROM events), " +
       "w AS (SELECT uid, ts, CAST(sum(v) OVER win AS BIGINT) AS p, CAST(count(*) OVER win AS BIGINT) AS rn FROM b " +
       "WINDOW win AS (PARTITION BY uid ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
       "t AS (SELECT uid, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s FROM b GROUP BY 1), " +
       "k AS (SELECT w.uid, t.n, w.rn, w.ts, abs(t.n * w.p - w.rn * t.s) AS d FROM w JOIN t USING (uid) WHERE w.rn < t.n), " +
       "r AS (SELECT uid, n, rn AS cp_index, ts AS cp_ts, d AS cusum_max, " +
       "row_number() OVER (PARTITION BY uid ORDER BY d DESC, rn ASC) AS rk FROM k) " +
       "SELECT uid, n, cp_index, cp_ts, cusum_max, " +
       "CAST(cusum_max AS DOUBLE) / CAST(n * n AS DOUBLE) AS cusum_rate " +
       "FROM r WHERE rk = 1 ORDER BY uid"),
    "ks_test" ->
      ("WITH c AS (SELECT CASE WHEN event_id % 5 = 0 THEN CAST(round(value * 100) AS BIGINT) % 1000 + 150 ELSE CAST(round(value * 100) AS BIGINT) % 1000 END AS v FROM events WHERE event_id % 2 = 0), " +
       "b AS (SELECT CAST(round(value * 100) AS BIGINT) % 1000 AS v FROM events WHERE event_id % 2 = 1), " +
       "cc AS (SELECT v, count(*) AS ca FROM c GROUP BY 1), " +
       "bb AS (SELECT v, count(*) AS cb FROM b GROUP BY 1), " +
       "j AS (SELECT coalesce(cc.v, bb.v) AS v, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb FROM cc FULL OUTER JOIN bb ON cc.v = bb.v), " +
       "t AS (SELECT CAST(sum(ca) AS BIGINT) AS n1, CAST(sum(cb) AS BIGINT) AS n2, CAST(count(*) AS BIGINT) AS dv FROM j), " +
       "w AS (SELECT v, CAST(sum(ca) OVER win AS BIGINT) AS c1, CAST(sum(cb) OVER win AS BIGINT) AS c2 FROM j " +
       "WINDOW win AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
       "k AS (SELECT v, abs(c1 * t.n2 - c2 * t.n1) AS d, t.n1, t.n2, t.dv FROM w, t), " +
       "r AS (SELECT *, row_number() OVER (ORDER BY d DESC, v ASC) AS rk FROM k) " +
       "SELECT n1 AS n_cur, n2 AS n_base, dv AS distinct_vals, d AS ks_num, " +
       "CAST(d AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS ks, v AS ks_at " +
       "FROM r WHERE rk = 1"),
    "ewma_smooth" ->
      ("WITH b AS (SELECT event_id, user_id % 50 AS uid, ts, CAST(round(value * 100) AS BIGINT) AS cents FROM events), " +
       "w AS (SELECT event_id, cents, list(CAST(cents AS DOUBLE)) OVER " +
       "(PARTITION BY uid ORDER BY ts, event_id ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l FROM b) " +
       "SELECT event_id, cents, list_reduce(l, (acc, x) -> " +
       "acc * (CAST(1 AS DOUBLE) - CAST(0.25 AS DOUBLE)) + x * CAST(0.25 AS DOUBLE)) AS cents_ewma " +
       "FROM w ORDER BY event_id"),
    "cumulate_running" ->
      ("SELECT event_id, count(*) OVER w AS cum_n, " +
       "CAST(sum(cents) OVER w AS BIGINT) AS cents_cumsum " +
       "FROM (SELECT event_id, user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents FROM events) " +
       "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
       "ORDER BY event_id"),
    "kanonymity_filter" ->
      ("WITH b AS (SELECT event_id, CASE WHEN event_id % 13 = 0 THEN NULL ELSE event_type END AS etype, user_id FROM events), " +
       "c AS (SELECT etype, user_id, count(*) AS kn FROM b GROUP BY 1, 2) " +
       "SELECT b.event_id, b.etype, b.user_id FROM b JOIN c " +
       "ON b.etype IS NOT DISTINCT FROM c.etype AND b.user_id = c.user_id " +
       "WHERE c.kn >= 3 ORDER BY event_id"),
    "kanonymity_ldiv" ->
      ("WITH b AS (SELECT event_id, event_type, user_id % 37 AS band, CAST(round(value * 100) AS BIGINT) % 5 AS sens FROM events), " +
       "c AS (SELECT event_type, band, count(*) AS kn, count(DISTINCT sens) AS ld FROM b GROUP BY 1, 2) " +
       "SELECT b.event_id, b.event_type, b.band, (c.kn >= 4 AND c.ld >= 3) AS k_anonymous " +
       "FROM b JOIN c ON b.event_type = c.event_type AND b.band = c.band " +
       "ORDER BY event_id"),
    "chi_square" ->
      ("WITH b AS (SELECT CASE WHEN event_id % 17 = 0 THEN NULL ELSE event_type END AS feature, user_id % 2 AS class FROM events), " +
       "p AS (SELECT feature, class, count(*) AS n11 FROM b GROUP BY 1, 2), " +
       "f AS (SELECT feature, CAST(sum(n11) AS BIGINT) AS n_feature FROM p GROUP BY 1), " +
       "c AS (SELECT class, CAST(sum(n11) AS BIGINT) AS n_class FROM p GROUP BY 1), " +
       "t AS (SELECT CAST(sum(n11) AS BIGINT) AS n FROM p), " +
       "j AS (SELECT p.feature, p.class, p.n11, f.n_feature, c.n_class, t.n, " +
       "CAST(p.n11 * (t.n - f.n_feature - c.n_class + p.n11) " +
       "- (f.n_feature - p.n11) * (c.n_class - p.n11) AS DOUBLE) AS diff, " +
       "CAST(f.n_feature AS DOUBLE) * CAST(t.n - f.n_feature AS DOUBLE) " +
       "* CAST(c.n_class AS DOUBLE) * CAST(t.n - c.n_class AS DOUBLE) AS den " +
       "FROM p JOIN f ON p.feature IS NOT DISTINCT FROM f.feature " +
       "JOIN c ON p.class = c.class CROSS JOIN t) " +
       "SELECT feature, class, n11, n_feature, n_class, n, " +
       "CASE WHEN den > 0 THEN CAST(n AS DOUBLE) * diff * diff / den END AS chi2 " +
       "FROM j ORDER BY feature NULLS FIRST, class"),
    "collocations_pmi" ->
      ("WITH t AS (SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS l FROM documents), " +
       "bg AS (SELECT unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2 FROM t WHERE len(l) >= 2), " +
       "cb AS (SELECT w1, w2, count(*) AS n_xy FROM bg GROUP BY 1, 2), " +
       "cl AS (SELECT w1, CAST(sum(n_xy) AS BIGINT) AS n_x FROM cb GROUP BY 1), " +
       "cr AS (SELECT w2, CAST(sum(n_xy) AS BIGINT) AS n_y FROM cb GROUP BY 1), " +
       "tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM cb), " +
       "j AS (SELECT cb.w1, cb.w2, cb.n_xy, cl.n_x, cr.n_y, " +
       "CAST(tot.n * cb.n_xy AS BIGINT) AS a, CAST(cl.n_x * cr.n_y AS BIGINT) AS b " +
       "FROM cb JOIN cl USING (w1) JOIN cr USING (w2) CROSS JOIN tot " +
       "WHERE cb.n_xy >= 3) " +
       "SELECT w1, w2, n_xy, n_x, n_y, " +
       "CASE WHEN a >= b THEN CAST(length(bin(a // b)) AS BIGINT) " +
       "ELSE -CAST(length(bin(b // a)) AS BIGINT) END AS pmi_bits " +
       "FROM j ORDER BY w1, w2"),
    "cooccur_window" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS l FROM documents), " +
       "e AS (SELECT doc_id, u AS pos, l[u] AS tok FROM t, unnest(generate_series(1, len(l))) AS s(u)), " +
       "p AS (SELECT a.tok AS w1, b.tok AS w2 FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 3), " +
       "cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy FROM p GROUP BY 1, 2), " +
       "cl AS (SELECT w1, CAST(sum(n_xy) AS BIGINT) AS n_x FROM cb GROUP BY 1), " +
       "cr AS (SELECT w2, CAST(sum(n_xy) AS BIGINT) AS n_y FROM cb GROUP BY 1), " +
       "tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM cb), " +
       "j AS (SELECT cb.w1, cb.w2, cb.n_xy, cl.n_x, cr.n_y, " +
       "CAST(tot.n * cb.n_xy AS BIGINT) AS a, CAST(cl.n_x * cr.n_y AS BIGINT) AS b " +
       "FROM cb JOIN cl USING (w1) JOIN cr USING (w2) CROSS JOIN tot " +
       "WHERE cb.n_xy >= 60) " +
       "SELECT w1, w2, n_xy, n_x, n_y, " +
       "CASE WHEN a >= b THEN CAST(length(bin(a // b)) AS BIGINT) " +
       "ELSE -CAST(length(bin(b // a)) AS BIGINT) END AS pmi_bits " +
       "FROM j ORDER BY w1, w2"),
    "mm_audio_levels" ->
      ("WITH d AS (SELECT doc_id, (500 + doc_id * 13 % 1000) * (1 + doc_id % 2) AS nv FROM documents), " +
       "s AS (SELECT doc_id, nv, unnest(range(0, CAST(nv AS BIGINT))) AS i FROM d), " +
       "v AS (SELECT doc_id, nv, (doc_id * 31 + i * 7) % 8192 AS val FROM s) " +
       "SELECT doc_id AS media_id, CAST(max(nv) AS BIGINT) AS n_values, " +
       "CAST(max(val) AS BIGINT) AS peak_abs, " +
       "sqrt(CAST(sum(val * val) AS DOUBLE) / CAST(max(nv) AS DOUBLE)) AS rms, " +
       "CAST(sum(CASE WHEN val = 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(max(nv) AS DOUBLE) AS zero_ratio " +
       "FROM v GROUP BY doc_id ORDER BY media_id"),
  )
}
