package graft.tools

import graft.Fixtures
import graft.engine.{Engine, EtlContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 1×/10×/100× scale stress of the quadratic-adjacent operator family
  * (minhash banded pairs, cosine near-dup, LSH transitive dedup,
  * per-group cap under planted skew): synthesizes sf0.1-equivalent,
  * 10× and 100× documents/embeddings fixtures with CONTROLLED
  * near-dup structure (planted pair clusters at a fixed 1% rate, so
  * true-pair counts scale LINEARLY with N — the honest setting for
  * measuring whether the banded paths stay near-linear rather than
  * drowning in within-bucket quadratics), plants a 20% hot group for
  * the skew path, times each operator at every scale, and prints
  * pairwise scaling exponents `log10(t_next/t_prev)` (1.0 = linear;
  * the 10→100 pair is the honest one — fixed job-launch cost dominates
  * factor 1). The factor-100 leg also asserts the similarity density
  * guard fails fast on an under-bucketed config — do not trim it.
  *
  * Every fixture is built through `graft.Fixtures.cached`, keyed on the
  * generator [[Version]] and its row count. Each op is timed twice per
  * scale and the MIN kept —
  * this box shows ambient CPU steal (BASELINE.md), and best-observed ≈
  * plan cost is the established measurement protocol.
  */
object ScaleStress {

  // bumped when any synthetic-fixture arithmetic changes (v2: hashes
  // now share MediaFixtures.phashPattern) — the content-keyed-marker rule
  private val Version = 2
  private val Dim = 64

  /** The `name` fixture dir of a factor; its key is [[Version]] and size. */
  private def stressDir(name: String, factor: Int): String =
    s"${Fixtures.dir("stress", s"f$factor")}/$name"

  private def stressParquet(name: String, factor: Int, n: Long)(df: => DataFrame): String =
    Fixtures.parquet(stressDir(name, factor), s"v${Version}_$n")(df)

  /** 64 shard files written executor-side (one task per shard — the
    * generation parallelizes like the read); shard `f` holds the ids
    * ≡ f mod 64 below `n`. */
  private def stressShards(spark: SparkSession, name: String, factor: Int, n: Long)(
      write: (String, Long, Seq[Long]) => Unit): String = {
    val dir = stressDir(name, factor)
    Fixtures.cached(dir, s"v${Version}_$n")(
      Fixtures.shards(spark, 64)(f => write(dir, f, f until n by 64)))
  }

  /** Deterministic synthetic corpus: the Zipf-ish word stream
    * ([[Fixtures.words]]), 1% planted near-dup partners (id%100==1
    * copies id-1's text with a short suffix), 20% hot domain. */
  private def ensureDocs(spark: SparkSession, factor: Int): String = {
    val n = 5000L * factor // sf0.1-equivalent docs × factor
    stressParquet("docs", factor, n) {
      import spark.implicits._
      spark.range(n).select(col("id")).as[Long]
        .mapPartitions(_.map { id =>
          val base = if (id % 100 == 1) id - 1 else id // planted partner
          val tail = if (id % 100 == 1) s"tail$id" else "" // near- not exact-dup
          val domain =
            if (id % 5 == 0) "hot.example.com"
            else s"site${math.abs(id * 131) % 1000}.example.com"
          (id, Fixtures.words(base) + tail, domain)
        })
        .toDF("doc_id", "text", "domain")
    }
  }

  /** REAL PDF payloads ∝ N (MediaFixtures.pdfPayload — xref table, page
    * tree, Flate/raw content streams; 1–4 pages each): the pdf_extract
    * leg's input. Per-row byte parsing must track linear in total
    * payload bytes. */
  private def ensurePdfParquet(spark: SparkSession, factor: Int): String = {
    val n = 5000L * factor
    stressParquet("pdf", factor, n) {
      import spark.implicits._
      spark.range(n).select(col("id")).as[Long]
        .repartition(spark.sparkContext.defaultParallelism)
        .mapPartitions(_.map(id =>
          (id, graft.multimodal.MediaFixtures.pdfPayload(id))))
        .toDF("media_id", "payload")
    }
  }

  /** LaTeX-wrapped documents ∝ N (the latexstrip leg's input) — built
    * with the Spark API so the TeX backslashes pass through ONE
    * escaping layer (a JSON-SQL wrap would eat them twice). */
  private def ensureLatexDocs(spark: SparkSession, factor: Int): String =
    stressParquet("latex", factor, 5000L * factor) {
      spark.read.parquet(ensureDocs(spark, factor))
        .select(col("doc_id"), concat(
          lit("\\documentclass{article} % c\n\\begin{document}\n\\section{S"),
          col("doc_id").cast("string"),
          lit("}\nBody: "), col("text"),
          lit(" \\cite{x} $a+b$ \\textbf{end}\n\\end{document}\n")).as("tex"))
    }

  private def ensureMarkdownDocs(spark: SparkSession, factor: Int): String =
    stressParquet("md", factor, 5000L * factor) {
      spark.read.parquet(ensureDocs(spark, factor))
        .select(col("doc_id"), concat(
          lit("# Doc "), col("doc_id").cast("string"),
          lit("\n\n- item *em* `code`\n> quote\n\nBody: [link](http://e.com/x) "),
          col("text"), lit("\n---\n")).as("md"))
    }

  /** 64 .tar.gz shards, members ∝ N (the [[ensureWarc]] shape) — built with
    * the Tar builder; bodies are the word streams. */
  private def ensureTar(spark: SparkSession, factor: Int): String =
    stressShards(spark, "tar", factor, 5000L * factor) { (dir, f, ids) =>
      val members = ids.map(id =>
        (s"doc/$id.txt", 1500000000L + id, Fixtures.words(id).getBytes("UTF-8")))
      Fixtures.put(dir, f"part-$f%02d.tar.gz")(_.write(graft.sources.Tar.archive(members)))
    }

  /** 64 mbox shards, messages ∝ N (the [[ensureWarc]] shape): plain and
    * quoted-printable bodies alternate, subjects carry an RFC 2047
    * word on every 4th message. */
  private def ensureMbox(spark: SparkSession, factor: Int): String =
    stressShards(spark, "mbox", factor, 5000L * factor) { (dir, f, ids) =>
      Fixtures.put(dir, f"part-$f%02d.mbox") { o =>
        val w = new java.io.OutputStreamWriter(o, java.nio.charset.StandardCharsets.UTF_8)
        for (id <- ids) {
          val text = Fixtures.words(id)
          w.write(s"From a@x Thu Jan  1 00:00:00 2026\n")
          w.write(if (id % 4 == 0) s"Subject: =?UTF-8?Q?M_$id?=\n"
            else s"Subject: M $id\n")
          w.write(s"Message-ID: <m$id@x>\n")
          if (id % 2 == 0) {
            w.write("Content-Type: text/plain; charset=utf-8\n")
            w.write("Content-Transfer-Encoding: quoted-printable\n\n")
            w.write(s"qp=C3=A9 $text\n")
          } else {
            w.write("Content-Type: text/plain; charset=utf-8\n\n")
            w.write(s"$text\n")
          }
        }
        w.flush()
      }
    }

  /** RTF payload parquet ∝ N (the [[ensureLatexDocs]] shape): each doc's
    * word stream wrapped in a real RTF skeleton with escapes. */
  private def ensureRtfDocs(spark: SparkSession, factor: Int): String =
    stressParquet("rtf", factor, 5000L * factor) {
      import spark.implicits._
      spark.read.parquet(ensureDocs(spark, factor))
        .selectExpr("doc_id", "text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          (id, graft.multimodal.RtfCodec.encodeRtf(
            Seq(s"Doc $id café {x}", text)))
        })
        .toDF("media_id", "payload")
    }

  /** Deterministic embeddings: hash-derived components in [-1,1], 1%
    * planted near-identical partners (tiny perturbation). */
  private def ensureVecs(spark: SparkSession, factor: Int): String = {
    val m = 2000L * factor
    stressParquet("vecs", factor, m) {
      import spark.implicits._
      spark.range(m).select(col("id")).as[Long]
        .mapPartitions(_.map { id =>
          val base = if (id % 100 == 1) id - 1 else id
          val r = new scala.util.Random(base * 40503L + 17)
          val v = Array.fill(Dim)((r.nextDouble() * 2 - 1).toFloat)
          if (id % 100 == 1) v(0) = v(0) + 0.001f
          (id, v)
        })
        .toDF("vec_id", "embedding")
    }
  }

  /** Deterministic event stream for the temporal-join stress: n events
    * over 30 days, `n/66`-ish users, alternating purchase/click kinds —
    * the merge-asof cost driver is the keyed sort, so users scale with
    * N to keep per-key runs realistic. With `ts` the time is a REAL
    * timestamp column — the streaming leg's input (the stateful stages
    * normalize/watermark a timestamp); the batch ops use double seconds. */
  private def ensureEvents(spark: SparkSession, factor: Int, ts: Boolean = false): String = {
    val n = 10000L * factor
    stressParquet(if (ts) "evts" else "events", factor, n) {
      import spark.implicits._
      val users = math.max(150L, n / 66)
      val secs = spark.range(n).select(col("id")).as[Long]
        .mapPartitions(_.map { id =>
          val r = new scala.util.Random(id * 6364136223846793005L + 11)
          (id, math.abs(r.nextLong()) % users, r.nextDouble() * 30 * 86400, (id % 2).toInt)
        })
        .toDF("eid", "user_id", "t", "kind")
      if (!ts) secs
      else secs.select(col("eid"), col("user_id"),
        timestamp_micros((col("t") * 1e6).cast("long")).as("ts"), col("kind"))
    }
  }

  /** Deterministic 64-bit fingerprints (splitmix64), 1% planted
    * partners two bit-flips away — the hammingpairs banded-join input
    * at scale (ids + longs only; the decode that produces them in the
    * real pipeline is embarrassingly parallel and linear). */
  private def ensureHashes(spark: SparkSession, factor: Int): String = {
    val n = 20000L * factor
    stressParquet("hash", factor, n) {
      import spark.implicits._
      // the EXACT plant arithmetic of the phash fixture (one authority:
      // MediaFixtures.phashPattern — partner flips, clamps and all), so
      // the stress measures the same pair structure the oracle checks
      spark.range(n).select(col("id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, graft.multimodal.MediaFixtures.phashPattern(id))))
        .toDF("doc_id", "h")
    }
  }

  /** WARC archive fixture: 64 `.warc.gz` shards of response records
    * whose HTML bodies carry the same deterministic word stream as
    * [[ensureDocs]]. */
  private def ensureWarc(spark: SparkSession, factor: Int): String =
    stressShards(spark, "warc", factor, 5000L * factor) { (dir, f, ids) =>
      Fixtures.put(dir, f"part-$f%02d.warc.gz") { o =>
        for (id <- ids) {
          val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
            s"<html><body><h1>D$id</h1><p>${Fixtures.words(id)}</p></body></html>"
          o.write(Fixtures.warcRecord(Seq(
            "WARC-Type" -> "response",
            "WARC-Record-ID" -> s"<urn:uuid:$id>",
            "WARC-Target-URI" -> s"https://ex.com/doc/$id",
            "Content-Type" -> "application/http; msgtype=response"),
            http.getBytes("UTF-8")))
        }
      }
    }

  /** XML-dump fixture, like [[ensureWarc]]: 64 gz shards of `<page>` records
    * with wikitext-wrapped word streams. */
  private def ensureWikiXml(spark: SparkSession, factor: Int): String =
    stressShards(spark, "wiki", factor, 5000L * factor) { (dir, f, ids) =>
      Fixtures.put(dir, f"shard-$f%02d.xml.gz") { o =>
        o.write("<mediawiki>\n".getBytes("UTF-8"))
        for (id <- ids) {
          val wiki = s"== H$id ==\n'''B''' [[T|l$id]] {{tpl|$id}} " +
            s"&lt;ref&gt;c&lt;/ref&gt; ${Fixtures.words(id)}"
          o.write((s"<page><title>P$id</title><id>$id</id>" +
            s"<revision><text>$wiki</text></revision></page>\n").getBytes("UTF-8"))
        }
        o.write("</mediawiki>\n".getBytes("UTF-8"))
      }
    }

  def main(args: Array[String]): Unit = {
    val spark = Engine.session("graft-scale-stress")
    spark.sparkContext.setLogLevel("ERROR")
    def ctx() = new EtlContext(spark)
    // optional comma-list of leg names: run only those (dev loop —
    // `runMain graft.tools.ScaleStress upsert_delta`); default all
    val only: Option[Set[String]] = args.headOption.map(_.split(",").toSet)
    def enabled(name: String): Boolean = only.forall(_.contains(name))

    // wall seconds of one build + action through the query meter
    val meter = new graft.QueryMeter(spark)
    def wallS(build: => DataFrame, action: DataFrame => Unit = _.count()): Double = {
      val m = meter.measure(build, action)
      m.error.foreach(e => throw e)
      m.wallS
    }
    def time2(json: String): Double = {
      val t = math.min(wallS(Engine.runJson(ctx(), json)), wallS(Engine.runJson(ctx(), json)))
      spark.catalog.clearCache()
      t
    }

    val results = scala.collection.mutable.Map.empty[(String, Int), Double]
    val batchLegs = Seq("asof_join", "asof_nearest", "range_join",
      "interval_join", "boilerplate",
      "hamming_pairs", "semantic_dedup", "ivfpq_topk", "minhash_pairs",
      "neardup_dedup_lsh", "cosine_dup", "resample_ffill", "group_cap",
      "fuzzy_join", "etl_lateral", "html_normalize", "warc_parse", "wiki_parse",
      "cdc_chunk", "dsir_weight", "kcore_peel", "clustering_coef",
      "scc_color", "mixture_budget", "funnel_steps",
      "link_predict", "freq_pairs", "event_paths",
      "line_dedup", "auc_rank", "topo_layers", "survival_curve",
      "changepoint_cusum", "collocations_win", "cumulate_run",
      "percent_rank", "bloom_semi", "checksum_grain", "kll_grain",
      "similarity_cross", "html_markdown", "pdf_extract",
      "latex_strip", "nb_classify", "markdown_strip", "tar_parse",
      "geo_band", "mbox_parse", "rtf_strip")
    for (factor <- Seq(1, 10, 100) if batchLegs.exists(enabled)) {
      val n = 5000L * factor // sf0.1-equivalent docs × factor
      val m = 2000L * factor
      val docs = ensureDocs(spark, factor)
      val vecs = ensureVecs(spark, factor)
      val events = ensureEvents(spark, factor)
      val hashes = ensureHashes(spark, factor)
      spark.read.parquet(events).createOrReplaceTempView("stress_events")
      spark.read.parquet(docs).createOrReplaceTempView("stress_docs")
      spark.read.parquet(vecs).createOrReplaceTempView("stress_vecs")
      // similarity_cross: the QUERY batch grows with N, the reference
      // corpus stays FIXED (the f1 vector table) — the r17 queryTable
      // contract's growth axis (fresh documents searching a frozen
      // index). Work = |Q|·|corpus| cosines → the exponent must be ~1.
      val corpusFixed = ensureVecs(spark, 1)
      // semanticdedup: cells must GROW with N (candidates ≈ (nProbe·N)²/k);
      // k ∝ N keeps per-cell work flat, but the bounded driver trainer is
      // the documented trade — sample capped, so training stays O(k·cap·dim)
      val semK = math.max(8L, m / 400).toInt
      val semTrain = math.min(semK * 40, 20000)
      val ops = Seq(
        "asof_join" -> s"""{
          "source": {"file": {"path": "$events"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT eid, user_id, t FROM __input WHERE kind = 0"}},
            {"asofjoin": {"right":
              "SELECT user_id, t, eid AS click_id FROM stress_events WHERE kind = 1",
              "on": "user_id", "leftTime": "t"}}],
          "loader": {"memory": {}} }""",
        // nearest = backward + forward fills over the SAME exchange: the
        // exponent must track asof_join's (two sorts, no extra shuffle)
        "asof_nearest" -> s"""{
          "source": {"file": {"path": "$events"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT eid, user_id, t FROM __input WHERE kind = 0"}},
            {"asofjoin": {"right":
              "SELECT user_id, t, eid AS click_id FROM stress_events WHERE kind = 1",
              "on": "user_id", "leftTime": "t", "direction": "nearest"}}],
          "loader": {"memory": {}} }""",
        // keyless interval containment: candidates ≈ points + span/bin —
        // linear as long as binWidth tracks interval length
        "range_join" -> s"""{
          "source": {"file": {"path": "$events"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT eid, user_id, t FROM __input WHERE kind = 0"}},
            {"rangejoin": {"right":
              "SELECT hb * 3600.0 AS wstart, hb * 3600.0 + 7200.0 AS wend, n FROM (SELECT CAST(floor(t / 3600) AS BIGINT) AS hb, count(*) AS n FROM stress_events GROUP BY 1 HAVING count(*) >= 10)",
              "leftTime": "t", "start": "wstart", "end": "wend",
              "binWidth": 3600}}],
          "loader": {"memory": {}} }""",
        // interval × interval overlap keyed by user: users ∝ N with
        // ~66 events each, so per-user window pairs stay flat and the
        // canonical-bin join must track linear
        "interval_join" -> s"""{
          "source": {"file": {"path": "$events"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT eid, user_id, t AS ls, t + 600.0 AS le FROM __input WHERE kind = 0"}},
            {"intervaljoin": {"right":
              "SELECT eid AS rid, user_id, t AS rs, t + 1800.0 AS re FROM stress_events WHERE kind = 1",
              "leftStart": "ls", "leftEnd": "le",
              "rightStart": "rs", "rightEnd": "re",
              "on": "user_id", "binWidth": 600}}],
          "loader": {"memory": {}} }""",
        // corpus boilerplate at token-line granularity: the hot set is
        // bounded by the 10k vocab (broadcast stays flat at every N);
        // explode + hash agg + anti join + (id,pos) rebuild — linear in
        // total tokens
        // the trailing length() filter REFERENCES the rebuilt text —
        // without it, count() lets Catalyst eliminate the final left
        // join against the unique-keyed rebuild and the leg would time
        // only the scan
        "boilerplate" -> s"""{
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT doc_id, replace(text, ' ', chr(10)) AS text FROM __input"}},
            {"boilerplate": {"minDocs": 50}},
            {"code": {"language": "sql", "code":
              "SELECT doc_id FROM __input WHERE length(text) % 2 >= 0"}}],
          "loader": {"memory": {}} }""",
        // DSIR importance weighting: token explode → (doc, token) hash
        // agg (map-side combine) → two VOCABULARY joins (rows ∝ distinct
        // tokens, not corpus tokens) → per-doc sum; the trailing filter
        // references the weight so Catalyst cannot eliminate the join
        "dsir_weight" -> s"""{
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"dsirweight": {"target":
              "SELECT text FROM stress_docs WHERE doc_id % 7 = 0"}},
            {"code": {"language": "sql", "code":
              "SELECT doc_id FROM __input WHERE dsir_weight IS NOT NULL"}}],
          "loader": {"memory": {}} }""",
        // banded pigeonhole over PRECOMPUTED fingerprints (the mm_phash
        // downstream): near-linear as random 16-bit blocks stay sparse
        "hamming_pairs" -> s"""{
          "source": {"file": {"path": "$hashes"}}, "extractor": {"parquet": {}},
          "transformers": [{"hammingpairs": {"hashField": "h",
            "maxDistance": 3}}],
          "loader": {"memory": {}} }""",
        "semantic_dedup" -> s"""{
          "source": {"file": {"path": "$vecs"}}, "extractor": {"parquet": {}},
          "transformers": [{"semanticdedup": {"idField": "vec_id",
            "field": "embedding", "threshold": 0.9, "k": $semK, "nProbe": 2,
            "lloydIters": 2, "trainRows": $semTrain, "emit": "pairs"}}],
          "loader": {"memory": {}} }""",
        // IVF-PQ top-k: cells grow with N so per-cell populations stay
        // flat (candidates ≈ N·nProbe·(N/nCells) → linear when
        // nCells ∝ N); the base side of the cell join carries 16 code
        // BYTES per row — the exchange that distinguishes PQ from plain
        // IVF at scale
        "ivfpq_topk" -> s"""{
          "source": {"file": {"path": "$vecs"}}, "extractor": {"parquet": {}},
          "transformers": [{"similarityivf": {"idField": "vec_id",
            "field": "embedding", "k": 5, "nCells": ${math.max(16L, m / 250)},
            "nProbe": 4, "lloydIters": 2,
            "trainRows": ${math.min(math.max(16L, m / 250) * 40, 20000)},
            "pqM": 16, "pqK": 16, "refine": 4}}],
          "loader": {"memory": {}} }""",
        "similarity_cross" -> s"""{
          "source": {"file": {"path": "$corpusFixed"}}, "extractor": {"parquet": {}},
          "transformers": [{"similarity": {"idField": "vec_id",
            "field": "embedding", "k": 5,
            "queryTable": "SELECT vec_id, embedding FROM stress_vecs"}}],
          "loader": {"memory": {}} }""",
        "minhash_pairs" -> s"""{
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [{"minhash": {"idField": "doc_id", "field": "text",
            "shingleSize": 3, "numHashes": 64, "bands": 16, "threshold": 0.2}}],
          "loader": {"memory": {}} }""",
        "neardup_dedup_lsh" -> s"""{
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [{"neardupdedup": {"idField": "doc_id", "field": "text",
            "shingleSize": 3, "numHashes": 64, "bands": 16, "threshold": 0.5}}],
          "loader": {"memory": {}} }""",
        // bits/band scales with log2(N): fixed nBits makes the band join
        // quadratic in N (the density guard fails fast on that — asserted
        // below); 4 bits/band to 20k vectors, 10 bits/band at 200k
        "cosine_dup" -> s"""{
          "source": {"file": {"path": "$vecs"}}, "extractor": {"parquet": {}},
          "transformers": [{"cosinedup": {"idField": "vec_id",
            "field": "embedding", "threshold": 0.4,
            "nBits": ${if (factor >= 100) 40 else 16}, "bands": 4}}],
          "loader": {"memory": {}} }""",
        // grid densify + ffill: per-key bounds agg → bounded sequence
        // explode → equi-join → one fill window; output rows ≈ keys ×
        // span/every, everything keyed — should track linear
        "resample_ffill" -> s"""{
          "source": {"file": {"path": "$events"}}, "extractor": {"parquet": {}},
          "transformers": [{"resample": {"keyField": "user_id",
            "tsField": "t", "every": 3600, "aggs": ["count"],
            "fill": "ffill"}}],
          "loader": {"memory": {}} }""",
        "group_cap" -> s"""{
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [{"groupcap": {"groupField": "domain",
            "orderField": "doc_id", "maxPerGroup": 10}}],
          "loader": {"memory": {}} }""",
        // fuzzy search cost = O(corpus) per probe BATCH: a fixed probe
        // panel over a growing index must scale with the linear pieces
        // (gram freq agg + index explode + candidates ≈ panel × rare-gram
        // df). A fixed probe FRACTION would be quadratic by construction
        // — that's a usage rule, not an implementation gap.
        "fuzzy_join" -> s"""{
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT doc_id, format_string('entity-%07d', doc_id) AS name FROM __input"}},
            {"fuzzyjoin": {"field": "name", "idField": "doc_id",
              "maxDistance": 2, "probeIf": "doc_id < 500"}}],
          "loader": {"memory": {}} }""",
        // the parameter-tuple LATERAL rewrite: tuples ∝ N (n/10 distinct
        // parent keys, ~10 child members each). The per-tuple path would
        // refuse at the 1000-tuple cap from factor 10 on — reaching rows
        // at factor 100 (50k tuples) IS the O(1)-plan-build evidence;
        // runtime must track the underlying equi-join + collect_list agg
        // crawl landing chain: HTML wrap (sql) → htmlextract →
        // normalizetext — two per-row codegen'd projections; the final
        // filter REFERENCES the normalized column (the count-elimination
        // trap: an unreferenced projection would time only the scan)
        "html_normalize" -> s"""{
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT doc_id, concat('<html><head><title>D', cast(doc_id as string), '</title><style>p{x:1}</style></head><body><h1>T</h1><p>', text, '</p><!-- c --></body></html>') AS html FROM __input"}},
            {"htmlextract": {"field": "html", "outputField": "t1"}},
            {"normalizetext": {"field": "t1", "outputField": "t2",
              "stripAccents": true, "lower": true}},
            {"code": {"language": "sql", "code":
              "SELECT doc_id FROM __input WHERE length(t2) > 10"}}],
          "loader": {"memory": {}} }""",
        // markdown walk over rendered structured pages: the r18 walk of
        // the one-pass parser family — per-row, must track
        // html_normalize's linearity; the length filter forces the full
        // conversion, never just the scan
        "html_markdown" -> s"""{
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT doc_id, concat('<html><head><title>D', cast(doc_id as string), '</title></head><body><h2>T</h2><ul><li>a</li><li>b</li></ul><p>see <a href=\\"u\\">l</a> ', text, '</p></body></html>') AS html FROM __input"}},
            {"htmlmarkdown": {"field": "html"}},
            {"code": {"language": "sql", "code":
              "SELECT doc_id FROM __input WHERE length(markdown) > 10"}}],
          "loader": {"memory": {}} }""",
        // full PDF text extraction over real container bytes: xref walk
        // + Flate inflate + content tokenization per row — must track
        // linear in total payload bytes; the length filter references
        // the extracted text (count-elimination trap)
        "pdf_extract" -> s"""{
          "source": {"file": {"path": "${if (enabled("pdf_extract")) ensurePdfParquet(spark, factor) else ""}"}},
          "extractor": {"parquet": {}},
          "transformers": [
            {"pdfextract": {"idField": "media_id"}},
            {"code": {"language": "sql", "code":
              "SELECT media_id FROM __input WHERE length(text) > 10"}}],
          "loader": {"memory": {}} }""",
        // one-pass TeX strip: per-row codegen'd projection — must track
        // html_normalize's linearity; the length filter references the
        // stripped text (count-elimination trap)
        "latex_strip" -> s"""{
          "source": {"file": {"path": "${if (enabled("latex_strip")) ensureLatexDocs(spark, factor) else ""}"}},
          "extractor": {"parquet": {}},
          "transformers": [
            {"latexstrip": {"field": "tex"}},
            {"code": {"language": "sql", "code":
              "SELECT doc_id FROM __input WHERE length(text) > 10"}}],
          "loader": {"memory": {}} }""",
        // trained NB: class-conditional counts over an N-proportional
        // labeled slice + scoring every doc — both sides are token-
        // linear hash aggs; the vocabulary join saturates (zipf word
        // space ~10k), so the leg must track ∝ tokens, not vocab²
        "nb_classify" -> s"""{
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"nbclassify": {"idField": "doc_id", "field": "text",
              "labeled": "SELECT text, CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS label FROM parquet.`$docs` WHERE doc_id % 11 = 0"}},
            {"code": {"language": "sql", "code":
              "SELECT count(*) AS n FROM __input WHERE nb_label = 'a'"}}],
          "loader": {"memory": {}} }""",
        // WARC framing walk + HTTP split: 64 gz shards regardless of N
        // (records per shard ∝ N) — the filter references body, forcing
        // the full parse, not just the file listing
        "warc_parse" -> s"""{
          "source": {"file": {"path": "${if (enabled("warc_parse")) ensureWarc(spark, factor) else ""}"}},
          "extractor": {"warc": {"types": ["response"]}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT target_uri FROM __input WHERE http_status = 200 AND length(cast(body as string)) > 10"}}],
          "loader": {"memory": {}} }""",
        // XML record slicing + field parse + wikitext strip over 64 gz
        // shards — the dump-ingest class; the filter references the
        // cleaned text (count-elimination trap)
        "wiki_parse" -> s"""{
          "source": {"file": {"path": "${if (enabled("wiki_parse")) ensureWikiXml(spark, factor) else ""}"}},
          "extractor": {"xml": {"rowTag": "page", "fields": ["title", "id", "revision"]}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT cast(id as bigint) AS doc_id, regexp_extract(revision, '(?s)<text[^>]*>(.*?)</text>', 1) AS text FROM __input"}},
            {"wikitext": {}},
            {"code": {"language": "sql", "code":
              "SELECT doc_id FROM __input WHERE length(text) > 10"}}],
          "loader": {"memory": {}} }""",
        // content-defined chunking: per-row O(tokens·groups) fold +
        // posexplode — must track linear in total tokens; the hash agg
        // over chunk_hash references the output (count-elimination trap)
        "cdc_chunk" -> s"""{
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"cdcchunk": {"divisor": 8}},
            {"code": {"language": "sql", "code":
              "SELECT chunk_hash, count(*) AS n FROM __input GROUP BY 1 HAVING count(*) > 1"}}],
          "loader": {"memory": {}} }""",
        // k-core peel at scale: n/4 planted 4-cliques (every vertex
        // degree 3) + a degree-1 tail on every 8th vertex — k=3 peels
        // the tails in ONE round and reaches the fixed point in the
        // next, so rounds are CONSTANT and the leg measures the
        // per-round degree-agg + anti-join cost ∝ edges. The TIGHT
        // maxIter (6, vs the default 50) is the round-count assertion
        // itself: rounds grow with graph diameter, never with N
        // (RoundsSpec: clique forest flat at 1 round across 16× N; the
        // loud bound blows at factor 100 if that ever regresses)
        "kcore_peel" -> s"""{
          "begin": [{"console": {"commands": [
            "CREATE OR REPLACE TEMPORARY VIEW kcs_ids AS SELECT CAST(doc_id AS STRING) AS vid FROM parquet.`$docs` UNION ALL SELECT CAST(doc_id + $n AS STRING) AS vid FROM parquet.`$docs` WHERE doc_id % 8 = 0"]}}],
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT CAST(x.doc_id AS STRING) AS src_id, CAST(y.doc_id AS STRING) AS dst_id FROM __input x JOIN __input y ON x.doc_id div 4 = y.doc_id div 4 AND x.doc_id < y.doc_id UNION ALL SELECT CAST(doc_id AS STRING), CAST(doc_id + $n AS STRING) FROM __input WHERE doc_id % 8 = 0"}},
            {"vertex": {"class": "kc", "idField": "src_id"}},
            {"edge": {"joinFieldName": "dst_id", "lookup": "kcs_ids.vid",
                      "class": "e", "direction": "out"}},
            {"kcore": {"k": 3, "maxIter": 6}}],
          "loader": {"memory": {}} }""",
        // local clustering coefficient under a PLANTED CELEBRITY HUB:
        // n/4 4-cliques (each vertex: 3 clique edges) + one hub adjacent
        // to every 8th vertex — hub degree n/8 grows linearly, so a
        // naive wedge enumeration centered at the hub would be
        // quadratic ((n/8)² pairs); the degree-ordered orientation
        // (Latapy 2008) keeps the hub strictly a wedge TIP and the leg
        // must track ∝ edges. The trailing filter references the
        // triangle/coef outputs (count-elimination trap: a bare count()
        // would let Catalyst drop the unique-keyed left join entirely)
        "clustering_coef" -> s"""{
          "begin": [{"console": {"commands": [
            "CREATE OR REPLACE TEMPORARY VIEW ccf_ids AS SELECT CAST(doc_id AS STRING) AS vid FROM parquet.`$docs` UNION ALL SELECT 'HUB' AS vid"]}}],
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT CAST(x.doc_id AS STRING) AS src_id, CAST(y.doc_id AS STRING) AS dst_id FROM __input x JOIN __input y ON x.doc_id div 4 = y.doc_id div 4 AND x.doc_id < y.doc_id UNION ALL SELECT CAST(doc_id AS STRING), 'HUB' FROM __input WHERE doc_id % 8 = 0"}},
            {"vertex": {"class": "cc", "idField": "src_id"}},
            {"edge": {"joinFieldName": "dst_id", "lookup": "ccf_ids.vid",
                      "class": "e", "direction": "out"}},
            {"clusteringcoef": {}},
            {"code": {"language": "sql", "code":
              "SELECT id FROM __input WHERE triangles >= 1 AND clustering_coef > 0.5"}}],
          "loader": {"memory": {}} }""",
        // SCC coloring at scale: n/4 directed 4-cycles + a one-way
        // report edge from every cycle minimum to a hub whose id sorts
        // FIRST ('A…') — round 1 emits exactly the hub (everything
        // forward-reaches it, only it back-reaches itself), round 2 the
        // now-isolated cycles. Outer rounds CONSTANT by construction,
        // inner propagation rounds constant (cycle length 4), so the
        // leg measures the per-round join + min-agg cost ∝ edges. The
        // trailing filter references scc_id (count-elimination trap).
        // The TIGHT maxIter (10, vs the default 50) is the round-count
        // assertion itself (RoundsSpec: pure 4-cycles flat at 4 rounds
        // across 16× N) — the loud bound blows at factor 100 if
        // rounds ever start growing with N instead of diameter.
        "scc_color" -> s"""{
          "begin": [{"console": {"commands": [
            "CREATE OR REPLACE TEMPORARY VIEW sccs_ids AS SELECT 'v' || lpad(CAST(doc_id AS STRING), 9, '0') AS vid FROM parquet.`$docs` UNION ALL SELECT 'AHUB' AS vid"]}}],
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT 'v' || lpad(CAST(x.doc_id AS STRING), 9, '0') AS src_id, 'v' || lpad(CAST(y.doc_id AS STRING), 9, '0') AS dst_id FROM __input x JOIN __input y ON y.doc_id = (x.doc_id div 4) * 4 + ((x.doc_id % 4) + 1) % 4 UNION ALL SELECT 'v' || lpad(CAST(doc_id AS STRING), 9, '0'), 'AHUB' FROM __input WHERE doc_id % 4 = 0"}},
            {"vertex": {"class": "sv", "idField": "src_id"}},
            {"edge": {"joinFieldName": "dst_id", "lookup": "sccs_ids.vid",
                      "class": "e", "direction": "out"}},
            {"scc": {"maxIter": 10}},
            {"code": {"language": "sql", "code":
              "SELECT id FROM __input WHERE scc_id <> id"}}],
          "loader": {"memory": {}} }""",
        // token-budget mixture at scale: the budget grows ∝ N (so the
        // take is always a real fraction) but the claim under test is
        // the running-sum MACHINERY — per-part bucket token sums + the
        // bucket-PARTITIONED intra window must track ∝ rows, proving no
        // single-partition global sort hides in the plan. The trailing
        // filter references text (count-elimination trap).
        "mixture_budget" -> s"""{
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"mixture": {"keyField": "doc_id", "budget": ${n * 40},
              "columns": ["doc_id", "text"],
              "parts": [
                {"path": "$docs", "fraction": 3, "name": "w"},
                {"path": "$docs", "fraction": 1, "name": "c"}]}},
            {"code": {"language": "sql", "code":
              "SELECT count(*) AS kept FROM __input WHERE length(text) > 0"}}],
          "loader": {"memory": {}} }""",
        // 4-step funnel: users ∝ N (~66 events each), step labels from
        // eid % 4 — the S−1 sequential keyed min-agg joins must be
        // linear-flat (no windows over event rows); the trailing filter
        // references steps_completed (count-elimination trap)
        "funnel_steps" -> s"""{
          "source": {"file": {"path": "$events"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT user_id, t, concat('s', CAST(eid % 4 AS STRING)) AS event_type FROM __input"}},
            {"funnel": {"keyField": "user_id", "tsField": "t",
              "steps": ["s0", "s1", "s2", "s3"]}},
            {"code": {"language": "sql", "code":
              "SELECT key FROM __input WHERE steps_completed >= 2"}}],
          "loader": {"memory": {}} }""",
        // vertices ∝ N at FIXED degree (≤ 8 distinct out-offsets → deg
        // ≤ ~16) plus one hub wired to every user (deg ∝ N): the
        // maxDegree cap must exclude the hub as a wedge CENTER at every
        // factor, keeping candidates ∝ N·deg² — linear, never the
        // hub's N² wedges. Trailing filter references jaccard
        // (count-elimination trap).
        "link_predict" -> s"""{
          "begin": [{"console": {"commands": [
            "CREATE OR REPLACE TEMPORARY VIEW lps_ids AS SELECT DISTINCT 'u' || CAST(user_id AS STRING) AS vid FROM stress_events"]}}],
          "source": {"file": {"path": "$events"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT 'u' || CAST(user_id AS STRING) AS src_id, 'u' || CAST((user_id + eid % 8 + 1) % ${math.max(150L, 10000L * factor / 66)} AS STRING) AS dst_id FROM __input UNION ALL SELECT 'hub', 'u' || CAST(user_id AS STRING) FROM __input"}},
            {"vertex": {"class": "lps", "idField": "src_id"}},
            {"edge": {"joinFieldName": "dst_id", "lookup": "lps_ids.vid",
                      "class": "lps_e", "direction": "out"}},
            {"linkpredict": {"maxDegree": 64, "minCommon": 2}},
            {"code": {"language": "sql", "code":
              "SELECT count(*) AS n FROM __input WHERE jaccard > 0.01"}}],
          "loader": {"memory": {}} }""",
        // baskets ∝ N at FIXED size 20 (190 pairs each): the basket
        // self-join is linear in N under the size cap; support filter
        // references the output (count-elimination trap)
        "freq_pairs" -> s"""{
          "source": {"file": {"path": "$events"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT eid div 20 AS basket, (eid * 31) % 500 AS item FROM __input"}},
            {"freqpairs": {"basketField": "basket", "itemField": "item",
              "minCount": 2}},
            {"code": {"language": "sql", "code":
              "SELECT count(*) AS n FROM __input WHERE support > 0.000001"}}],
          "loader": {"memory": {}} }""",
        // one POWER KEY owns ~20% of all events (user 0): the window
        // row_number truncation must bound per-key agg state at
        // maxSteps — the naive collect-then-slice would buffer the hot
        // key's FULL 0.2·N history in one aggregation buffer. Trailing
        // filter references n_keys (count-elimination trap).
        "event_paths" -> s"""{
          "source": {"file": {"path": "$events"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT CASE WHEN eid % 5 = 0 THEN 0 ELSE user_id END AS u, t, eid, concat('s', CAST(eid % 6 AS STRING)) AS st FROM __input"}},
            {"eventpaths": {"keyField": "u", "tsField": "t",
              "tieField": "eid", "stateField": "st", "maxSteps": 12}},
            {"code": {"language": "sql", "code":
              "SELECT count(*) AS n FROM __input WHERE n_keys >= 1 AND length(path) > 0"}}],
          "loader": {"memory": {}} }""",
        // corpus-level line dedup at token-line granularity: the
        // duplicate table is bounded by the 10k zipf vocabulary, so the
        // broadcast stays flat at every N; explode + hash agg +
        // broadcast join + (id,pos) rebuild — linear in total tokens.
        // Trailing filter references the rebuilt text (count-elimination
        // trap, same as boilerplate's)
        "line_dedup" -> s"""{
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT doc_id, replace(text, ' ', chr(10)) AS page FROM __input"}},
            {"linededup": {"idField": "doc_id", "field": "page",
              "action": "keepfirst"}},
            {"code": {"language": "sql", "code":
              "SELECT doc_id FROM __input WHERE length(page_clean) % 2 >= 0"}}],
          "loader": {"memory": {}} }""",
        // KEYLESS exact AUC with distinct scores ∝ N — the case a naive
        // global-window rank would sort through one partition; the
        // two-level (256-bucket) prefix must keep it linear
        "auc_rank" -> s"""{
          "source": {"file": {"path": "$events"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT CAST(floor(t) AS BIGINT) AS score, kind FROM __input"}},
            {"auc": {"scoreField": "score", "labelField": "kind"}}],
          "loader": {"memory": {}} }""",
        // Kaplan-Meier with subjects ∝ N but a FIXED day-quantized time
        // axis: the at-risk windows and the product fold run over the
        // (group, time) CELL frame (≤ 90 rows per group at every
        // factor), so subject volume only pays one hash aggregation
        "survival_curve" -> s"""{
          "source": {"file": {"path": "$events"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT user_id % 8 AS grp, CAST(t / 86400 AS BIGINT) % 90 + 1 AS t_day, kind = 1 AS ev FROM __input"}},
            {"survival": {"timeField": "t_day", "eventField": "ev",
              "groupBy": ["grp"]}},
            {"code": {"language": "sql", "code":
              "SELECT grp FROM __input WHERE survival >= 0"}}],
          "loader": {"memory": {}} }""",
        // exact CUSUM with users ∝ N (~66 events each): one keyed
        // window + one struct-max agg — per-key state is a running sum,
        // never a buffer. Trailing filter references the output
        "changepoint_cusum" -> s"""{
          "source": {"file": {"path": "$events"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT eid, user_id, t, CAST(eid % 97 AS BIGINT) + CASE WHEN t > 1296000 THEN 200 ELSE 0 END AS v FROM __input"}},
            {"changepoint": {"keyField": "user_id", "tsField": "t",
              "tieField": "eid", "valueField": "v"}},
            {"code": {"language": "sql", "code":
              "SELECT user_id FROM __input WHERE cusum_max >= 0"}}],
          "loader": {"memory": {}} }""",
        // FIXED-depth (12-layer) DAG whose width grows ∝ N: rounds stay
        // constant while each round's join/agg grows linearly — the
        // toposort scale contract (rounds = depth, work/round ∝ edges)
        "topo_layers" -> s"""{
          "begin": [{"console": {"commands": [
            "CREATE OR REPLACE TEMPORARY VIEW topo_stress_ids AS SELECT CAST(doc_id AS STRING) AS vid FROM parquet.`$docs`"]}}],
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT CAST(doc_id AS STRING) AS src_id, CAST(doc_id + ${n / 12} AS STRING) AS dst_id FROM __input WHERE doc_id + ${n / 12} < $n"}},
            {"vertex": {"class": "tp", "idField": "src_id"}},
            {"edge": {"joinFieldName": "dst_id", "lookup": "topo_stress_ids.vid",
                      "class": "e", "direction": "out"}},
            {"toposort": {"maxIter": 20}}],
          "loader": {"memory": {}} }""",
        // skip-gram collocations at window=3: each offset adds one full
        // positional pair stream (3x token volume through ONE hash agg
        // after the concat) — must stay linear in tokens. Trailing
        // filter references n_xy (count-elimination trap)
        "collocations_win" -> s"""{
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"collocations": {"field": "text", "window": 3, "minCount": 5}},
            {"code": {"language": "sql", "code":
              "SELECT count(*) AS n FROM __input WHERE n_xy >= 5"}}],
          "loader": {"memory": {}} }""",
        // keyed running aggregates with users ∝ N (~66 events each):
        // ONE keyed window carries cum_n and every cumsum — per-key
        // state is a running sum, never a buffer. Trailing filter
        // references the cumsum (count-elimination trap)
        "cumulate_run" -> s"""{
          "source": {"file": {"path": "$events"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT eid, user_id, t, CAST(eid % 97 AS BIGINT) AS v FROM __input"}},
            {"cumulate": {"keyField": "user_id", "tsField": "t",
              "tieField": "eid", "valueFields": ["v"]}},
            {"code": {"language": "sql", "code":
              "SELECT user_id FROM __input WHERE v_cumsum >= 0"}}],
          "loader": {"memory": {}} }""",
        // KEYLESS global percent_rank over distinct integral scores ∝ N
        // — the case a naive global window would single-partition; the
        // two-level bucket prefix (3102c8d) must keep it linear
        "percent_rank" -> s"""{
          "source": {"file": {"path": "$events"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT eid, (eid * 31) % 1000000007 AS score FROM __input"}},
            {"percentrank": {"field": "score", "global": true}},
            {"code": {"language": "sql", "code":
              "SELECT count(*) AS n FROM __input WHERE score_pct >= 0"}}],
          "loader": {"memory": {}} }""",
        // bloom-prefiltered semi join: left events ∝ N against a FIXED
        // 500-key right side at ~5% match rate — the probe is a per-row
        // codegen filter, the exchange carries only the surviving
        // sliver, so the leg must track the scan (linear), never the
        // join. Trailing filter references the joined output
        "bloom_semi" -> s"""{
          "source": {"file": {"path": "$events"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT eid, user_id, (eid * 31) % 10000 AS k FROM __input"}},
            {"bloomjoin": {"right":
              "SELECT DISTINCT (eid * 17) % 10000 AS rk FROM stress_events WHERE eid < 1000",
              "leftOn": "k", "rightOn": "rk"}},
            {"code": {"language": "sql", "code":
              "SELECT count(*) AS n FROM __input WHERE k >= 0"}}],
          "loader": {"memory": {}} }""",
        // mergeable KLL rollup: per-grain sketch (ObjectHashAggregate,
        // map-side partials — each task ships one ~3 KB sketch) then a
        // 64-row merge; must track the scan, never buffer values
        "kll_grain" -> s"""{
          "source": {"file": {"path": "$events"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT user_id % 64 AS grain, t FROM __input"}},
            {"kllsketch": {"field": "t", "groupBy": "grain"}},
            {"kllmerge": {"probs": [0.5, 0.99]}},
            {"code": {"language": "sql", "code":
              "SELECT n_values FROM __input WHERE p50 IS NOT NULL"}}],
          "loader": {"memory": {}} }""",
        // mergeable checksum at a users-∝-N grain: ONE hash agg with
        // map-side combine, exchange carries (grain, 3 longs); the
        // merge re-aggregates the GRAIN table (never the rows again)
        "checksum_grain" -> s"""{
          "source": {"file": {"path": "$events"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"checksum": {"fields": ["eid", "t", "kind"], "groupBy": "user_id"}},
            {"checksummerge": {}},
            {"code": {"language": "sql", "code":
              "SELECT n_rows FROM __input WHERE xor64 IS NOT NULL"}}],
          "loader": {"memory": {}} }""",
        // per-row codegen'd Markdown strip — must track latex_strip /
        // html_normalize linearity; the filter references the stripped
        // text (count-elimination trap)
        "markdown_strip" -> s"""{
          "source": {"file": {"path": "${if (enabled("markdown_strip")) ensureMarkdownDocs(spark, factor) else ""}"}},
          "extractor": {"parquet": {}},
          "transformers": [
            {"markdownstrip": {"field": "md"}},
            {"code": {"language": "sql", "code":
              "SELECT doc_id FROM __input WHERE length(text) > 10"}}],
          "loader": {"memory": {}} }""",
        // ustar block walk + whole-file gunzip over 64 gz shards
        // (members ∝ N, per-member work constant) — the filter
        // references body, forcing the full member parse
        "tar_parse" -> s"""{
          "source": {"file": {"path": "${if (enabled("tar_parse")) ensureTar(spark, factor) else ""}"}},
          "extractor": {"tar": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT member FROM __input WHERE size > 10 AND length(cast(body as string)) > 10"}}],
          "loader": {"memory": {}} }""",
        // cell-banded radius join: left points ∝ N over an area ∝ N
        // (constant density), right fixed at 2000 points on the same
        // extent — result pairs stay ~constant, so the leg must track
        // the LINEAR left scan + the small 9-replicated right, never
        // degenerate toward the |L|x|R| cross join; the aggregate
        // references dist2 (count-elimination trap)
        "geo_band" -> s"""{
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT doc_id AS id, (doc_id * 37) % 100000 AS lat, (doc_id * 73) % ${100000L * factor} AS lon FROM __input"}},
            {"geojoin": {"right":
              "SELECT doc_id AS rid, (doc_id * 41) % 100000 AS lat, (doc_id * 79) % ${100000L * factor} AS lon FROM parquet.`$docs` WHERE doc_id < 2000",
              "radius": 5000}},
            {"code": {"language": "sql", "code":
              "SELECT count(*) AS pairs FROM __input WHERE dist2 >= 0"}}],
          "loader": {"memory": {}} }""",
        // mbox framing + MIME decode over 64 shards (messages ∝ N,
        // half quoted-printable) — the filter references the decoded
        // text and subject (count-elimination trap)
        "mbox_parse" -> s"""{
          "source": {"file": {"path": "${if (enabled("mbox_parse")) ensureMbox(spark, factor) else ""}"}},
          "extractor": {"mbox": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT message_id FROM __input WHERE length(text) > 10 AND subject IS NOT NULL"}}],
          "loader": {"memory": {}} }""",
        // per-row RTF control-word scan — must track the docx/latex
        // extractor linearity; filter references the stripped text
        "rtf_strip" -> s"""{
          "source": {"file": {"path": "${if (enabled("rtf_strip")) ensureRtfDocs(spark, factor) else ""}"}},
          "extractor": {"parquet": {}},
          "transformers": [
            {"rtfextract": {"idField": "media_id"}},
            {"code": {"language": "sql", "code":
              "SELECT media_id FROM __input WHERE length(text) > 10"}}],
          "loader": {"memory": {}} }""",
        "etl_lateral" -> s"""{
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT DISTINCT doc_id % ${n / 10} AS pk FROM __input"}},
            {"etl": {"parameters": {"p": "pk"},
              "pipeline": {
                "source": {"file": {"path": "$docs"}},
                "extractor": {"parquet": {}},
                "transformers": [{"command": {"command":
                  "SELECT doc_id FROM input WHERE doc_id % ${n / 10} = $$p"}}]},
              "fieldName": "members", "fieldType": "EMBEDDEDLIST",
              "valueFieldName": "doc_id"}}],
          "loader": {"memory": {}} }""")
      ops.filter(o => enabled(o._1)).foreach { case (name, json) =>
        val t = time2(json)
        results((name, factor)) = t
        val nDisp = name match {
          case "cosine_dup" | "semantic_dedup" | "similarity_cross" => m
          case "asof_join" | "asof_nearest" | "range_join" |
               "interval_join" | "funnel_steps" | "auc_rank" |
               "survival_curve" | "changepoint_cusum" |
               "link_predict" | "freq_pairs" | "event_paths" |
               "cumulate_run" | "percent_rank" | "bloom_semi" |
               "checksum_grain" | "kll_grain" => 10000L * factor
          case "hamming_pairs" => 20000L * factor
          case _ => n
        }
        println(f"[stress] $name%-18s factor=$factor%-2d n=$nDisp%-6d min-of-2 = $t%7.2fs")
      }
      if (factor >= 100 && enabled("cosine_dup")) {
        // the under-bucketed config must FAIL FAST (density guard), not
        // GC-thrash: 200k vectors at 4 bits/band ≈ 10^10 candidates
        val e = try {
          Engine.runJson(ctx(), s"""{
            "source": {"file": {"path": "$vecs"}}, "extractor": {"parquet": {}},
            "transformers": [{"cosinedup": {"idField": "vec_id",
              "field": "embedding", "threshold": 0.4, "nBits": 16, "bands": 4}}],
            "loader": {"memory": {}} }""").count()
          "NO ERROR — guard failed to fire"
        } catch { case ex: Exception if ex.getMessage.contains("quadratic") =>
          "guard fired as designed" }
        println(s"[stress] density guard at factor=$factor: $e")
      }
    }
    // streaming leg: the stream-STREAM band join — the stateful-operator
    // class the batch legs can't represent. State per side ≈ the rows
    // inside watermark+band; with availableNow over one bounded fixture
    // the wall time is scan + state-build + join, measured end-to-end.
    for (factor <- Seq(1, 10, 100) if enabled("stream_join")) {
      val n = 10000L * factor
      val ev = ensureEvents(spark, factor, ts = true)
      val t = wallS(spark.emptyDataFrame, _ => graft.streaming.Streaming.run(ctx(),
          graft.spec.PipelineSpec.parse(s"""{
        "source": {"stream": {"path": "$ev", "format": "parquet",
          "shufflePartitions": 8,
          "schema": "eid BIGINT, user_id BIGINT, ts TIMESTAMP, kind INT"}},
        "transformers": [
          {"code": {"language": "sql", "code":
            "SELECT eid, user_id, ts FROM __input WHERE kind = 0"}},
          {"stream_join": {
            "right": {"path": "$ev", "format": "parquet",
              "schema": "eid BIGINT, user_id BIGINT, ts TIMESTAMP, kind INT"},
            "rightWhere": "kind = 1",
            "on": "user_id", "leftTime": "ts",
            "before": 900, "after": 0, "watermark": "1 hour",
            "select": ["eid:rid"]}}],
        "loader": {"streamsink": {"format": "memory",
          "name": "stress_sj_f$factor", "outputMode": "append",
          "trigger": "availableNow"}} }""")).awaitTermination())
      val rows = spark.table(s"stress_sj_f$factor").count()
      results(("stream_join", factor)) = t
      println(f"[stress] stream_join        factor=$factor%-2d n=$n%-6d wall = $t%7.2fs (pairs=$rows)")
    }
    // bucketed-upsert leg: table grows 100×, bucket count grows with it
    // (fixed rows/bucket — the deployment shape), the delta stays FIXED
    // and confined to one bucket. Pruned correctly, upsert wall time is
    // flat (exp ≈ 0): scan + rewrite of one constant-size bucket. The
    // whole-table rewrite it replaces would be exp ≈ 1.
    for (factor <- Seq(1, 10, 100) if enabled("upsert_delta")) {
      import spark.implicits._
      val n = 20000L * factor
      val buckets = (8 * factor).toInt
      val dir = Fixtures.scratch("stress_upsert", s"f$factor")
      spark.range(1, n + 1).select(col("id"),
          concat(lit("payload_"), col("id")).as("v"))
        .write.mode("overwrite").parquet(s"$dir/base")
      Engine.runJson(ctx(), s"""{
        "source": {"file": {"path": "$dir/base"}},
        "extractor": {"parquet": {}},
        "loader": {"parquet": {"path": "$dir/tbl", "mode": "upsert",
                               "key": "id", "buckets": $buckets}} }""")
      // delta: 200 existing keys that ALL hash into bucket 0
      spark.range(1, n + 1)
        .where(pmod(hash(col("id")), lit(buckets)) === 0).limit(200)
        .select(col("id"), lit("UPDATED").as("v"))
        .write.mode("overwrite").parquet(s"$dir/delta")
      def once(): Double = wallS(Engine.runJson(ctx(), s"""{
          "source": {"file": {"path": "$dir/delta"}},
          "extractor": {"parquet": {}},
          "loader": {"parquet": {"path": "$dir/tbl", "mode": "upsert",
                                 "key": "id", "buckets": $buckets}} }"""), _ => ())
      val t = math.min(once(), once())
      results(("upsert_delta", factor)) = t
      println(f"[stress] upsert_delta       factor=$factor%-2d n=$n%-6d min-of-2 = $t%7.2fs (table=${n} rows, delta=200)")
    }
    // skewjoin leg (r15 verdict #3): the docs fixture's PLANTED 20% hot
    // domain joined against its ~1001-row domain dimension with
    // broadcast DISABLED — the regime the stage exists for (a right
    // side past the broadcast threshold, a hot left key funnelling one
    // sort-merge reducer). Times the salted plan AND the plain shuffle
    // join; the claim is beats-or-tracks at 100× under skew. The
    // trailing filter references a right column (count-elimination trap).
    for (factor <- Seq(1, 10, 100) if enabled("skew_join")) {
      val n = 5000L * factor
      val docs = ensureDocs(spark, factor)
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW skj_dim AS " +
        s"SELECT domain, count(*) AS dn FROM parquet.`$docs` GROUP BY 1")
      val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val salted = time2(s"""{
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"skewjoin": {"right": "SELECT domain, dn FROM skj_dim",
              "on": "domain", "saltBuckets": 16}},
            {"code": {"language": "sql", "code":
              "SELECT doc_id FROM __input WHERE dn > 0"}}],
          "loader": {"memory": {}} }""")
        val plain = time2(s"""{
          "source": {"file": {"path": "$docs"}}, "extractor": {"parquet": {}},
          "transformers": [
            {"code": {"language": "sql", "code":
              "SELECT t.doc_id FROM __input t JOIN skj_dim d ON t.domain = d.domain WHERE d.dn > 0"}}],
          "loader": {"memory": {}} }""")
        results(("skewjoin_salted", factor)) = salted
        results(("skewjoin_plain", factor)) = plain
        println(f"[stress] skewjoin_salted    factor=$factor%-2d n=$n%-6d min-of-2 = $salted%7.2fs (plain shuffle join $plain%.2fs)")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
    println("[stress] scaling exponents (1.0 = linear in N; the 10->100 column")
    println("[stress] is the honest one — fixed job-launch cost dominates factor 1):")
    results.keys.map(_._1).toSeq.distinct.sorted.foreach { name =>
      val (t1, t10, t100) = (results((name, 1)), results((name, 10)), results((name, 100)))
      val e10 = math.log(t10 / t1) / math.log(10.0)
      val e100 = math.log(t100 / t10) / math.log(10.0)
      println(f"[stress]   $name%-18s t1=$t1%6.2fs t10=$t10%6.2fs t100=$t100%7.2fs exp(1->10)=$e10%5.2f exp(10->100)=$e100%5.2f")
    }
    spark.stop()
  }
}
