package graft

import graft.engine.Engine
import graft.functions.{Bpe, VectorExpressions}
import org.apache.spark.sql.functions._

/** Trained-BPE tokenizer: training semantics, expression/reference
  * differential, roundtrip invariant, determinism. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L,
    "widest" -> 3L)

  test("training merges the most frequent pair first, lexicographic-min ties") {
    val merges = Bpe.train(corpus, 10)
    // round-1 pair counts: (e s)=9, (s t)=9, (t EOW)=9, (w e)=8, (l o)=7,
    // (o w)=7 … — three-way tie at 9 resolves to the smallest pair string
    assert(merges.head == "e s", merges.toSeq.toString)
    assert(merges.length <= 10)
    // input order cannot matter (counts are order-free, ties lexicographic)
    assert(Bpe.train(corpus.reverse, 10).toSeq == merges.toSeq)
    // numMerges caps the table; early-exhaust stops when no pair repeats
    assert(Bpe.train(Seq("ab" -> 1L), 10).isEmpty) // every pair occurs once
  }

  test("encode applies merges greedily by rank; decode is the exact inverse") {
    val merges = Bpe.train(corpus, 50)
    val ranks = Bpe.ranksOf(merges)
    // trained words collapse to few symbols; unseen words fall back to chars
    assert(Bpe.encodeWord("newest", ranks).length < 4)
    val texts = Seq("low lower newest", "  spaced\t\nout  ", "unseen zebra",
      "mixé ünïcode 漢字", "")
    texts.foreach { t =>
      val toks = Bpe.encode(t, merges)
      val norm = t.split("\\s+").filter(_.nonEmpty).mkString(" ")
      assert(Bpe.decode(toks.toIndexedSeq) == norm, s"roundtrip failed for '$t'")
    }
  }

  test("native BpeEncode expression == Scala reference on fixture docs") {
    val merges = Bpe.train(corpus, 50)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val got = docs.select(col("text"),
        VectorExpressions.bpeEncode(col("text"), merges).as("toks"))
      .collect()
    got.foreach { r =>
      val want = Bpe.encode(r.getString(0), merges).toSeq
      assert(r.getSeq[String](1) == want, "expression disagrees with reference")
    }
  }

  test("bpe stage: trains on the corpus itself, tokens roundtrip, counts emitted") {
    val ctx = newCtx()
    val out = Engine.runJson(ctx, s"""{
      "source": {"file": {"path": "$sfDir/documents.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"bpe": {"field": "text", "numMerges": 50,
        "trainRows": 64}}],
      "loader": {"memory": {}} }""")
    assert(out.columns.contains("bpe_tokens") && out.columns.contains("n_bpe_tokens"))
    val bad = out.where(col("text").isNotNull)
      .where(trim(translate(array_join(col("bpe_tokens"), ""), Bpe.EOW, " "))
        =!= trim(regexp_replace(col("text"), "\\s+", " "))).count()
    assert(bad == 0, s"$bad rows failed the roundtrip invariant")
    // merges learned on real text must compress vs. char tokenization
    val sums = out.where(col("text").isNotNull).agg(
      sum(col("n_bpe_tokens").cast("long")),
      sum((length(regexp_replace(col("text"), "\\s+", "")) +
        size(split(trim(col("text")), "\\s+"))).cast("long")))
      .as[(Long, Long)].head()
    assert(sums._1 < sums._2, s"no compression: ${sums._1} vs ${sums._2}")
  }

  test("bpe model persistence: saveMerges exports, loadMerges applies verbatim") {
    val ctx = newCtx()
    val model = java.nio.file.Files.createTempDirectory("graft_bpe_model")
      .resolve("merges.txt").toString
    val trained = Engine.runJson(ctx, s"""{
      "source": {"file": {"path": "$sfDir/documents.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"bpe": {"field": "text", "numMerges": 40,
        "trainRows": 64, "saveMerges": "$model"}}],
      "loader": {"memory": {}} }""")
      .select("doc_id", "bpe_tokens").orderBy("doc_id").collect()
    assert(new java.io.File(model).length() > 0)
    // a fresh run LOADING the model (no training sample at all) must
    // tokenize identically — the train-once apply-everywhere contract
    val loaded = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/documents.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"bpe": {"field": "text", "loadMerges": "$model"}}],
      "loader": {"memory": {}} }""")
      .select("doc_id", "bpe_tokens").orderBy("doc_id").collect()
    assert(trained.length == loaded.length)
    trained.zip(loaded).foreach { case (a, b) =>
      assert(a.getSeq[String](1) == b.getSeq[String](1), s"doc ${a.get(0)}")
    }
    val e = intercept[Exception](Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/documents.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"bpe": {"loadMerges": "/nonexistent/m.txt"}}],
      "loader": {"memory": {}} }"""))
    assert(e.getMessage.contains("loadMerges"))
  }
}
