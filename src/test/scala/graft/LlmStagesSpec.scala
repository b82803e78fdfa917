package graft

import graft.dedup.DedupStages
import graft.similarity.SimilarityStages
import graft.spec.ComponentSpec
import graft.text.TextStages
import org.apache.spark.sql.functions._

/** Specs for the LLM training-data pipeline stages: dedup (exact /
  * MinHash LSH / SimHash / exact Jaccard), text analysis, similarity
  * search, multimodal. Constructed micro-fixtures with known answers +
  * the driver documents/embeddings tables for scale-shaped checks. */
class LlmStagesSpec extends SparkSpec {
  import spark.implicits._

  private def stage(name: String, opts: (String, Any)*) =
    graft.engine.Engine.transformers(name)(ComponentSpec(name, opts.toMap), newCtx())

  // ------------------------------------------------------------- exact dedup
  test("dedup exact: keeps min-tiebreak row per key") {
    val df = Seq(
      (1L, "aaa", 10), (2L, "aaa", 20), (3L, "bbb", 30), (4L, "aaa", 40),
      (5L, "ccc", 50)).toDF("id", "content", "v")
    val out = stage("dedup", "keyFields" -> Seq("content"), "tiebreakField" -> "id")(df)
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L, 5L))
    assert(out.map(_.getInt(2)).toSeq == Seq(10, 30, 50)) // whole row kept
  }

  test("dedup keep: last = newest-wins per key (the CDC snapshot posture)") {
    val df = Seq(
      (1L, "aaa", 10), (2L, "aaa", 20), (3L, "bbb", 30), (4L, "aaa", 40),
      (5L, "ccc", 50)).toDF("id", "content", "v")
    val out = stage("dedup", "keyFields" -> Seq("content"),
      "tiebreakField" -> "id", "keep" -> "last")(df)
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(3L, 4L, 5L))
    assert(out.map(_.getInt(2)).toSeq == Seq(30, 40, 50))
    val e = intercept[Exception](stage("dedup", "keyFields" -> Seq("content"),
      "keep" -> "newest")(df).collect())
    assert(e.getMessage.contains("first|last"), e.getMessage)
  }

  test("dedup by keyExpr (content hash)") {
    val df = Seq((1L, "x y z"), (2L, "x y z"), (3L, "q")).toDF("doc_id", "text")
    val out = stage("dedup", "keyExpr" -> "md5(text)", "tiebreakField" -> "doc_id")(df)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  // ----------------------------------------------------------------- minhash
  test("minhash LSH finds constructed near-duplicates, not unrelated docs") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"tok$i").mkString(" ") + " other1 other2"
    val unrelated = (100 to 160).map(i => s"zzz$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val pairs = stage("minhash", "threshold" -> 0.5, "numHashes" -> 64,
      "bands" -> 16)(df).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(!pairs.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
    // jaccard on candidates is EXACT: verify against a hand computation
    val j = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get.getDouble(2)
    // shingle sets: base has 58 3-grams, nearDup has 58; overlap = 56
    assert(j > 0.8 && j < 1.0)
  }

  test("minhash signature is deterministic across evaluations") {
    val df = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val sig = DedupStages.minhashSignature(
      DedupStages.wordShingles(col("text"), 3), 16)
    val a = df.select(sig).head().getSeq[Long](0)
    val b = df.select(sig).head().getSeq[Long](0)
    assert(a == b && a.length == 16)
  }

  test("native ShingleHashes == HOF wordShingles+xxhash64, in order") {
    val docs = newCtx().table("documents").limit(100)
      .union(Seq((9999L, "one two", "en", "x", 7L)).toDF(
        "doc_id", "text", "lang", "source", "n_chars")) // < n tokens edge
    val diff = docs.select(
      graft.functions.VectorExpressions.shingleHashes(col("text"), 3).as("native"),
      transform(DedupStages.wordShingles(col("text"), 3), s => xxhash64(s)).as("hof"))
      .where(not(col("native") === col("hof"))).count()
    assert(diff == 0)
  }

  test("codegen signature paths equal the per-row HOF reference forms") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "x y z w v u t")).toDF("doc_id", "text")
    // minhash: explode+agg stage form == HOF reference form
    val hof = df.select(col("doc_id"), DedupStages.minhashSignature(
      DedupStages.wordShingles(col("text"), 3), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val agg = DedupStages.minhashSignatures(
      df.select(col("doc_id").as("__id"),
        DedupStages.wordShingles(col("text"), 3).as("__sh")), 16)
      .as[(Long, Seq[Long])].collect().toMap
    assert(hof == agg)
    // simhash: explode+agg form == HOF reference form
    val hofS = df.select(col("doc_id"), DedupStages.simhash64(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    val aggS = DedupStages.simhashSignatures(
      df.select(col("doc_id").as("__id"), col("text").as("__text")))
      .as[(Long, Long)].collect().toMap
    assert(hofS == aggS)
  }

  test("native per-row signatures (MinHashSig / SimHash64) equal HOF forms") {
    // fixture docs + blank/whitespace/short edge cases (blank input must
    // reproduce split(trim(s), "\s+")'s single-empty-token behavior)
    val docs = newCtx().table("documents").limit(100)
      .union(Seq((9001L, "", "en", "x", 0L), (9002L, "   ", "en", "x", 3L),
        (9003L, "one", "en", "x", 3L)).toDF(
        "doc_id", "text", "lang", "source", "n_chars"))
    val mhDiff = docs.select(
      graft.functions.VectorExpressions.minhashSig(
        graft.functions.VectorExpressions.shingleHashes(col("text"), 3), 64).as("native"),
      DedupStages.minhashSignature(
        DedupStages.wordShingles(col("text"), 3), 64).as("hof"))
      .where(not(col("native") === col("hof"))).count()
    assert(mhDiff == 0)
    val shDiff = docs.select(
      graft.functions.VectorExpressions.simHash64(col("text")).as("native"),
      DedupStages.simhash64(col("text")).as("hof"))
      .where(not(col("native") === col("hof"))).count()
    assert(shDiff == 0)
  }

  test("cosinedup exact is the brute-force baseline; LSH recall measured against it") {
    val ctx = newCtx()
    val emb = ctx.table("embeddings")
    val exact = stage("cosinedup", "threshold" -> 0.4, "exact" -> true)(emb)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val lsh = stage("cosinedup", "threshold" -> 0.4, "nBits" -> 16,
      "bands" -> 4)(emb).select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact), "LSH pairs must be a subset of exact pairs")
    val recall = lsh.size.toDouble / exact.size
    assert(recall > 0.3, s"LSH recall too low: $recall")
  }

  test("neardupdedup: transitive keep-one via connected components") {
    // chain cluster: 1≈2, 2≈3 (1 vs 3 below threshold) → only 1 survives;
    // 4 is unrelated → survives; 5≈6 pair → 5 survives
    val mk = (from: Int, to: Int) => (from to to).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, mk(1, 40)),                       // base
      (2L, mk(3, 42)),                       // ≈1 (overlap 1..40 ∩ 3..42)
      (3L, mk(6, 45)),                       // ≈2, farther from 1
      (4L, (200 to 240).map(i => s"z$i").mkString(" ")), // unrelated
      (5L, mk(100, 140).replace("tok", "q")),
      (6L, mk(102, 142).replace("tok", "q"))).toDF("doc_id", "text")
    for (mode <- Seq("exact", "minhash")) {
      val out = stage("neardupdedup", "mode" -> mode, "threshold" -> 0.6,
        "numHashes" -> 64, "bands" -> 16)(df)
      val kept = out.select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(1L, 4L, 5L), s"mode=$mode kept $kept")
    }
    // keepBest: with a quality score the HIGHEST-scoring member of each
    // component survives instead of the min id (ties -> smaller id;
    // null scores lose; unpaired docs keep their null score untouched)
    val scored = df.withColumn("q",
      when(col("doc_id") === 2, 9.0)            // chain winner
        .when(col("doc_id") === 5, 3.0).when(col("doc_id") === 6, 3.0) // tie
        .when(col("doc_id") === 4, lit(null).cast("double"))  // unpaired null
        .otherwise(1.0))
    val best = stage("neardupdedup", "mode" -> "exact", "threshold" -> 0.6,
      "scoreField" -> "q")(scored)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(best == Seq(2L, 4L, 5L), s"keepBest kept $best")
    assert(intercept[Exception](stage("neardupdedup", "mode" -> "exact",
      "scoreField" -> "text")(df)).getMessage.contains("must be numeric"))
  }

  test("connectedComponents: chain converges to the min label") {
    val pairs = Seq((5L, 9L), (9L, 2L), (2L, 7L), (30L, 40L)).toDF("a", "b")
    val comps = DedupStages.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(5L) == 2L && comps(9L) == 2L && comps(2L) == 2L && comps(7L) == 2L)
    assert(comps(30L) == 30L && comps(40L) == 30L)
  }

  test("connectedComponents: long-surrogate path == string path (r19 optimization)") {
    // string-id graph forced through the surrogate path (threshold 1):
    // labels must be IDENTICAL to the direct string-label loop — the
    // surrogate loop optimizes the per-round aggregate (HashAggregate
    // over longs vs SortAggregate over strings), never the result
    val pairs = Seq(("p5", "p9"), ("p9", "p2"), ("p2", "p7"), ("x30", "x40"),
      ("a1", "a2"), ("a2", "a3"), ("a1", "a3")).toDF("a", "b")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val direct = toMap(DedupStages.connectedComponents(pairs,
      surrogateThreshold = Long.MaxValue))
    val surrogate = toMap(DedupStages.connectedComponents(pairs,
      surrogateThreshold = 1L))
    assert(direct == surrogate, s"surrogate path diverged: $surrogate vs $direct")
    assert(surrogate("p5") == "p2" && surrogate("p7") == "p2")
    assert(surrogate("x40") == "x30" && surrogate("a3") == "a1")
  }

  test("connectedComponents: deep chain (diameter >> rounds) still converges") {
    // path graph 0-1-2-…-60: one-hop-only propagation needs 60 rounds and
    // silently truncated at the old maxIter=12 (round-2 advisory);
    // pointer jumping makes this O(log n) — well under maxIter.
    // localFinishEdges=0 forces the DISTRIBUTED rounds (the r19 local
    // union-find gate would otherwise absorb a 60-edge remainder)
    val pairs = (0L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    val comps = DedupStages.connectedComponents(pairs, localFinishEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size == 61)
    assert(comps.values.forall(_ == 0L), "every node labels to the chain min")
  }

  test("connectedComponents: local union-find finish == distributed rounds (r19)") {
    // mixed graph (chains + a clique + singleton pair) whose contracted
    // remainder is small-but-nonempty: the driver union-find gate and
    // the forced distributed rounds must emit IDENTICAL labels — on
    // long ids and on string ids (unsigned-UTF-8 min order)
    val longPairs = ((0L until 40L).map(i => (i, i + 1)) ++
      Seq((100L, 103L), (103L, 101L), (101L, 100L), (200L, 201L))).toDF("a", "b")
    def lmap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lLocal = lmap(DedupStages.connectedComponents(longPairs))
    val lDist = lmap(DedupStages.connectedComponents(longPairs, localFinishEdges = 0L))
    assert(lLocal == lDist, s"long-id local finish diverged: $lLocal vs $lDist")
    val strPairs = Seq(("pb", "pz"), ("pz", "pa"), ("x2", "x10"), ("x10", "x1"),
      ("q1", "q2"), ("q2", "q3"), ("q3", "q4")).toDF("a", "b")
    def smap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val sLocal = smap(DedupStages.connectedComponents(strPairs))
    val sDist = smap(DedupStages.connectedComponents(strPairs, localFinishEdges = 0L))
    assert(sLocal == sDist, s"string-id local finish diverged: $sLocal vs $sDist")
    assert(sLocal("pz") == "pa" && sLocal("x2") == "x1" && sLocal("q4") == "q1")
  }

  // ----------------------------------------------------------------- simhash
  test("simhash: identical docs distance 0; near docs close; far docs far") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val far = (200 to 240).map(i => s"q$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far)).toDF("doc_id", "text")
    val sigs = df.select(col("doc_id"), DedupStages.simhash64(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))
    val pairs = stage("simhash", "maxDistance" -> 3)(df).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getAs[Number]("hamming").longValue() == 0L))
  }

  // ---------------------------------------------------------- exact jaccard
  test("ngramjaccard: exact value on a hand-checkable pair") {
    // texts of 5 tokens → 3 shingles each; constructed overlap = 1
    val df = Seq((1L, "a b c d e"), (2L, "x y a b c")).toDF("doc_id", "text")
    val out = stage("ngramjaccard", "threshold" -> 0.1)(df).collect()
    assert(out.length == 1)
    // shingles: {abc,bcd,cde} vs {xya,yab,abc} → |∩|=1, |∪|=5 → 0.2
    assert(math.abs(out.head.getDouble(2) - 0.2) < 1e-12)
  }

  test("ngramjaccard metric=containment: subset scores 1.0 where jaccard dilutes") {
    // doc 2 is a strict PREFIX of doc 1: containment = 3/min(3,8) = 1.0
    // while jaccard = 3/8
    val df = Seq((1L, "a b c d e f g h i j"), (2L, "a b c d e"))
      .toDF("doc_id", "text")
    val out = stage("ngramjaccard", "metric" -> "containment",
      "threshold" -> 0.9)(df).collect()
    assert(out.length == 1 && out.head.getDouble(2) == 1.0)
    assert(stage("ngramjaccard", "metric" -> "containment", "threshold" -> 0.9)(df)
      .columns.toSeq == Seq("a", "b", "containment"))
    // the same pair misses a 0.9 jaccard bar
    assert(stage("ngramjaccard", "threshold" -> 0.9)(df).collect().isEmpty)
    assert(intercept[Exception](stage("ngramjaccard", "metric" -> "dice")(df))
      .getMessage.contains("metric"))
  }

  // ------------------------------------------------------------- text stages
  test("textstats: counts on known strings") {
    val df = Seq((1L, "the quick brown fox"), (2L, "  a  a  b  ")).toDF("doc_id", "text")
    val out = stage("textstats", "keepInput" -> true)(df).orderBy("doc_id").collect()
    val r1 = out(0)
    assert(r1.getAs[Int]("ts_tokens") == 4)
    assert(r1.getAs[Int]("ts_distinct_tokens") == 4)
    assert(r1.getAs[Double]("ts_stopword_ratio") == 0.25) // "the"
    val r2 = out(1)
    assert(r2.getAs[Int]("ts_tokens") == 3) // runs of spaces collapse
    assert(r2.getAs[Int]("ts_distinct_tokens") == 2)
  }

  test("langid: trigram model classifies held-out sentences in all 20 languages") {
    // the model's own held-out set: no sentence appears in the profiles
    val rows = graft.text.LangIdModel.Holdout.toSeq.flatMap {
      case (lang, ss) => ss.map(s => (lang, s))
    }
    assert(rows.map(_._1).distinct.size == graft.text.LangIdModel.Languages.size)
    val df = rows.zipWithIndex.map { case ((lang, s), i) => (i.toLong, lang, s) }
      .toDF("doc_id", "lang", "text")
    val out = stage("langid")(df)
    val wrong = out.where(col("lang_pred") =!= col("lang")).collect()
    assert(wrong.isEmpty, s"misclassified: ${wrong.mkString("; ")}")
    // marker-free German (no 'der/die/das/und/ist' anywhere)
    val free = stage("langid")(Seq((1L, "Er ging nach Hause."))
      .toDF("doc_id", "text")).head().getAs[String]("lang_pred")
    assert(free == "de", s"marker-free German classified as $free")
    // empty text: deterministic first-declared-language fallback
    assert(stage("langid")(Seq((1L, "")).toDF("doc_id", "text"))
      .head().getAs[String]("lang_pred") == "en")
  }

  test("langid: SHORT marker-free sentences clear a 0.9 accuracy floor") {
    // 3-6 word everyday sentences sharing no content word with the
    // profiles' recurring clusters; the documented floor is 90% — short
    // Latin-script text is the genuinely hard case for char trigrams
    val short = Seq(
      "en" -> "He came back very late.",
      "fr" -> "Il est rentré chez lui.",
      "ru" -> "Он пошёл домой поздно.",
      "vi" -> "Anh ấy đã về nhà muộn.",
      "th" -> "เขากลับบ้านดึกมาก",
      "hi" -> "वह देर से घर लौटा।",
      "ko" -> "그는 밤 늦게 집에 갔다.",
      "el" -> "Πήγε σπίτι πολύ αργά.",
      "he" -> "הוא חזר הביתה מאוחר.",
      "zh" -> "他很晚才回家。")
    val hits = short.count { case (lang, s) =>
      graft.text.LangIdModel.predict(s) == lang
    }
    val acc = hits.toDouble / short.size
    assert(acc >= 0.9, s"short-sentence accuracy $acc below the 0.9 floor: " +
      short.map { case (l, s) => s"$l→${graft.text.LangIdModel.predict(s)}" }
        .mkString(", "))
  }

  test("boilerplate: strips lines in >= minDocs docs, preserves order, empties survive") {
    val df = Seq(
      (1L, "real prose one\ncookie banner\nmore prose"),
      (2L, "cookie banner\nother words"),
      (3L, "cookie banner\nthird doc text\ncookie banner"),
      (4L, "cookie banner"),              // all-boilerplate doc → ""
      (5L, "unique only\n cookie banner") // leading space: different line
    ).toDF("doc_id", "text")
    val out = stage("boilerplate", "minDocs" -> 3)(df)
      .orderBy("doc_id").select("text").as[String].collect().toSeq
    assert(out == Seq(
      "real prose one\nmore prose",
      "other words",
      "third doc text",
      "",
      "unique only\n cookie banner"))
    // trimKey: the padded variant now matches the hot line, but the
    // surviving text keeps its ORIGINAL bytes
    val trimmed = stage("boilerplate", "minDocs" -> 3, "trimKey" -> true)(df)
      .orderBy("doc_id").select("text").as[String].collect().toSeq
    assert(trimmed(4) == "unique only")
    // repeats within ONE doc don't count as multiple docs
    val one = Seq((1L, "x\nx\nx"), (2L, "y")).toDF("doc_id", "text")
    assert(stage("boilerplate", "minDocs" -> 2)(one)
      .orderBy("doc_id").select("text").as[String].collect().toSeq ==
      Seq("x\nx\nx", "y"))
    // custom literal delimiter (regex metachar must not be interpreted)
    val pipe = Seq((1L, "a|b"), (2L, "b|c"), (3L, "b")).toDF("doc_id", "text")
    assert(stage("boilerplate", "minDocs" -> 3, "delimiter" -> "|")(pipe)
      .orderBy("doc_id").select("text").as[String].collect().toSeq ==
      Seq("a", "c", ""))
    // other columns ride along untouched
    val wide = Seq((1L, "k\np", "en"), (2L, "k\nq", "fr"), (3L, "k", "de"))
      .toDF("doc_id", "text", "lang")
    val w = stage("boilerplate", "minDocs" -> 3)(wide).orderBy("doc_id").collect()
    assert(w.map(_.getString(1)).toSeq == Seq("p", "q", ""))
    assert(w.map(_.getString(2)).toSeq == Seq("en", "fr", "de"))
    // scope: document — within-doc first-occurrence dedup, no corpus
    // stats (the repeated line survives in BOTH docs)
    val perDoc = Seq((1L, "a\nb\na\nc\nb"), (2L, "a\na"))
      .toDF("doc_id", "text")
    assert(stage("boilerplate", "scope" -> "document")(perDoc)
      .orderBy("doc_id").select("text").as[String].collect().toSeq ==
      Seq("a\nb\nc", "a"))
    // a NULL text stays NULL (a missing doc is not an all-boilerplate
    // doc); non-null docs behave as before
    val withNull = Seq((1L, "k\nx"), (2L, "k\ny"), (3L, "k"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val nOut = stage("boilerplate", "minDocs" -> 3)(withNull)
      .orderBy("doc_id").select("text").collect().map(r =>
        if (r.isNullAt(0)) null else r.getString(0)).toSeq
    assert(nOut == Seq("x", "y", "", null))
    // duplicate ids fail LOUD — the rebuild would interleave two docs
    val dup = Seq((1L, "p\nq"), (1L, "r\ns")).toDF("doc_id", "text")
    val de = intercept[Exception](
      stage("boilerplate", "minDocs" -> 3)(dup).collect())
    val msgs = Iterator.iterate[Throwable](de)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("duplicate"), msgs)
    // a NULL id is a valid (single) group key: the rebuild join is
    // null-safe, so the doc keeps its surviving lines instead of being
    // silently wiped to '' by a never-matching === join
    val nullId = Seq((java.lang.Long.valueOf(1L), "k\nx"),
      (java.lang.Long.valueOf(2L), "k\ny"),
      (java.lang.Long.valueOf(3L), "k"),
      (null.asInstanceOf[java.lang.Long], "k\nkept line"))
      .toDF("doc_id", "text")
    val nid = stage("boilerplate", "minDocs" -> 3)(nullId)
      .orderBy(col("doc_id").asc_nulls_last)
      .select("text").as[String].collect().toSeq
    assert(nid == Seq("x", "y", "", "kept line"))
    // TWO null-id docs still trip the interleave guard (one group)
    val nullDup = Seq((java.lang.Long.valueOf(1L), "a\nb"),
      (null.asInstanceOf[java.lang.Long], "p\nq"),
      (null.asInstanceOf[java.lang.Long], "r\ns")).toDF("doc_id", "text")
    val ne = intercept[Exception](
      stage("boilerplate", "minDocs" -> 3)(nullDup).collect())
    val nmsgs = Iterator.iterate[Throwable](ne)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(nmsgs.contains("duplicate"), nmsgs)
  }

  test("dsirweight: integer-bits target/source log-ratio, hand-computed") {
    // source: d1 'a a b' (A uppercased: lowercase folds), d2 'a c',
    // d3 null → weight 0. target: one doc 'a c d'.
    // Ns=5 (a=3,b=1,c=1), Nt=3 (a=1,c=1,d=1); L(Ns+1)=L(6)=3=L(4)=L(Nt+1)
    // bits(w)=L(ct+1)-L(cs+1): a→2-3=-1, b→1-2=-1, c→2-2=0
    // d1 = 2·(-1)+(-1) = -3; d2 = -1+0 = -1
    Seq("a c d").toDF("text").createOrReplaceTempView("__dsir_target")
    val df = Seq((1L, "A a b"), (2L, "a c"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = stage("dsirweight",
      "target" -> "SELECT text FROM __dsir_target")(df)
      .orderBy("doc_id").select("dsir_weight").as[Long].collect().toSeq
    assert(out == Seq(-3L, -1L, 0L))
    // a doc matching the target exactly scores HIGHER than an
    // off-domain doc (the selection property the weight exists for)
    val df2 = Seq((1L, "a c d"), (2L, "b b b b")).toDF("doc_id", "text")
    val w2 = stage("dsirweight",
      "target" -> "SELECT text FROM __dsir_target")(df2)
      .orderBy("doc_id").select("dsir_weight").as[Long].collect().toSeq
    assert(w2.head > w2.last, w2.toString)
    // lowercase: false keeps 'A' distinct from 'a'
    val cased = stage("dsirweight", "lowercase" -> false,
      "target" -> "SELECT text FROM __dsir_target")(df)
      .orderBy("doc_id").select("dsir_weight").as[Long].collect().toSeq
    // d1 'A a b': Ns=5 (A=1,a=2,b=1,c=1), Nt=3; L(6)=3,L(4)=3
    // bits: A→L(1)-L(2)=-1, a→L(2)-L(3)=0, b→L(1)-L(2)=-1, c→L(2)-L(2)=0
    // d1 = -1+0-1 = -2; d2 = 0+0 = 0
    assert(cased == Seq(-2L, 0L, 0L))
    // selection: minWeight floors, topK cuts exactly (desc weight, asc id)
    val sel = stage("dsirweight", "target" -> "SELECT text FROM __dsir_target",
      "minWeight" -> -1)(df).select("doc_id").as[Long].collect().toSeq.sorted
    assert(sel == Seq(2L, 3L)) // d1 (-3) floored out
    val top = stage("dsirweight", "target" -> "SELECT text FROM __dsir_target",
      "topK" -> 2)(df).select("doc_id").as[Long].collect().toSeq
    assert(top == Seq(3L, 2L)) // weights 0 > -1 > -3; ties broken by id
    // named migration error when target is missing
    val e = intercept[Exception](stage("dsirweight")(df))
    assert(e.getMessage.contains("target"))
    // topK under DUPLICATE ids returns exactly K rows (ADVICE r15: the
    // semi-join recovery alone co-matched every duplicate of a winner)
    val dupDf = Seq((1L, "a c d"), (1L, "a c d"), (2L, "b b"), (3L, "a"))
      .toDF("doc_id", "text")
    assert(stage("dsirweight", "target" -> "SELECT text FROM __dsir_target",
      "topK" -> 2)(dupDf).count() == 2)
  }

  test("nbclassify: integer-bits NB hand-computed; asc-label ties; save→load identity") {
    // train: good='a a b', bad='c c a' → Ngood=Nbad=3, V=3, priors L(1)=1,
    // denoms L(6)=3. 'a b' → good −1 / bad −2; 'c' → good −1 / bad 0;
    // unseen 'z' → both −1, tie → ascending label 'bad'; null text → null
    Seq(("good", "a a b"), ("bad", "c c a")).toDF("label", "text")
      .createOrReplaceTempView("__nb_train")
    val df = Seq((1L, "a b"), (2L, "c"), (3L, "z"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = stage("nbclassify", "labeled" -> "SELECT * FROM __nb_train")(df)
      .orderBy("doc_id").select("nb_label", "nb_label_bits").collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getLong(1))).toSeq
    assert(out == Seq(("good", -1L), ("bad", 0L), ("bad", -1L), (null, null)),
      out.toString)
    // persistence: the saved parquet model scores identically when loaded
    // with NO labeled table (train once, apply forever)
    val dir = java.nio.file.Files.createTempDirectory("graft_nb").toString
    val saved = stage("nbclassify", "labeled" -> "SELECT * FROM __nb_train",
      "saveModel" -> s"$dir/model")(df).orderBy("doc_id").collect().toSeq
    val loaded = stage("nbclassify", "loadModel" -> s"$dir/model")(df)
      .orderBy("doc_id").collect().toSeq
    assert(saved == loaded)
    // named error without labeled/loadModel; loud on a non-model parquet
    val e = intercept[Exception](stage("nbclassify")(df))
    assert(e.getMessage.contains("labeled"), e.getMessage)
    df.write.mode("overwrite").parquet(s"$dir/notmodel")
    val e2 = intercept[Exception](
      stage("nbclassify", "loadModel" -> s"$dir/notmodel")(df))
    assert(e2.getMessage.contains("not an nbclassify model"), e2.getMessage)
  }

  test("scriptmix: dominant script + exact ratio; supplementary-aware; filters") {
    val df = Seq(
      (1L, "abc я 42"),   // latin 3 vs cyrillic 1 (digits neutral)
      (2L, "𐌰𐌰𐌰 ab"),      // GOTHIC 3 (supplementary plane) vs latin 2
      (3L, "!!! 123"),    // no letters → null script
      (4L, "ab яя")       // 2–2 tie → lexicographically smaller name
    ).toDF("doc_id", "text")
    val out = stage("scriptmix")(df).orderBy("doc_id")
      .select("n_letters", "top_script", "top_ratio").collect()
    assert(out(0).getLong(0) == 4 && out(0).getString(1) == "LATIN" &&
      out(0).getDouble(2) == 0.75)
    assert(out(1).getLong(0) == 5 && out(1).getString(1) == "GOTHIC" &&
      out(1).getDouble(2) == 0.6)
    assert(out(2).getLong(0) == 0 && out(2).isNullAt(1) &&
      out(2).getDouble(2) == 0.0)
    assert(out(3).getString(1) == "CYRILLIC") // CYRILLIC < LATIN on ties
    assert(stage("scriptmix", "minRatio" -> 0.7)(df).count() == 1)
    assert(stage("scriptmix", "expectScript" -> "GOTHIC")(df).count() == 1)
    val e = intercept[Exception](stage("scriptmix")(
      df.withColumnRenamed("doc_id", "top_ratio")))
    assert(e.getMessage.contains("collides"), e.getMessage)
  }

  test("gopherfilter: per-rule flags on constructed pass/fail docs; filter action") {
    val good = ("the quick brown fox jumps over a lazy dog and then runs " +
      "to the hills with great speed because that is what foxes have " +
      "always done when chased by hounds across open fields every day " +
      "more words arrive here to clear the fifty word minimum easily " +
      "now the count is safely past fifty words total in this doc")
    val df = Seq(
      (1L, good),                       // passes everything
      (2L, "too short"),                // word count
      (3L, ("## # ## " * 20) + good),   // symbol ratio (hash-heavy)
      (4L, Seq.fill(10)("- bullet item line").mkString("\n")), // bullets
      (5L, good.split(" ").map(_ => "12345").mkString(" ")),   // no alpha
      (6L, good.replaceAll("\\b(the|be|to|of|and|that|have|with)\\b", "xx"))
    ).toDF("doc_id", "text")
    val out = stage("gopherfilter", "minWords" -> 5)(df).orderBy("doc_id")
    val rows = out.collect()
    def flag(i: Int, c: String) = rows(i).getAs[Boolean](c)
    assert(flag(0, "gopher_keep"))
    assert(!flag(1, "gopher_word_count") && !flag(1, "gopher_keep"))
    assert(!flag(2, "gopher_symbol_ratio"))
    assert(!flag(3, "gopher_bullet_ratio"))
    assert(!flag(4, "gopher_alpha_ratio"))
    assert(!flag(5, "gopher_stopwords"))
    // ellipsis-ended lines
    val ell = Seq((1L, Seq.fill(10)("a line that trails off...").mkString("\n")))
      .toDF("doc_id", "text")
    assert(!stage("gopherfilter", "minWords" -> 5)(ell)
      .head().getAs[Boolean]("gopher_ellipsis_ratio"))
    // action: filter drops failing rows and adds no columns
    val kept = stage("gopherfilter", "minWords" -> 5, "action" -> "filter")(df)
    assert(kept.columns.toSeq == Seq("doc_id", "text"))
    assert(kept.select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("cdcchunk: boundaries move WITH content — prepended text leaves later chunks identical") {
    val base = (1 to 200).map(i => s"tok${i * 37 % 101}").mkString(" ")
    val df = Seq(
      (1L, base),
      (2L, "INSERTED new words at the very front . " + base), // the shift
      (3L, ""), (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = stage("cdcchunk", "divisor" -> 8)(df)
      .select("doc_id", "chunk_index", "chunk_hash", "chunk_tokens").collect()
    val h1 = out.filter(_.getLong(0) == 1L).map(_.getString(2)).toSet
    val h2 = out.filter(_.getLong(0) == 2L).map(_.getString(2)).toSet
    // every chunk of doc1 except (at most) its FIRST survives the prepend:
    // with fixed windows (the `chunk` stage) NOTHING would survive
    val d1 = out.filter(_.getLong(0) == 1L).sortBy(_.getLong(1))
    val surviving = d1.drop(1).map(_.getString(2))
    assert(surviving.nonEmpty && surviving.forall(h2.contains),
      s"CDC shift-tolerance broken: ${surviving.count(h2.contains)}/${surviving.length}")
    // chunks are never empty; indexes dense from 0; tokens sum to doc words
    assert(out.forall(_.getLong(3) >= 1L))
    assert(d1.map(_.getLong(1)).toSeq == d1.indices.map(_.toLong))
    assert(d1.map(_.getLong(3)).sum == 200L)
    // empty / null docs yield no rows
    assert(!out.exists(r => r.getLong(0) >= 3L))
    val e = intercept[Exception](stage("cdcchunk", "divisor" -> 1)(df))
    assert(e.getMessage.contains("divisor"))
  }

  test("piimask: typed entities mask with counts; entity subset; unknown refused") {
    val df = Seq(
      (1L, "mail a@b.io and c.d+x@e.co.uk, ip 10.0.0.1, ssn 123-45-6789, " +
        "card 4111 1111 1111 1111, call +1-555-123-4567 now"),
      (2L, "clean text"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = stage("piimask")(df).orderBy("doc_id").collect()
    val m = out(0).getAs[String]("text")
    assert(m.contains("<EMAIL>") && m.contains("<IP>") && m.contains("<SSN>") &&
      m.contains("<CCN>") && m.contains("<PHONE>"), m)
    assert(!m.contains("@") && !m.contains("10.0.0.1"), m)
    assert(out(0).getAs[Int]("pii_email_n") == 2)
    assert(out(0).getAs[Int]("pii_ipv4_n") == 1)
    assert(out(1).getAs[String]("text") == "clean text")
    assert(out(1).getAs[Int]("pii_email_n") == 0)
    assert(out(2).isNullAt(out(2).fieldIndex("text")))
    // subset: only requested entities mask (ip survives)
    val sub = stage("piimask", "entities" -> Seq("email"), "counts" -> false)(df)
      .orderBy("doc_id").collect()
    assert(sub(0).getAs[String]("text").contains("10.0.0.1"))
    assert(!sub.head.schema.fieldNames.exists(_.startsWith("pii_")))
    val e = intercept[Exception](stage("piimask", "entities" -> Seq("dna"))(df))
    assert(e.getMessage.contains("unknown entities"))
  }

  test("robots: RFC 9309 group precedence, longest-match, wildcards, anchors") {
    import graft.text.Robots
    val txt = "User-agent: graftbot\nDisallow: /a/\nAllow: /a/ok\n" +
      "Disallow: /*.pdf$\nUser-agent: *\nDisallow: /"
    def ok(p: String) = Robots.check(txt, "graftbot", p)
    assert(!ok("/a/x"))
    assert(ok("/a/ok-page"))       // longer allow beats shorter disallow
    assert(ok("/b"))               // specific group eclipses the '*' ban
    assert(!ok("/docs/file.pdf"))  // wildcard + end anchor
    assert(ok("/docs/file.pdf?x")) // anchor: query chars break the match
    // unknown agent falls to '*'
    assert(!Robots.check(txt, "otherbot", "/b"))
    // agent prefix matching: product tokens with versions
    assert(Robots.check(txt, "graftbot/2.1", "/b"))
    // empty-disallow group = allow-all that still eclipses '*'
    val allowAll = "User-agent: graftbot\nDisallow:\nUser-agent: *\nDisallow: /"
    assert(Robots.check(allowAll, "graftbot", "/anything"))
    // allow wins length ties
    assert(Robots.allowed(Seq(Robots.Rule(false, "/p"), Robots.Rule(true, "/p")), "/page"))
    // comments and blank lines are noise; no rules → allowed
    assert(Robots.check("# nothing here\n\n", "graftbot", "/x"))
    // token-boundary matching: a group token is NOT a bare string
    // prefix — 'g' does not govern 'graftbot' (falls to '*'), while
    // 'graftbot' still governs 'graftbot-images' at the '-' boundary
    val prefixy = "User-agent: g\nDisallow: /g-only\n" +
      "User-agent: graftbot\nDisallow: /gb\nUser-agent: *\nDisallow: /star"
    assert(Robots.check(prefixy, "graftbot", "/g-only"))
    assert(!Robots.check(prefixy, "graftbot", "/gb"))
    assert(!Robots.check(prefixy, "graftbot-images", "/gb"))
    assert(!Robots.check(prefixy, "gx", "/star")) // 'g' ≠ token prefix of 'gx'
    // bare '$' pattern: anchors the EMPTY path only — it must not read
    // as disallow-everything
    assert(Robots.check("User-agent: *\nDisallow: $", "graftbot", "/x"))
    assert(!Robots.check("User-agent: *\nDisallow: $", "graftbot", ""))
  }

  test("urlfilter: domain (incl. subdomain) and pattern blocks; filter action") {
    val df = Seq(
      (1L, "https://ok.org/a"),
      (2L, "https://bad.com/x"),
      (3L, "https://deep.sub.bad.com/y"),
      (4L, "https://notbad.com/z"),          // NOT blocked: different domain
      (5L, "https://fine.io/p?track=1"),
      (6L, null.asInstanceOf[String])).toDF("doc_id", "url")
    val out = stage("urlfilter", "blockDomains" -> Seq("bad.com"),
      "blockPatterns" -> Seq("track=1"))(df).orderBy("doc_id")
      .select("doc_id", "url_keep").collect()
    assert(out.map(r => r.getBoolean(1)).toSeq ==
      Seq(true, false, false, true, false, true))
    val kept = stage("urlfilter", "blockDomains" -> Seq("bad.com"),
      "blockPatterns" -> Seq("track=1"), "action" -> "filter")(df)
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 4L, 6L))
    val e = intercept[Exception](stage("urlfilter")(df))
    assert(e.getMessage.contains("blockDomains"))
  }

  test("compressratio: repetitive text scores low, natural text high; nulls flow") {
    val natural = "the quick brown fox jumps over a lazy dog while seven " +
      "wizards brew quartz elixirs beyond misty valleys tonight"
    val df = Seq(
      (1L, natural),
      (2L, "spam ham " * 60),
      (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = stage("compressratio", "minRatio" -> 0.2)(df).orderBy("doc_id").collect()
    val natR = out(0).getAs[Double]("compress_ratio")
    val spamR = out(1).getAs[Double]("compress_ratio")
    assert(natR > 0.2 && natR < 1.5, s"natural ratio $natR")
    assert(spamR < 0.1, s"spam ratio $spamR")
    assert(out(0).getAs[Boolean]("compress_keep"))
    assert(!out(1).getAs[Boolean]("compress_keep"))
    assert(out(2).getAs[Double]("compress_ratio") == 1.0) // empty → neutral
    assert(out(3).isNullAt(out(3).fieldIndex("compress_ratio")))
    // determinism: same input, same ratio, run-to-run
    val again = stage("compressratio")(df).orderBy("doc_id").collect()
    assert(again(0).getAs[Double]("compress_ratio") == natR)
    // bad level fails at plan time
    val e = intercept[Exception](stage("compressratio", "level" -> 0)(df).collect())
    assert(e.getMessage.contains("level"))
  }

  test("c4filter: line rules, page rules, and the filter action swap") {
    val page =
      "A good first line with plenty of words here.\n" +   // retained
      "too short.\n" +                                     // < 5 words
      "A javascript mention drops this entire line fast.\n" + // javascript
      "No terminal punctuation on this long line at all\n" +  // no terminal
      "A second proper sentence with enough words too!\n" +   // retained
      "And a third closing sentence with several words here?" // retained
    val df = Seq(
      (1L, page),                                   // keeps: 3 sentences
      (2L, page + "\nlorem ipsum dolor."),          // lorem page rule
      (3L, page.replaceFirst("\\.", " {.")),        // brace page rule
      (4L, "One lonely good sentence with five words here.") // < 3 sentences
    ).toDF("doc_id", "text")
    val out = stage("c4filter")(df).orderBy("doc_id").collect()
    def flag(i: Int, c: String) = out(i).getAs[Boolean](c)
    assert(flag(0, "c4_keep"))
    assert(out(0).getAs[String]("c4_text") ==
      "A good first line with plenty of words here.\n" +
      "A second proper sentence with enough words too!\n" +
      "And a third closing sentence with several words here?")
    assert(!flag(1, "c4_no_lorem") && !flag(1, "c4_keep"))
    assert(!flag(2, "c4_no_brace") && !flag(2, "c4_keep"))
    assert(!flag(3, "c4_min_sentences") && !flag(3, "c4_keep"))
    // filter action: keeps passing rows with text REPLACED by the clean lines
    val kept = stage("c4filter", "action" -> "filter")(df)
    assert(kept.columns.toSeq == Seq("doc_id", "text"))
    assert(kept.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(kept.select("text").as[String].head().startsWith("A good first line"))
    // null text flows through as null flags, not a crash
    val n = stage("c4filter")(Seq((9L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")).head()
    assert(n.isNullAt(n.fieldIndex("c4_text")))
  }

  test("tokenize: BPE-ish units count words and punctuation separately") {
    val df = Seq((1L, "don't stop, world!")).toDF("doc_id", "text")
    val out = stage("tokenize")(df).head()
    // units: don | ' | t | stop | , | world | ! → 7
    assert(out.getAs[Int]("n_bpeish_tokens") == 7)
    assert(out.getAs[Int]("n_ws_tokens") == 3)
  }

  test("bm25: hand-computed score on a 2-doc corpus; ln and linear agree on rank") {
    // corpus: d1 = "x x y" (dl 3), d2 = "y z" (dl 2); query "x z"
    // N=2, avgdl=2.5; df(x)=1, df(z)=1 → linear idf = (2-1+0.5)/(1+0.5) = 1.0
    // d1: tf(x)=2 → 1.0 * (2*2.2)/(2 + 1.2*(0.25 + 0.75*3/2.5)) = 4.4/(2+1.38)
    // d2: tf(z)=1 → 1.0 * (1*2.2)/(1 + 1.2*(0.25 + 0.75*2/2.5)) = 2.2/(1+1.02)
    val docs = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    def run(mode: String) = stage("bm25", "query" -> "x z", "idfMode" -> mode,
      "k" -> 10)(docs).orderBy("rank")
      .as[(Long, Double, Long)].collect().toSeq
    val lin = run("linear")
    assert(lin.map(_._1) == Seq(1L, 2L))
    assert(math.abs(lin(0)._2 - 4.4 / (2 + 1.2 * (0.25 + 0.75 * (3 / 2.5)))) < 1e-12)
    assert(math.abs(lin(1)._2 - 2.2 / (1 + 1.2 * (0.25 + 0.75 * (2 / 2.5)))) < 1e-12)
    assert(lin.map(_._3) == Seq(1L, 2L))
    // ln mode: same df for both terms → same idf scaling → same ranking
    assert(run("ln").map(_._1) == Seq(1L, 2L))
    // docs matching no query term are absent (d3 below), k caps output
    val more = docs.union(Seq((3L, "w w")).toDF("doc_id", "text"))
    assert(stage("bm25", "query" -> "x z", "k" -> 1)(more).count() == 1L)
  }

  test("bm25: multi-term sum is the fixed-order fold; score ties break by id") {
    // two docs with IDENTICAL text score identically; rank ties break id asc
    val docs = Seq((10L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val out = stage("bm25", "query" -> "a b")(docs).orderBy("rank")
      .as[(Long, Double, Long)].collect().toSeq
    assert(out.map(_._1) == Seq(2L, 10L))
    assert(out(0)._2 == out(1)._2) // bit-identical, not approximately
    val e = intercept[Exception] { stage("bm25", "query" -> "   ")(docs) }
    assert(e.getMessage.contains("query"))
  }

  test("fingerprint: normalization collapses case + whitespace") {
    val df = Seq((1L, "Hello   World"), (2L, "hello world")).toDF("doc_id", "text")
    val out = stage("fingerprint")(df).select("fp_md5").as[String].collect()
    assert(out(0) == out(1))
  }

  test("regexreplace: patterns apply in declared order, all occurrences") {
    val df = Seq((1L, "mail me at a.b@x.co or c@y.io now")).toDF("doc_id", "text")
    val out = stage("regexreplace",
      "patterns" -> Seq(
        Map("pattern" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
            "replacement" -> "<EMAIL>"),
        Map("pattern" -> "\\bnow\\b", "replacement" -> "<T>")),
      "outputField" -> "masked")(df)
      .select("masked").as[String].head()
    assert(out == "mail me at <EMAIL> or <EMAIL> <T>")
  }

  test("ngramcount: top-k by count with ngram tie-break; distinctPerDoc variant") {
    val df = Seq(
      (1L, "a b c a b c"),  // "a b c"×2, "b c a", "c a b"
      (2L, "a b c d")       // "a b c", "b c d"
    ).toDF("doc_id", "text")
    val top = stage("ngramcount", "n" -> 3, "k" -> 3)(df)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(top == Seq("a b c" -> 3L, "b c a" -> 1L, "b c d" -> 1L))
    val dfreq = stage("ngramcount", "n" -> 3, "k" -> 1, "distinctPerDoc" -> true)(df)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(dfreq == Seq("a b c" -> 2L))
  }

  test("decontaminate: drops docs sharing an n-gram with the eval set; mark mode flags") {
    val mk = (from: Int, to: Int) => (from to to).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, mk(1, 20)),     // shares 1..20 with eval -> contaminated
      (2L, mk(100, 120)),  // disjoint -> clean
      (3L, mk(15, 35)),    // overlaps eval's 15..25 window -> contaminated
      (4L, mk(200, 220))   // disjoint -> clean
    ).toDF("doc_id", "text")
    df.sparkSession.sql("DROP VIEW IF EXISTS decon_eval")
    Seq((100L, mk(10, 25))).toDF("eid", "text").createOrReplaceTempView("decon_eval")
    val dropped = stage("decontaminate", "shingleSize" -> 5,
      "against" -> "SELECT text FROM decon_eval")(df)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(dropped == Seq(2L, 4L))
    val marked = stage("decontaminate", "shingleSize" -> 5, "mode" -> "mark",
      "against" -> "SELECT text FROM decon_eval")(df)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(marked == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
    // WITH-prefixed `against` routes to spark.sql, not table lookup
    val withCte = stage("decontaminate", "shingleSize" -> 5,
      "against" -> "WITH e AS (SELECT text FROM decon_eval) SELECT text FROM e")(df)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(withCte == Seq(2L, 4L))
    // score mode: exact distinct-shingle overlap fractions. doc 1 has
    // 16 distinct 5-gram shingles over w1..w20; those inside eval's
    // w10..w25 window are the ones starting at w10..w16 → 7/16. doc 3
    // (w15..w35, 17 shingles) matches starts w15..w21 ∩ eval starts
    // ≤ w21 → shingles w15..w21 fully inside w10..w25 means start ≥ 15
    // and start+4 ≤ 25 → starts 15..21 = 7 → 7/17. disjoint docs 0.0.
    val scored = stage("decontaminate", "shingleSize" -> 5, "mode" -> "score",
      "against" -> "SELECT text FROM decon_eval")(df)
      .select("doc_id", "contamination").as[(Long, Double)].collect().toMap
    assert(scored == Map(1L -> 7.0 / 16.0, 2L -> 0.0,
      3L -> 7.0 / 17.0, 4L -> 0.0))
  }

  test("readability: deterministic word/sentence/syllable counts and Flesch score") {
    val df = Seq(
      (1L, "The cat sat. The dog ran!"),        // 6 words, 2 sentences
      (2L, "Incomprehensibilities everywhere"), // in-com-pre-hen-si-bi-li-ties = 8 groups
      (3L, ""),                                  // blank: zero counts, null score
      (4L, "xyz 123"))                           // vowel-less words floor at 1 syllable
      .toDF("doc_id", "text")
    val out = stage("readability")(df)
      .select("doc_id", "n_words", "n_sentences", "n_syllables", "flesch_score")
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // doc 1 syllables: the(1) cat(1) sat.(1) the(1) dog(1) ran!(1) = 6
    assert(out(1L) == ((6L, 2L, 6L,
      Some(206.835 - 1.015 * (6.0 / 2.0) - 84.6 * (6.0 / 6.0)))))
    // doc 2: 2 words, 1 sentence (no terminator still floors at 1).
    // Vowel groups: incomprehensibilities → i,o,e,e,i,i,i,ie = 8
    // (trailing i+e merge into one group); everywhere → e,e,y,e,e = 5
    assert(out(2L)._1 == 2L && out(2L)._2 == 1L && out(2L)._3 == 8L + 5L)
    assert(out(3L) == ((0L, 1L, 0L, None)))
    assert(out(4L) == ((2L, 1L, 2L,
      Some(206.835 - 1.015 * (2.0 / 1.0) - 84.6 * (2.0 / 2.0)))))
  }

  test("retrievaleval: hits@k, precision@k and MRR with deterministic tie-break") {
    // q1: relevant docs at ranks 2 and 4 (scores desc, ties by doc asc);
    // q2: no relevant candidate; q3: relevant exactly at rank 1
    val df = Seq(
      ("q1", "d1", 9.0, 0), ("q1", "d2", 8.0, 1), ("q1", "d3", 8.0, 0),
      ("q1", "d4", 7.0, 1), ("q1", "d5", 6.0, 0),
      ("q2", "d1", 5.0, 0), ("q2", "d2", 4.0, 0),
      ("q3", "d9", 1.0, 1))
      .toDF("query_id", "doc_id", "score", "label")
    val out = stage("retrievaleval", "k" -> 3)(df)
      .select("query_id", "hits_at_k", "precision_at_k", "mrr")
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("q1") == ((1L, 1.0 / 3.0, 1.0 / 2.0))) // d2 ties d3, doc asc wins
    assert(out("q2") == ((0L, 0.0, 0.0)))
    assert(out("q3") == ((1L, 1.0 / 3.0, 1.0)))
    // rank-4 relevance is outside k=3 for q1's precision but MRR uses
    // the GLOBAL first relevant rank (2 here) regardless of k
    val k1 = stage("retrievaleval", "k" -> 1)(df)
      .where(col("query_id") === "q1")
      .select("hits_at_k", "precision_at_k", "mrr")
      .as[(Long, Double, Double)].head()
    assert(k1 == ((0L, 0.0, 1.0 / 2.0)))
  }

  test("retrievaleval: ndcg_at_k from fixed-point integer discounts") {
    val w = graft.similarity.SimilarityStages.ndcgWeights(3)
    assert(w == Seq(1000000L, 630930L, 500000L)) // round(1e6/log2(i+1))
    // q1: relevant at ranks 2 and 3 → dcg = w2+w3, ideal (2 relevant)
    // = w1+w2; q2: nothing relevant → 0.0 by convention
    val df = Seq(
      ("q1", "d1", 3.0, 0), ("q1", "d2", 2.0, 1), ("q1", "d3", 1.0, 1),
      ("q2", "d1", 5.0, 0))
      .toDF("query_id", "doc_id", "score", "label")
    val out = stage("retrievaleval", "k" -> 3, "ndcg" -> true)(df)
      .select("query_id", "ndcg_at_k").as[(String, Double)].collect().toMap
    assert(out("q1") == (w(1) + w(2)).toDouble / (w(0) + w(1)).toDouble)
    assert(out("q2") == 0.0)
    // ideal ranking scores exactly 1.0 (dcg == idcg, same integers)
    val ideal = Seq(("q", "d1", 2.0, 1), ("q", "d2", 1.0, 0))
      .toDF("query_id", "doc_id", "score", "label")
    assert(stage("retrievaleval", "k" -> 3, "ndcg" -> true)(ideal)
      .select("ndcg_at_k").as[Double].head() == 1.0)
    // MORE relevant docs than k: ideal truncates at k (least(nrel, k))
    val many = (1 to 5).map(i => ("q", s"d$i", 10.0 - i, 1))
      .toDF("query_id", "doc_id", "score", "label")
    assert(stage("retrievaleval", "k" -> 3, "ndcg" -> true)(many)
      .select("ndcg_at_k").as[Double].head() == 1.0)
    // default stays the three-metric schema — no ndcg column
    assert(!stage("retrievaleval", "k" -> 3)(df)
      .columns.contains("ndcg_at_k"))
  }

  test("retrievaleval: map_at_k exact via LCM fixed-point; k bound guard") {
    // q1 (k=3): relevant at ranks 1 and 3 → AP = (1/1 + 2/3)/2 = 5/6;
    // q2: relevant at rank 2 only → AP = (1/2)/1; q3: none → 0.0
    val df = Seq(
      ("q1", "d1", 3.0, 1), ("q1", "d2", 2.0, 0), ("q1", "d3", 1.0, 1),
      ("q2", "d1", 5.0, 0), ("q2", "d2", 4.0, 1),
      ("q3", "d1", 1.0, 0))
      .toDF("query_id", "doc_id", "score", "label")
    val out = stage("retrievaleval", "k" -> 3, "map" -> true)(df)
      .select("query_id", "map_at_k").as[(String, Double)].collect().toMap
    // LCM(1..3)=6: apn(q1) = 1·6 + 2·2 = 10, denom = 2·6 → 10/12
    assert(out("q1") == 10.0 / 12.0)
    assert(out("q2") == 0.5)
    assert(out("q3") == 0.0)
    // more relevant than k: denominator truncates at k
    val many = (1 to 5).map(i => ("q", s"d$i", 10.0 - i, 1))
      .toDF("query_id", "doc_id", "score", "label")
    assert(stage("retrievaleval", "k" -> 3, "map" -> true)(many)
      .select("map_at_k").as[Double].head() == 1.0)
    // the exactness envelope is enforced, not silent
    assert(intercept[Exception](stage("retrievaleval", "k" -> 31,
      "map" -> true)(df)).getMessage.contains("30"))
    assert(!stage("retrievaleval", "k" -> 3)(df).columns.contains("map_at_k"))
  }

  test("datasplit: deterministic, key-stable, fractions approximately honored") {
    val df = (0L until 2000L).toDF("doc_id")
    val opts = Seq("keyField" -> "doc_id", "salt" -> "s1",
      "splits" -> Seq(
        Map("name" -> "train", "fraction" -> 0.8),
        Map("name" -> "val", "fraction" -> 0.1),
        Map("name" -> "test", "fraction" -> 0.1)))
    val a = stage("datasplit", opts: _*)(df).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = stage("datasplit", opts: _*)(df.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b, "split must not depend on partitioning")
    val counts = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(counts("train") - 1600) < 120, s"counts=$counts")
    assert(math.abs(counts("val") - 200) < 60, s"counts=$counts")
    assert(math.abs(counts("test") - 200) < 60, s"counts=$counts")
    // growing the dataset never moves existing keys between splits
    val grown = stage("datasplit", opts: _*)((0L until 4000L).toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a.forall { case (k, v) => grown(k) == v })
  }

  test("kfold: folds partition the bucket space; holdout role; validation") {
    val df = (0L until 2000L).toDF("doc_id")
    val out = stage("kfold", "k" -> 4, "salt" -> "cv", "holdout" -> 1)(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.forall { case (_, f, _) => f >= 0 && f < 4 })
    assert(out.forall { case (_, f, role) =>
      role == (if (f == 1) "test" else "train") })
    // every fold is populated and roughly balanced
    val sizes = out.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.keySet == Set(0L, 1L, 2L, 3L))
    assert(sizes.values.forall(n => math.abs(n - 500) < 150), sizes.toString)
    // repartitioning never moves a key's fold
    val b = stage("kfold", "k" -> 4, "salt" -> "cv")(df.repartition(7))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.forall { case (id, f, _) => b(id) == f })
    // fold agrees with datasplit's md5 bucket arithmetic (one authority)
    val e1 = intercept[Exception](stage("kfold", "k" -> 1)(df))
    assert(e1.getMessage.contains("k must be"))
    val e2 = intercept[Exception](stage("kfold", "k" -> 4, "holdout" -> 9)(df))
    assert(e2.getMessage.contains("holdout"))
  }

  test("hashsample: deterministic subset of the datasplit bucket space") {
    val df = (0L until 2000L).toDF("doc_id")
    val kept = stage("hashsample", "keyField" -> "doc_id", "fraction" -> "0.25")(df)
      .select("doc_id").as[Long].collect().toSet
    assert(math.abs(kept.size - 500) < 80, s"kept ${kept.size}")
    val again = stage("hashsample", "keyField" -> "doc_id", "fraction" -> "0.25")(df)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == again)
    // monotone: a larger fraction keeps a superset
    val more = stage("hashsample", "keyField" -> "doc_id", "fraction" -> "0.5")(df)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.subsetOf(more))
  }

  test("hashsample probExpr: weighted, deterministic, monotone in probability") {
    val df = (0L until 2000L).map(i => (i, (i % 100).toDouble / 100.0))
      .toDF("doc_id", "q")
    val kept = stage("hashsample", "keyField" -> "doc_id",
      "probField" -> "q")(df).select("doc_id").as[Long].collect().toSet
    // expected ≈ Σ p ≈ 2000 · 0.495
    assert(math.abs(kept.size - 990) < 120, s"kept ${kept.size}")
    // p=0 rows can never survive; p close to 1 nearly always do
    assert(!kept.exists(_ % 100 == 0), "p=0 rows must be dropped")
    // deterministic rerun
    val again = stage("hashsample", "keyField" -> "doc_id",
      "probField" -> "q")(df).select("doc_id").as[Long].collect().toSet
    assert(kept == again)
    // probabilities outside [0,1] clamp instead of corrupting the cut
    val all = stage("hashsample", "keyField" -> "doc_id",
      "probExpr" -> "9.9")(df).count()
    assert(all == 2000L)
  }

  test("zorder: bit interleave matches hand values; sort is one range exchange") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 3L), (-5L, 2L))
      .toDF("x", "y")
    val z = stage("zorder", "columns" -> Seq("x", "y"), "bits" -> 4)(df)
      .select("x", "y", "zvalue").as[(Long, Long, Long)].collect()
      .map { case (x, y, zv) => (x, y) -> zv }.toMap
    // column 0 occupies even bit positions, column 1 odd
    assert(z((0L, 0L)) == 0L)
    assert(z((1L, 0L)) == 1L)
    assert(z((0L, 1L)) == 2L)
    assert(z((1L, 1L)) == 3L)
    assert(z((2L, 3L)) == 14L) // x=10b → bits 0,4: 100b; y=11b → bits 1,3: 1010b
    assert(z((-5L, 2L)) == 8L, "negatives clamp to 0 (x→0, y=10b → bit at pos 3)")
    // sort mode: exactly one range exchange + in-partition sort (no global sort)
    val plan = stage("zorder", "columns" -> Seq("x", "y"), "bits" -> 4,
      "sort" -> true, "partitions" -> 3)(df).queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), s"expected range partitioning:\n$plan")
    assert(!plan.contains("global=true"), s"must not plan a global sort:\n$plan")
    // bit-budget guard
    val e = intercept[Exception](stage("zorder",
      "columns" -> Seq("x", "y"), "bits" -> 40)(df).collect())
    assert(e.getMessage.contains("63-bit"), e.getMessage)
  }

  test("pack: two-phase distributed prefix sum equals the sequential pack") {
    // tokens chosen so chunks straddle partition boundaries
    val rows = (0L until 100L).map(i => (i, 7L + (i % 13)))
    val df = rows.toDF("doc_id", "n_tokens")
    def sequential(budget: Long): Seq[(Long, Long, Long)] = {
      var cum = 0L
      rows.map { case (id, t) =>
        val r = (id, cum / budget, cum % budget); cum += t; r
      }
    }
    for (nPart <- Seq(1, 3, 8)) {
      val out = stage("pack", "orderField" -> "doc_id",
        "tokenField" -> "n_tokens", "budget" -> 37, "partitions" -> nPart)(df)
        .select("doc_id", "chunk_id", "chunk_offset").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(out == sequential(37L), s"nPart=$nPart")
    }
  }

  test("repetition: top-token and distinct ratios on known strings") {
    val df = Seq(
      (1L, "a a a b"),     // top 'a' 3/4, distinct 2/4
      (2L, "x y z"),       // top 1/3, distinct 3/3
      (3L, "w w w w")      // top 4/4, distinct 1/4
    ).toDF("doc_id", "text")
    val out = stage("repetition")(df).orderBy("doc_id")
      .select("rep_top_token_ratio", "rep_distinct_ratio")
      .as[(Double, Double)].collect().toSeq
    assert(out == Seq((0.75, 0.5), (1.0 / 3, 1.0), (1.0, 0.25)))
  }

  // -------------------------------------------------------------- similarity
  test("kmeans: separates constructed orthogonal groups; nulls unassigned") {
    // two orthogonal directions with small jitter → k=2 must split them
    val rows = (0 until 10).map { i =>
      val v = if (i % 2 == 0) Seq(1.0f, 0.01f * i, 0f, 0f)
              else Seq(0f, 0.01f * i, 1.0f, 0f)
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
      .union(Seq((99L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    val out = stage("kmeans", "k" -> 2, "field" -> "embedding")(df)
      .select("vec_id", "cluster").as[(Long, Option[Long])].collect().toMap
    assert(out(99L).isEmpty) // null vector → null cluster
    val evens = (0 until 10 by 2).map(i => out(i.toLong).get).toSet
    val odds = (1 until 10 by 2).map(i => out(i.toLong).get).toSet
    assert(evens.size == 1 && odds.size == 1 && evens != odds)
    // deterministic across evaluations (driver-trained literal codebook)
    val again = stage("kmeans", "k" -> 2, "field" -> "embedding")(df)
      .select("vec_id", "cluster").as[(Long, Option[Long])].collect().toMap
    assert(again == out)
  }

  test("kmeans centroid persistence: save/load assigns identically, no retrain drift") {
    val rows = (0 until 12).map { i =>
      val v = if (i % 3 == 0) Seq(1.0f, 0.02f * i, 0f)
              else if (i % 3 == 1) Seq(0f, 1.0f, 0.02f * i)
              else Seq(0.02f * i, 0f, 1.0f)
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val model = java.nio.file.Files.createTempDirectory("graft_km_model")
      .resolve("centroids.txt").toString
    val trained = stage("kmeans", "k" -> 3, "saveCentroids" -> model)(df)
      .select("vec_id", "cluster", "centroid_sim")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(new java.io.File(model).length() > 0)
    // loading the exported centroids reproduces clusters AND sims exactly,
    // even on a DIFFERENT input frame (two rows dropped — a retrain would
    // shift centroids; the loaded model must not)
    val loaded = stage("kmeans", "loadCentroids" -> model)(df.where(col("vec_id") < 10))
      .select("vec_id", "cluster", "centroid_sim")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(loaded == trained.filter(_._1 < 10))
    val e = intercept[Exception](stage("kmeans", "loadCentroids" -> "/no/such.txt")(df))
    assert(e.getMessage.contains("loadCentroids"))
    // config variables resolve in both paths, a file: URI included
    val dir = java.nio.file.Files.createTempDirectory("graft_km_var").toString
    val ctx = newCtx()
    ctx.vars.put("out", s"file:$dir")
    def kmeans(opts: (String, Any)*) =
      graft.engine.Engine.transformers("kmeans")(ComponentSpec("kmeans", opts.toMap), ctx)
    kmeans("k" -> 3, "saveCentroids" -> "$out/c.txt")(df).collect()
    assert(new java.io.File(s"$dir/c.txt").isFile)
    val viaVar = kmeans("loadCentroids" -> "$out/c.txt")(df.where(col("vec_id") < 10))
      .select("vec_id", "cluster", "centroid_sim")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(viaVar == loaded)
  }

  test("semanticdedup: keeps min id per near-dup group; pairs mode; guard fires") {
    // group A: ids 1,2,3 nearly parallel; group B: ids 10,11 parallel on
    // an orthogonal axis; id 20 isolated
    def v(base: Seq[Float], eps: Float) =
      base.zipWithIndex.map { case (x, i) => if (i == 3) x + eps else x }
    val a = Seq(1f, 0f, 0f, 0f)
    val b = Seq(0f, 1f, 0f, 0f)
    val df = Seq(
      (1L, v(a, 0.01f)), (2L, v(a, 0.02f)), (3L, v(a, 0.03f)),
      (10L, v(b, 0.01f)), (11L, v(b, 0.02f)),
      (20L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val kept = stage("semanticdedup", "k" -> 3, "threshold" -> 0.99,
      "nProbe" -> 2)(df)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 10L, 20L))
    val pairs = stage("semanticdedup", "k" -> 3, "threshold" -> 0.99,
      "nProbe" -> 2, "emit" -> "pairs")(df)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)))
    // the cell-size guard is IN-PLAN (r18: the eager max-cell `.head()`
    // job is gone) — it fires on the ACTION, not at stage-build, and
    // rides the window count over the same cell exchange the self-join
    // needs anyway
    // (emit=pairs keeps the whole stage lazy — emit=dedup's CC loop
    // would materialize, and fire the guard, during stage build)
    val guarded = stage("semanticdedup", "k" -> 1, "nProbe" -> 1,
      "maxClusterRows" -> 3, "emit" -> "pairs")(df) // no exception yet
    val e = intercept[Exception] { guarded.collect() }
    assert(e.getMessage.contains("maxClusterRows"))
    // emit=dedup surfaces the same guard from its build-time CC loop
    val e2 = intercept[Exception] {
      stage("semanticdedup", "k" -> 1, "nProbe" -> 1,
        "maxClusterRows" -> 3)(df).collect()
    }
    assert(e2.getMessage.contains("maxClusterRows"))
    // plan-build runs the SAME jobs with and without the guard (the
    // k-means training sample is inherent; the guard must add none)
    val without = QueryMeter.jobsOf(spark) {
      stage("semanticdedup", "k" -> 3, "maxClusterRows" -> 0,
        "emit" -> "pairs")(df) }
    val withGuard = QueryMeter.jobsOf(spark) {
      stage("semanticdedup", "k" -> 3, "maxClusterRows" -> 100,
        "emit" -> "pairs")(df) }
    assert(withGuard == without,
      s"guard must add no plan-build job: $withGuard vs $without")
  }

  test("semanticdedup two-level assignment (k > 128): planted pairs still found") {
    // k = 150 crosses FlatScanMax, so assignment prunes through the
    // √k coarse scan — the path the 100× stress exercises but no
    // driver query does (their k is small). 600 deterministic vectors,
    // 1-in-3 planted near-identical partners; recall of the planted
    // pairs through coarse pruning + multi-probe must stay high.
    val dim = 16
    def vec(seed: Long): Seq[Float] = {
      val r = new scala.util.Random(seed * 40503L + 17)
      Seq.fill(dim)((r.nextDouble() * 2 - 1).toFloat)
    }
    val rows = (0L until 600L).map { id =>
      val base = if (id % 3 == 1) id - 1 else id
      val v = vec(base)
      (id, if (id % 3 == 1) v.updated(0, v(0) + 0.001f) else v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val planted = (0L until 600L).filter(_ % 3 == 1).map(id => (id - 1, id)).toSet
    val found = stage("semanticdedup", "k" -> 150, "nProbe" -> 2,
      "threshold" -> 0.999, "emit" -> "pairs")(df)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // every found pair must be a planted one (threshold 0.999 on
    // random vectors leaves no accidental near-dups)
    assert(found.subsetOf(planted), (found -- planted).toString)
    val recall = found.size.toDouble / planted.size
    assert(recall >= 0.8,
      f"two-level coarse pruning recall $recall%.3f < 0.8 " +
      s"(${found.size}/${planted.size} planted pairs)")
  }

  test("similarity brute top-k: exact ranking on constructed vectors") {
    val df = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0f, 1f)), (4L, Array(-1f, 0f))).toDF("vec_id", "embedding")
    val out = stage("similarity", "k" -> 3, "queryFilter" -> "vec_id = 1")(df)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("n_id")).toSeq == Seq(2L, 3L, 4L))
    // expected value computed through the same float→double widening the
    // engine applies to the float[] column
    val (x, y) = (0.9f.toDouble, 0.1f.toDouble)
    assert(math.abs(out(0).getAs[Double]("cosine") -
      (x / math.sqrt(x * x + y * y))) < 1e-12)
  }

  test("native ArrayDot == HOF dot, bit-exact, on fixture embeddings") {
    val emb = newCtx().table("embeddings")
    val pairs = emb.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("b")),
        col("a_id") < col("b_id"))
      .limit(2000)
    val diff = pairs.select(
      SimilarityStages.dot(col("a"), col("b")).as("native"),
      SimilarityStages.dotHof(col("a"), col("b")).as("hof"))
      .where(col("native") =!= col("hof")).count()
    assert(diff == 0) // same left-to-right double accumulation order
  }

  test("native SrpSig == HOF srpSignature, bit-exact, on fixture embeddings") {
    val emb = newCtx().table("embeddings")
    // cover a non-default shape too (nBits not a multiple of 8, dim
    // shorter than the vectors so the tail-truncation path runs)
    for ((nBits, dim) <- Seq((16, 64), (13, 7))) {
      val diff = emb.select(
        SimilarityStages.srpSignature(col("embedding"), nBits, dim).as("native"),
        SimilarityStages.srpSignatureHof(col("embedding"), nBits, dim).as("hof"))
        .where(col("native") =!= col("hof")).count()
      assert(diff == 0, s"nBits=$nBits dim=$dim")
    }
  }

  test("native JlProject == HOF jl projection, bit-exact, incl. null contracts") {
    def diffCount(df: org.apache.spark.sql.DataFrame, vec: String,
                  k: Int, scale: Double, seed: Long): Long =
      df.select(
        graft.functions.VectorExpressions.jlProject(col(vec), k, scale, seed).as("native"),
        SimilarityStages.jlProjectHof(col(vec), k, scale, seed).as("hof"))
        .where(!(col("native") <=> col("hof"))).count()
    // fixture floats at the declared query's shape and a non-default one
    val emb = newCtx().table("embeddings")
    assert(diffCount(emb, "embedding", 8, 1e6, 0L) == 0)
    assert(diffCount(emb, "embedding", 5, 1e3, 7L) == 0)
    // doubles with the null contracts (null array / null element → k
    // nulls), negatives, and exact .5 halves (HALF_UP rounds away from
    // zero on both paths — Math.round would diverge on -2.5). Empty
    // arrays are NOT covered: the HOF form's element_at errors on them
    // (ANSI out-of-bounds), so no declared query can feed one.
    val edge = Seq(
      Seq(1.5, -2.5, 0.5, -0.5),
      Seq(3.25, -7.75, 2.0),
      Seq[Any](1.0, null, 3.0).map(Option(_).map(_.asInstanceOf[Double])),
      null
    )
    val edgeDf = spark.createDataFrame(
      spark.sparkContext.parallelize(edge.map(v => org.apache.spark.sql.Row(v match {
        case s: Seq[_] => s.map { case Some(d: Double) => d; case None => null; case d: Double => d }
        case other => other
      }))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = true)))))
    assert(diffCount(edgeDf, "v", 4, 1.0, 0L) == 0)
    assert(diffCount(edgeDf, "v", 3, 10.0, 11L) == 0)
  }

  test("topk heap aggregate ≡ window row_number (ties break on id asc)") {
    // scores with deliberate duplicates across ids, several groups,
    // groups smaller and larger than k
    val rows = for (q <- 0L until 7L; n <- 0L until 23L if n != q)
      yield (q, n, ((n * 7 + q) % 5).toDouble) // many exact ties
    val scored = rows.toDF("q_id", "n_id", "cosine")
    val k = 4
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id").asc)
    val windowed = scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cosine")
      .orderBy("q_id", "rank").collect().toSeq
    val heaped = scored.groupBy("q_id")
      .agg(graft.functions.VectorExpressions.topK(col("cosine"), col("n_id"), k).as("t"))
      .select(col("q_id"), posexplode(col("t")).as(Seq("p", "e")))
      .select(col("q_id"), col("e.id").as("n_id"),
        (col("p") + 1).cast("int").as("rank"), col("e.score").as("cosine"))
      .orderBy("q_id", "rank").collect().toSeq
    assert(heaped == windowed)
  }

  test("similarity LSH: recall vs brute force on fixture embeddings") {
    val ctx = newCtx()
    val emb = ctx.table("embeddings")
    val brute = SimilarityStages.topk(
      emb.where("vec_id < 10"), emb, "vec_id", "embedding", 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val approx = stage("similaritylsh", "k" -> 5, "nBits" -> 16, "bands" -> 8)(emb)
      .where("q_id < 10").select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect approx).size.toDouble / brute.size
    assert(recall > 0.5, s"LSH recall too low: $recall") // 8 bands of 2 bits
  }

  test("similarity IVF: recall vs brute force on fixture embeddings") {
    val ctx = newCtx()
    val emb = ctx.table("embeddings")
    val brute = SimilarityStages.topk(
      emb.where("vec_id < 10"), emb, "vec_id", "embedding", 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val approx = stage("similarityivf", "k" -> 5, "nCells" -> 8, "nProbe" -> 4)(emb)
      .where("q_id < 10").select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect approx).size.toDouble / brute.size
    assert(recall > 0.4, s"IVF recall too low: $recall") // probing half the cells
  }

  test("similarity IVF queryTable: cross-table recall vs brute cross, no broadcast hint") {
    val ctx = newCtx()
    val emb = ctx.table("embeddings")
    val base = emb.where("vec_id >= 50")
    val brute = SimilarityStages.topk(
      emb.where("vec_id < 10"), base, "vec_id", "embedding", 5,
      excludeSelf = false)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val out = stage("similarityivf", "k" -> 5, "nCells" -> 8, "nProbe" -> 4,
      "queryTable" -> "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10")(base)
    val approx = out.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect approx).size.toDouble / brute.size
    assert(recall > 0.4, s"IVF cross recall too low: $recall")
    // the scale contract: NEITHER side is hint-broadcast (the brute
    // stage's role flip does hint — IVF meets on the cell equi-join)
    assert(!out.queryExecution.logical.toString.contains("ResolvedHint"),
      "cross-table IVF must not broadcast either side")
  }

  test("similarity IVF queryTable: self-exclusion off — identical ids match rank 1") {
    val ctx = newCtx()
    val emb = ctx.table("embeddings")
    // query namespace OVERLAPS the base: vec_id < 5 on both sides.
    // excludeSelf must be off in cross-table mode, so each query's own
    // row (cosine 1.0) is an eligible neighbor.
    val out = stage("similarityivf", "k" -> 3, "nCells" -> 4, "nProbe" -> 4,
      "queryTable" -> "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5")(
      emb.where("vec_id < 50"))
    val self = out.where("q_id = n_id").select("q_id", "rank")
      .as[(Long, Int)].collect().toMap
    assert(self.keySet == Set(0L, 1L, 2L, 3L, 4L),
      s"every query must find its own base row: $self")
    assert(self.values.forall(_ == 1), s"self hit must rank first: $self")
  }

  test("similarity IVF-PQ queryTable: cross-table shortlist re-rank recall") {
    val ctx = newCtx()
    val emb = ctx.table("embeddings")
    val base = emb.where("vec_id >= 50")
    val brute = SimilarityStages.topk(
      emb.where("vec_id < 10"), base, "vec_id", "embedding", 5,
      excludeSelf = false)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val approx = stage("similarityivf", "k" -> 5, "nCells" -> 8, "nProbe" -> 4,
      "pqM" -> 16, "pqK" -> 16, "refine" -> 8,
      "queryTable" -> "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10")(base)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect approx).size.toDouble / brute.size
    assert(recall > 0.4, s"IVF-PQ cross recall too low: $recall")
  }

  test("cosinedup/similaritylsh: uniform-density guard fails fast, opt-out works") {
    val ctx = newCtx()
    val emb = ctx.table("embeddings")
    // 2 bits/band and maxAvgBucket=1 → cap of 4 rows: must fail fast
    // naming the quadratic blowup, BEFORE building the band join
    val e = intercept[IllegalArgumentException](
      stage("cosinedup", "nBits" -> 8, "bands" -> 4, "maxAvgBucket" -> 1)(emb))
    assert(e.getMessage.contains("quadratic"))
    val e2 = intercept[IllegalArgumentException](
      stage("similaritylsh", "nBits" -> 8, "bands" -> 4, "maxAvgBucket" -> 1)(emb))
    assert(e2.getMessage.contains("quadratic"))
    // explicit opt-out restores the dense-bucket behavior
    assert(stage("cosinedup", "nBits" -> 8, "bands" -> 4, "maxAvgBucket" -> 0,
      "threshold" -> 0.99)(emb).count() >= 0)
  }

  test("similarity: INT-typed id column takes the heap top-k path (lossless widen)") {
    val ctx = newCtx()
    val emb = ctx.table("embeddings").where("vec_id < 30")
      .selectExpr("CAST(vec_id AS INT) AS vec_id", "embedding")
    val out = stage("similarity", "k" -> 3)(emb)
    assert(out.where("q_id = 0").count() == 3)
    // heap path, not the window fallback: no Window node in the plan
    assert(!out.queryExecution.optimizedPlan.toString.contains("windowspecdefinition"))
  }

  test("similarity IVF: string-id corpus works (no integral-id restriction)") {
    val ctx = newCtx()
    val emb = ctx.table("embeddings").where("vec_id < 50")
      .selectExpr("concat('doc-', vec_id) AS vec_id", "embedding")
    val out = stage("similarityivf", "k" -> 3, "nCells" -> 4, "nProbe" -> 2)(emb)
    assert(out.schema("q_id").dataType == org.apache.spark.sql.types.StringType)
    val rows = out.where("q_id = 'doc-0'").collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[String]("n_id").startsWith("doc-")))
  }

  test("trainCodebook: deterministic spherical k-means separates clusters") {
    // two obvious directions plus noise dimensions
    def v(dir: Int, j: Int): Array[Double] =
      Array.tabulate(4)(d =>
        (if (d == dir) 10.0 else 0.0) + (j % 3) * 0.1)
    val sample = (0 until 40).map(j => v(j % 2, j)).toArray
    val cb1 = SimilarityStages.trainCodebook(sample, 2, 3)
    val cb2 = SimilarityStages.trainCodebook(sample.map(_.clone()), 2, 3)
    assert(cb1.length == 2)
    // determinism: bit-identical across runs
    assert(cb1.zip(cb2).forall { case (a, b) => a.sameElements(b) })
    // each centroid is unit-norm and dominated by one cluster's axis
    cb1.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-12)
    }
    assert(cb1.map(_.zipWithIndex.maxBy(_._1)._2).toSet == Set(0, 1))
    // an emptied cell keeps its previous centroid rather than NaN-ing
    val one = Array(Array(1.0, 0.0))
    val cbOne = SimilarityStages.trainCodebook(one ++ one, 2, 2)
    assert(cbOne.forall(_.forall(d => !d.isNaN)))
  }

  // -------------------------------------------------------------- multimodal
  // (deep real-image decode is covered in MultimodalSpec; this exercises
  // the attach → decode → resize → frames PIPELINE shape on a real GIF)
  test("mm pipeline: attach → decode → resize → frames over real GIF bytes") {
    import graft.multimodal.MediaFixtures
    val id = 4L // id % 5 == 4 → animated GIF with 1 + id % 6 = 5 frames
    val df = Seq((id, MediaFixtures.payload(id))).toDF("doc_id", "payload")
    val decoded = stage("mm_decode")(df)
    val m = decoded.head()
    assert(m.getAs[Int]("width") == MediaFixtures.width(id) &&
           m.getAs[Int]("height") == MediaFixtures.height(id))
    assert(m.getAs[Int]("n_frames") == 5)
    val resized = stage("mm_resize", "maxWidth" -> 22, "maxHeight" -> 999)(decoded).head()
    assert(resized.getAs[Int]("out_width") == 22) // aspect preserved
    val frames = stage("mm_frames", "step" -> 2)(decoded)
    assert(frames.select("frame_idx").as[Int].collect().sorted.toSeq == Seq(0, 2, 4))
    // the stub decoder is retired — asking for it names the real paths
    val e = intercept[Exception] { stage("mm_decode", "decoder" -> "stub")(df).collect() }
    assert(e.getMessage.contains("retired"), e.getMessage)
  }

  test("LINKLIST + CREATE: stub rows from array ELEMENTS, all resolve") {
    val ctx = newCtx()
    ctx.registerTable("cdim", Seq(10L, 20L).toDF("k"))
    val df = Seq((1L, Seq(10L, 99L)), (2L, Seq(77L, 20L))).toDF("id", "fks")
    val out = graft.stages.LookupStages.link(ComponentSpec("link", Map(
      "joinFieldName" -> "fks", "lookup" -> "cdim.k", "type" -> "LINKLIST",
      "linkFieldName" -> "links", "unresolvedLinkAction" -> "CREATE")), ctx)(df)
    val byId = out.select("id", "links").as[(Long, Seq[Long])].collect().toMap
    assert(byId(1L) == Seq(10L, 99L)) // 99 resolved via its stub, order kept
    assert(byId(2L) == Seq(77L, 20L))
    assert(ctx.table("cdim").count() == 4) // two stubs inserted
  }

  // ----------------------------------------- LINKLIST policy matrix (VERDICT)
  test("LINKLIST: order preserved, unresolved handling per policy") {
    val ctx = newCtx()
    ctx.registerTable("dim", Seq(10L, 20L, 30L).toDF("k"))
    val df = Seq(
      (1L, Seq(30L, 10L, 20L)),   // all resolve — order must be preserved
      (2L, Seq(10L, 99L, 30L)),   // one dangling element
      (3L, Seq(77L, 88L))         // nothing resolves
    ).toDF("id", "fks")
    def run(action: String) = {
      val c = newCtx(); c.registerTable("dim", Seq(10L, 20L, 30L).toDF("k"))
      (c, graft.stages.LookupStages.link(ComponentSpec("link", Map(
        "joinFieldName" -> "fks", "lookup" -> "dim.k", "type" -> "LINKLIST",
        "linkFieldName" -> "links", "unresolvedLinkAction" -> action)), c)(df))
    }
    val (_, nothing) = run("NOTHING")
    val byId = nothing.select("id", "links").as[(Long, Seq[Long])].collect().toMap
    assert(byId(1L) == Seq(30L, 10L, 20L)) // NOT sorted — input order
    assert(byId(2L) == Seq(10L, 30L))      // dangling element dropped
    assert(byId(3L) == Seq.empty)
    val (_, skip) = run("SKIP")
    assert(skip.select("id").as[Long].collect().toSet == Set(1L))
    val (ch, haltDf) = run("HALT")
    haltDf.count()
    intercept[graft.engine.EtlHaltException] { ch.drainChecks() }
    val (cw, warnDf) = run("WARNING")
    warnDf.count(); cw.drainChecks()
    assert(cw.warnings.value == 2L) // records 2 and 3
  }

  test("ngramcount approximate == exact top-k when the sketch bound holds") {
    val docs = newCtx().table("documents")
    def run(opts: (String, Any)*) =
      stage("ngramcount", (Seq[(String, Any)]("n" -> 2, "k" -> 20) ++ opts): _*)(docs)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = run()
    // the fixture's bigram distribution is FLAT (top counts ~50 over
    // ~50k occurrences), so the guarantee "equal when k-th count >
    // N/sketchSize" needs a sketch larger than N/50 ≈ 1k; with
    // sketchSize above the per-partition distinct count Misra–Gries
    // never evicts and equality is certain
    val approx = run("approximate" -> true, "sketchSize" -> 5000)
    assert(approx == exact)
    // tight sketch still returns exact counts for whatever it returns
    val tight = stage("ngramcount", "n" -> 2, "k" -> 5,
      "approximate" -> true, "sketchSize" -> 8)(docs)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val exactMap = exact.toMap
    tight.foreach { case (g, c) =>
      assert(!exactMap.contains(g) || exactMap(g) == c) }
  }

  // ------------------------------------------------------- LSH skew guard
  test("minhash skew guard: hot bucket dropped and counted, cold pairs survive") {
    val ctx = newCtx()
    // 300 identical boilerplate docs: every band bucket holds all 300 →
    // hot under maxBucket=100; plus one genuine near-dup pair whose
    // buckets stay tiny
    val boiler = (1 to 300).map(i =>
      (1000L + i, "the same boilerplate text repeated on every page of the site"))
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"tok$i").mkString(" ") + " other1 other2"
    val df = (boiler ++ Seq((1L, base), (2L, nearDup))).toDF("doc_id", "text")
    val pairs = graft.engine.Engine.transformers("minhash")(
      ComponentSpec("minhash", Map("threshold" -> 0.5, "maxBucket" -> 100)),
      ctx)(df).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(!pairs.exists(r => r.getLong(0) > 1000L)) // hot cluster dropped
    ctx.drainChecks()
    assert(ctx.warnings.value > 0) // dropped-bucket counter fired
  }

  test("minhash skew guard disabled (maxBucket=0) keeps the hot cluster") {
    val boiler = (1 to 120).map(i =>
      (1000L + i, "the same boilerplate text repeated on every page of the site"))
    val df = boiler.toDF("doc_id", "text")
    val pairs = stage("minhash", "threshold" -> 0.5, "maxBucket" -> 0)(df)
    assert(pairs.count() == 120L * 119 / 2)
  }

  // --------------------------------------------- curation: stratified sample
  test("stratifiedsample: per-stratum fractions, key-stable under growth") {
    val df = (1L to 400L).map(i =>
      (i, if (i % 4 == 0) "de" else if (i % 4 == 1) "en" else "other"))
      .toDF("doc_id", "lang")
    val out = stage("stratifiedsample", "strataField" -> "lang",
      "fractions" -> Map("de" -> 1.0, "en" -> 0.2), "keyField" -> "doc_id")(df)
    val kept = out.select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(kept.count(_._2 == "de") == 100)        // fraction 1.0: all kept
    val en = kept.filter(_._2 == "en").map(_._1).toSet
    assert(en.size > 5 && en.size < 40)            // ~20 of 100 expected
    assert(!kept.exists(_._2 == "other"))          // defaultFraction 0 drops
    // key stability: the kept English set is unchanged when data grows
    val bigger = (1L to 800L).map(i =>
      (i, if (i % 4 == 1) "en" else "other")).toDF("doc_id", "lang")
    val keptBigger = stage("stratifiedsample", "strataField" -> "lang",
      "fractions" -> Map("en" -> 0.2), "keyField" -> "doc_id")(bigger)
      .select("doc_id").as[Long].collect().toSet
    assert(en.subsetOf(keptBigger))
  }

  // --------------------------------------------------- curation: shuffle
  test("shuffle: deterministic order; salt re-shuffles; materialized sort") {
    val df = (1L to 200L).toDF("doc_id")
    def order(salt: String): Seq[Long] =
      stage("shuffle", "keyField" -> "doc_id", "salt" -> salt)(df)
        .select("doc_id").as[Long].collect().toSeq
    val e1 = order("epoch1")
    assert(e1 == order("epoch1"))                  // reproducible
    assert(e1 != order("epoch2"))                  // new epoch, new order
    assert(e1 != (1L to 200L).toSeq)               // actually shuffled
    assert(e1.sorted == (1L to 200L).toSeq)        // a permutation
    // the materialized stream is ordered by the emitted key
    val keys = stage("shuffle", "keyField" -> "doc_id", "salt" -> "epoch1")(df)
      .select("shuffle_key").as[String].collect().toSeq
    assert(keys == keys.sorted)
  }

  // --------------------------------------------------- curation: mixture
  test("mixture: parts sample independently, tag and union deterministically") {
    val path = java.nio.file.Files.createTempDirectory("graft-mixture")
      .resolve("part_src").toString
    (1L to 1000L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(path)
    val out = stage("mixture", "keyField" -> "doc_id",
      "columns" -> Seq("doc_id"),
      "parts" -> Seq(
        Map("path" -> path, "fraction" -> 0.3, "name" -> "web"),
        Map("path" -> path, "fraction" -> 0.3, "name" -> "code")))(
      spark.emptyDataFrame)
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1)))
    val web = rows.filter(_._2 == "web").map(_._1).toSet
    val code = rows.filter(_._2 == "code").map(_._1).toSet
    // same fraction, different part name → different (independent) sets
    assert(web != code)
    assert(web.size > 200 && web.size < 400 && code.size > 200 && code.size < 400)
    // independence: overlap ≈ 9% of the corpus, far from 0 and from 30%
    val overlap = (web & code).size
    assert(overlap > 30 && overlap < 200)
    // heterogeneous parts: with `columns` unset, every side projects to
    // the FIRST part's schema (a part's extra columns are dropped, not
    // a union failure)
    val path2 = java.nio.file.Files.createTempDirectory("graft-mixture2")
      .resolve("part_extra").toString
    (1L to 100L).map(i => (i, s"t$i", s"extra$i"))
      .toDF("doc_id", "text", "only_here").write.mode("overwrite").parquet(path2)
    val hetero = stage("mixture", "keyField" -> "doc_id",
      "parts" -> Seq(
        Map("path" -> path, "fraction" -> 0.5, "name" -> "plain"),
        Map("path" -> path2, "fraction" -> 0.5, "name" -> "wide")))(
      spark.emptyDataFrame)
    assert(hetero.columns.toSet == Set("doc_id", "text", "mix_source"))
    assert(hetero.where(col("mix_source") === "wide").count() > 0)
  }

  test("mixture: token budget takes per-part shares in deterministic md5 order") {
    val path = java.nio.file.Files.createTempDirectory("graft-mixture-tok")
      .resolve("part_src").toString
    // doc i carries exactly i%7+1 whitespace tokens
    (1L to 400L).map(i => (i, Seq.fill((i % 7 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(path)
    def run(budget: Long): Map[String, Seq[(Long, Long)]] =
      stage("mixture", "keyField" -> "doc_id", "budget" -> budget,
        "parts" -> Seq(
          Map("path" -> path, "fraction" -> 3, "name" -> "web"),
          Map("path" -> path, "fraction" -> 1, "name" -> "code")))(
        spark.emptyDataFrame)
        .select(col("doc_id"), col("mix_source"),
          size(split(col("text"), "\\s+")).cast("long").as("tok"))
        .collect().map(r => (r.getString(1), (r.getLong(0), r.getLong(2))))
        .toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val out = run(800) // web share 600, code share 200
    // each part's taken token mass fills its share without overflowing:
    // within maxTokens-1 == 6 of the cut (the next doc would overflow)
    val webTok = out("web").map(_._2).sum
    val codeTok = out("code").map(_._2).sum
    assert(webTok <= 600 && webTok > 600 - 7, s"web=$webTok")
    assert(codeTok <= 200 && codeTok > 200 - 7, s"code=$codeTok")
    // deterministic prefix property: a smaller budget's take is a
    // PREFIX of a larger one's (same md5 order, same salt)
    val small = run(400) // web 300, code 100
    assert(small("web").map(_._1).toSet.subsetOf(out("web").map(_._1).toSet))
    assert(small("code").map(_._1).toSet.subsetOf(out("code").map(_._1).toSet))
    // parts take DIFFERENT documents (independent salted order)
    assert(out("web").map(_._1).toSet != out("code").map(_._1).toSet)
    // reproducible
    assert(run(800) == out)
  }

  test("mixture: budget mode keeps NULL-keyed rows via the sentinel hash") {
    // ADVICE r15: a null keyField used to null the md5 → the row
    // silently vanished from the bucket join and the cumulative filter
    val path = java.nio.file.Files.createTempDirectory("graft-mixture-null")
      .resolve("part_src").toString
    Seq((Some(1L), "w w"), (None: Option[Long], "w w w"), (Some(2L), "w"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(path)
    val out = stage("mixture", "keyField" -> "doc_id", "budget" -> 100L,
      "parts" -> Seq(Map("path" -> path, "fraction" -> 1, "name" -> "p")))(
      spark.emptyDataFrame)
    // budget covers every row: all 3 participate, including the null key
    assert(out.count() == 3)
    assert(out.where(col("doc_id").isNull).count() == 1)
  }

  test("urlnormalize: case/port/tracking/fragment/param-order canonicalization") {
    val urls = Seq(
      ("HTTP://Example.COM:80/a?utm_source=x&b=2&a=1#top",
       "http://example.com/a?a=1&b=2"),
      ("https://site.org:443/p?gclid=9", "https://site.org/p"),
      // non-default port kept; params already canonical stay
      ("https://site.org:8443/p?a=1", "https://site.org:8443/p?a=1"),
      // ftp: unknown scheme — port untouched, still lowercased/sorted
      ("FTP://Host.Net:21/f?z=1&y=2", "ftp://host.net:21/f?y=2&z=1"),
      // no query, no path
      ("https://X.Y", "https://x.y"),
      // all params tracking → '?' disappears entirely
      ("https://a.b/p?utm_medium=m&fbclid=1", "https://a.b/p"),
      // malformed: no scheme → untouched
      ("not a url", "not a url"),
      ("/relative/path?a=1", "/relative/path?a=1"))
    val df = urls.zipWithIndex.map { case ((u, _), i) => (i.toLong, u) }
      .toDF("doc_id", "url")
    val out = stage("urlnormalize")(df).orderBy("doc_id")
      .select("url_norm").as[String].collect().toSeq
    assert(out == urls.map(_._2), out.zip(urls.map(_._2))
      .filter(p => p._1 != p._2).mkString("; "))
    // pure projection: no shuffle
    val plan = stage("urlnormalize")(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"urlnormalize must not shuffle:\n$plan")
  }

  // --------------------------------------------------- curation: urlparse
  test("urlparse: host/domain/path/query extraction; malformed → empty") {
    val df = Seq(
      (1L, "https://user@www.example.co.uk:8443/a/b?q=1#frag"),
      (2L, "http://single-host/"),
      (3L, "not a url at all")).toDF("id", "url")
    val out = stage("urlparse", "field" -> "url",
      "parts" -> Seq("scheme", "host", "domain", "path", "query"))(df)
      .orderBy("id").collect()
    assert(out(0).getAs[String]("url_scheme") == "https")
    assert(out(0).getAs[String]("url_host") == "www.example.co.uk")
    // public-suffix aware: co.uk is a registry suffix, so the
    // registrable domain takes three labels
    assert(out(0).getAs[String]("url_domain") == "example.co.uk")
    assert(out(0).getAs[String]("url_path") == "/a/b")
    assert(out(0).getAs[String]("url_query") == "q=1")
    assert(out(1).getAs[String]("url_host") == "single-host")
    assert(out(1).getAs[String]("url_domain") == "")  // no dot-pair
    assert(out(2).getAs[String]("url_host") == "")    // malformed → ''
  }

  test("urlparse domain: public-suffix snapshot grouping") {
    val cases = Seq(
      (1L, "https://news.bbc.co.uk/story", "bbc.co.uk"),
      (2L, "https://shop.example.com.au/x", "example.com.au"),
      (3L, "https://www.example.com/x", "example.com"),
      (4L, "https://example.com/x", "example.com"),
      (5L, "https://a.b.co.jp/x", "b.co.jp"),
      (6L, "https://co.uk/x", ""), // bare suffix: no registrable label
      (7L, "https://deep.sub.domain.example.org/x", "example.org"))
    val out = stage("urlparse", "field" -> "url", "parts" -> Seq("domain"))(
      cases.map(c => (c._1, c._2)).toDF("id", "url")).orderBy("id").collect()
    cases.zip(out).foreach { case ((_, url, want), row) =>
      assert(row.getAs[String]("url_domain") == want, s"for $url")
    }
  }

  // --------------------------------------------------- curation: groupcap
  test("groupcap: keeps first N per group by order field, rows unchanged") {
    val df = (1L to 100L).map(i => (i, s"d${i % 3}", s"payload$i"))
      .toDF("doc_id", "domain", "text")
    val out = stage("groupcap", "groupField" -> "domain",
      "orderField" -> "doc_id", "maxPerGroup" -> 5)(df)
    val kept = out.select("doc_id", "domain", "text").collect()
    assert(kept.length == 15)
    // per group: exactly the 5 smallest doc_ids survive, payload intact
    val byDomain = kept.groupBy(_.getString(1))
    byDomain.foreach { case (_, rows) =>
      val ids = rows.map(_.getLong(0)).sorted.toSeq
      assert(ids == ids.sorted && ids.length == 5)
      rows.foreach(r => assert(r.getString(2) == s"payload${r.getLong(0)}"))
    }
    val d0 = byDomain("d0").map(_.getLong(0)).sorted.toSeq
    assert(d0 == Seq(3L, 6L, 9L, 12L, 15L))
  }

  test("groupcap: threshold and window algorithms agree, incl. a hot group") {
    // one hot group (700 rows) + many small ones — the skew shape the
    // threshold plan exists for
    val rows = (1L to 700L).map(i => (i, "hot")) ++
      (701L to 1000L).map(i => (i, s"g${i % 37}"))
    val df = rows.toDF("doc_id", "domain")
    def run(algo: String) =
      stage("groupcap", "groupField" -> "domain", "orderField" -> "doc_id",
        "maxPerGroup" -> 7, "algorithm" -> algo)(df)
        .select("doc_id", "domain").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val thresh = run("threshold")
    assert(thresh == run("window"))
    assert(thresh.count(_._2 == "hot") == 7)
    // the DEFAULT is the tie-exact window plan — threshold (which can
    // exceed the cap on duplicate order keys) is explicit opt-in
    val dflt = stage("groupcap", "groupField" -> "domain",
      "orderField" -> "doc_id", "maxPerGroup" -> 7)(df)
    assert(!dflt.queryExecution.executedPlan.toString.contains("graft_topk"))
    assert(stage("groupcap", "groupField" -> "domain",
      "orderField" -> "doc_id", "maxPerGroup" -> 7, "algorithm" -> "threshold")(df)
      .queryExecution.executedPlan.toString.contains("graft_topk"))
    // threshold refuses non-integral order keys with a typed message
    val sdf = rows.map { case (i, d) => (s"k$i", d) }.toDF("key", "domain")
    val err = intercept[Exception](stage("groupcap", "groupField" -> "domain",
      "orderField" -> "key", "maxPerGroup" -> 7, "algorithm" -> "threshold")(sdf))
    assert(err.getMessage.contains("integral"))
    // window handles any order-key type and enforces the cap under ties
    val tied = (1L to 20L).map(i => (i / 2, "g")).toDF("key", "domain")
    assert(stage("groupcap", "groupField" -> "domain", "orderField" -> "key",
      "maxPerGroup" -> 3)(tied).count() == 3)
    // threshold boundary stays exact beyond 2^53: the heap's long id
    // tie-break resolves order keys that collapse to one double
    val big = (0L to 9L).map(i => ((1L << 60) + i, "g")).toDF("doc_id", "domain")
    val bigKept = stage("groupcap", "groupField" -> "domain",
      "orderField" -> "doc_id", "maxPerGroup" -> 4,
      "algorithm" -> "threshold")(big)
      .select("doc_id").as[Long].collect().toSet
    assert(bigKept == (0L to 3L).map((1L << 60) + _).toSet)
    // a NULL group key is a group of its own in BOTH plans (the
    // threshold join is null-safe)
    val withNull = (1L to 20L).map(i =>
      (i, if (i <= 10) null else "g")).toDF("doc_id", "domain")
    def capped(algo: String) =
      stage("groupcap", "groupField" -> "domain", "orderField" -> "doc_id",
        "maxPerGroup" -> 3, "algorithm" -> algo)(withNull)
        .select("doc_id").as[Long].collect().toSet
    assert(capped("threshold") == capped("window"))
    assert(capped("threshold") == Set(1L, 2L, 3L, 11L, 12L, 13L))
  }

  // ------------------------------------------------------ curation: chunk
  test("chunk: sliding windows with overlap; trailing partial kept") {
    val text = (1 to 10).map(i => s"t$i").mkString(" ") // 10 tokens
    val df = Seq((1L, text), (2L, "")).toDF("doc_id", "text")
    val out = stage("chunk", "chunkTokens" -> 4, "overlap" -> 1)(df)
      .orderBy("doc_id", "chunk_index").collect()
    val c1 = out.filter(_.getLong(0) == 1L)
    // starts 1,4,7,10 (step 3): t1-4, t4-7, t7-10, t10
    assert(c1.map(_.getString(2)).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10", "t10"))
    assert(c1.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(c1.map(_.getLong(3)).toSeq == Seq(4L, 4L, 4L, 1L))
    // empty text → one empty chunk (token array is [''])
    val c2 = out.filter(_.getLong(0) == 2L)
    assert(c2.length == 1 && c2.head.getString(2) == "")
    // dropShort drops the trailing partial
    val dropped = stage("chunk", "chunkTokens" -> 4, "overlap" -> 1,
      "dropShort" -> true, "minTokens" -> 4)(df)
      .where(col("doc_id") === 1L).collect()
    assert(dropped.map(_.getString(2)).toSeq ==
      Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
  }

  // ---------------------------------------------- curation: sentencesplit
  test("sentencesplit: indexes stable, whitespace fragments dropped") {
    val df = Seq(
      (1L, "Hello there. How are you? Fine! trailing"),
      (2L, "...!?"), // only terminators → no sentences
      (3L, "One")).toDF("doc_id", "text")
    val out = stage("sentencesplit", Seq.empty[(String, Any)]: _*)(df)
      .orderBy("doc_id", "sent_idx").collect()
    val s1 = out.filter(_.getLong(0) == 1L)
    assert(s1.map(_.getString(2)).toSeq ==
      Seq("Hello there.", "How are you?", "Fine!", "trailing"))
    assert(s1.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(!out.exists(_.getLong(0) == 2L))
    assert(out.filter(_.getLong(0) == 3L).map(_.getString(2)).toSeq == Seq("One"))
  }

  // ---------------------------------------------------------- tokeninfo
  test("tokeninfo: integer self-information bits match hand computation") {
    // corpus tokens: a a b | b c → N=5, cnt(a)=2, cnt(b)=2, cnt(c)=1
    // bits = length(bin(N div cnt)): a→len(bin(2))=2, b→2, c→len(bin(5))=3
    val df = Seq((1L, "a A  b"), (2L, "b c"), (3L, "   ")).toDF("doc_id", "text")
    val out = stage("tokeninfo")(df)
      .select("doc_id", "n_info_tokens", "info_bits", "bits_per_token")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 6L, Some(2.0)),   // lowercase folds A→a; 2+2+2
      (2L, 2L, 5L, Some(2.5)),   // 2+3
      (3L, 0L, 0L, None)))       // whitespace-only doc: no tokens, null bpt
  }

  test("tokeninfo n=2: bigram conditional-surprise bits match hand computation") {
    // bigram stream: (a b) (b a) (a b) | (a c) →
    // cnt(a b)=2, cnt(b a)=1, cnt(a c)=1; prefixes: a.=3, b.=1
    // bits = len(bin(cpre div cbg)): (a b)→len(bin(1))=1,
    // (b a)→len(bin(1))=1, (a c)→len(bin(3))=2
    val df = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo")).toDF("doc_id", "text")
    val out = stage("tokeninfo", "n" -> 2)(df)
      .select("doc_id", "n_info_tokens", "info_bits", "bits_per_token")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 3L, Some(1.0)),   // (a b) + (b a) + (a b) = 1+1+1
      (2L, 1L, 2L, Some(2.0)),   // (a c) = 2
      (3L, 0L, 0L, None)))       // one token: no bigram, null bpt
    val e = intercept[Exception](stage("tokeninfo", "n" -> 3)(df).collect())
    assert(e.getMessage.contains("n must be 1"), e.getMessage)
  }

  test("tokeninfo target: cross-entropy bits vs a reference model, add-one smoothed") {
    // target corpus "a b a c": bigrams (a b)=1, (b a)=1, (a c)=1;
    // prefixes a.=2, b.=1; vocab V = 3 (a, b, c)
    Seq(Tuple1("a b a c")).toDF("text").createOrReplaceTempView("ti_ref")
    val df = Seq((1L, "a b"), (2L, "a z")).toDF("doc_id", "text")
    val out = stage("tokeninfo", "n" -> 2, "target" -> "ti_ref")(df)
      .select("doc_id", "n_info_tokens", "info_bits")
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    // doc 1 (a b): L(cpre(a)+V) - L(cbg(a,b)+1) = L(5) - L(2) = 3 - 2 = 1
    // doc 2 (a z): unseen bigram -> L(2+3) - L(0+1) = 3 - 1 = 2
    assert(out == Seq((1L, 1L, 1L), (2L, 1L, 2L)))
    // unigram target mode: N_t = 4, V = 3 -> seen 'a' (c=2): L(7)-L(3) = 3-2 = 1;
    // unseen 'z': L(7)-L(1) = 3-1 = 2
    val u = stage("tokeninfo", "target" -> "ti_ref")(
      Seq((1L, "a z")).toDF("doc_id", "text"))
      .select("info_bits").as[Long].head()
    assert(u == 3L) // 1 (a) + 2 (z)
    // a target lacking the field fails loud
    assert(intercept[Exception](stage("tokeninfo",
      "target" -> "SELECT 1 AS x")(df)).getMessage.contains("no column"))
  }

  // --------------------------------------------------------- wordfilter
  test("wordfilter: whole-token hits, ratio, filter actions, guards") {
    val df = Seq((1L, "the BIG bad wolf"), (2L, "clean text"),
      (3L, "   "), (4L, "bigger class")).toDF("doc_id", "text")
    def run(opts: (String, Any)*) =
      stage("wordfilter", (("words" -> Seq("big", "wolf")) +: opts): _*)(df)
    val out = run().select("doc_id", "bad_n", "bad_ratio")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((2L, 0.5)))       // case-folded whole tokens
    assert(out(2L) == ((0L, 0.0)))
    assert(out(3L) == ((0L, 0.0)))       // empty doc: ratio 0, not NaN
    assert(out(4L) == ((0L, 0.0)))       // 'bigger' is NOT a 'big' hit
    // filter: the C4 rule (any hit drops) vs a ratio bar
    assert(run("action" -> "filter").select("doc_id")
      .as[Long].collect().toSet == Set(2L, 3L, 4L))
    assert(run("action" -> "filter", "maxRatio" -> "0.5").select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    assert(intercept[Exception](stage("wordfilter")(df))
      .getMessage.contains("words"))
    assert(intercept[Exception](run("action" -> "zap"))
      .getMessage.contains("action"))
  }

  // ---------------------------------------------------------- stopwords
  test("stopwords: whole-token case-insensitive removal preserves kept forms") {
    val df = Seq((1L, "The cat AND the hat"), (2L, "theory of and-craft"),
      (3L, "  ")).toDF("doc_id", "text")
    val out = stage("stopwords")(df)
      .select("doc_id", "text_clean", "n_removed")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == (("cat hat", 3L)))          // The/AND/the fold + drop
    assert(out(2L) == (("theory and-craft", 1L))) // substrings survive; 'of' goes
    assert(out(3L) == (("", 0L)))
    // custom list + collision guard
    val custom = stage("stopwords", "words" -> Seq("cat"))(df)
      .where(col("doc_id") === 1L).select("text_clean").as[String].head()
    assert(custom == "The AND the hat")
    assert(intercept[Exception](stage("stopwords", "outputField" -> "text")(df))
      .getMessage.contains("collides"))
  }

  // ------------------------------------------------------- regexextract
  test("regexextract: match explosion with stable index; groups; keepEmpty") {
    val df = Seq((1L, "a1 b22 c333"), (2L, "xyz")).toDF("doc_id", "text")
    def run(opts: (String, Any)*) = stage("regexextract", opts: _*)(df)
    val out = run("pattern" -> "[0-9]+")
      .select("doc_id", "match_idx", "match")
      .as[(Long, Long, String)].collect().toSet
    assert(out == Set((1L, 0L, "1"), (1L, 1L, "22"), (1L, 2L, "333")))
    // capture group 2 of letter+digits
    assert(run("pattern" -> "([a-z])([0-9]+)", "group" -> 2)
      .select("match").as[String].collect().toSet == Set("1", "22", "333"))
    // keepEmpty keeps the matchless doc with nulls (left-join posture)
    val kept = run("pattern" -> "[0-9]+", "keepEmpty" -> true)
      .where(col("doc_id") === 2L).select("match_idx", "match").collect()
    assert(kept.length == 1 && kept(0).isNullAt(0) && kept(0).isNullAt(1))
    assert(intercept[Exception](run()).getMessage.contains("pattern"))
    // output-name collision fails loud
    val e = intercept[Exception](run("pattern" -> "x", "outputField" -> "text"))
    assert(e.getMessage.contains("collides"), e.getMessage)
  }

  // ------------------------------------------------------- collocations
  test("collocations: integer-bits PMI matches hand computation; minCount prunes") {
    // one bigram per doc: (x,z)×4, (w,y)×4, (x,y)×1 → n=9;
    // left marginals x=5 w=4, right z=4 y=5
    val df = (Seq.fill(4)("X z") ++ Seq.fill(4)("w y") :+ "x y")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = stage("collocations", "minCount" -> 1)(df)
      .select("w1", "w2", "n_xy", "n_x", "n_y", "pmi_bits")
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(out.size == 3)
    // (x,z): a = 9·4 = 36, b = 5·4 = 20 → +len(bin(36 div 20 = 1)) = +1
    assert(out(("x", "z")) == ((4L, 5L, 4L, 1L)))   // X folded by lowercase
    assert(out(("w", "y")) == ((4L, 4L, 5L, 1L)))
    // (x,y) is ANTI-associated: a = 9, b = 25 → −len(bin(25 div 9 = 2)) = −2
    assert(out(("x", "y")) == ((1L, 5L, 5L, -2L)))
    // default minCount=5 prunes everything here; explicit 4 keeps the two
    // frequent pairs (marginals still count the pruned pair's mass)
    val kept = stage("collocations", "minCount" -> 4)(df)
      .select("w1").as[String].collect().toSet
    assert(kept == Set("x", "w"))
    assert(intercept[Exception](stage("collocations", "minCount" -> 0)(df))
      .getMessage.contains("minCount"))
    // window=2 adds skip-gram pairs: doc "a b c" → (a,b),(b,c) PLUS (a,c);
    // n=3, left a=2 b=1, right b=1 c=2
    val sg = Seq((1L, "a b c")).toDF("doc_id", "text")
    val w2 = stage("collocations", "minCount" -> 1, "window" -> 2)(sg)
      .select("w1", "w2", "n_xy", "n_x", "n_y", "pmi_bits")
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(w2.size == 3)
    assert(w2(("a", "b")) == ((1L, 2L, 1L, 1L)))  // a=3 ≥ b=2 → +1
    assert(w2(("a", "c")) == ((1L, 2L, 2L, -1L))) // a=3 < b=4 → −1
    assert(w2(("b", "c")) == ((1L, 1L, 2L, 1L)))
    assert(intercept[Exception](stage("collocations", "window" -> 9)(sg))
      .getMessage.contains("window"))
    // maxPairs (r18): loud IN-PLAN guard on the total pair volume —
    // fires at the ACTION (zero plan-build cost); a generous bound
    // changes nothing
    val e = intercept[Exception](
      stage("collocations", "minCount" -> 1, "maxPairs" -> 2)(df).collect())
    assert(e.getMessage.contains("maxPairs"), e.getMessage)
    val same = stage("collocations", "minCount" -> 1, "maxPairs" -> 1000)(df)
      .select("w1", "w2").as[(String, String)].collect().toSet
    assert(same == Set(("x", "z"), ("w", "y"), ("x", "y")))
  }

  // -------------------------------------------------------------- tfidf
  test("tfidf: linear-idf scores and ranks match hand computation") {
    // 3 docs; "rare" only in doc 1, "common" in all
    val df = Seq(
      (1L, "rare common common"),
      (2L, "common other"),
      (3L, "common other third")).toDF("doc_id", "text")
    val out = stage("tfidf", "k" -> 2)(df)
      .orderBy("doc_id", "term_rank").collect()
    val d1 = out.filter(_.getLong(0) == 1L)
    // doc1: rare tf=1 df=1 → score 1*3/1=3; common tf=2 df=3 → 2*3/3=2
    assert(d1.map(r => (r.getString(1), r.getDouble(4))).toSeq ==
      Seq(("rare", 3.0), ("common", 2.0)))
    assert(d1.map(_.getLong(5)).toSeq == Seq(1L, 2L))
    // doc2: "other" tf=1 df=2 → 1.5 outranks "common" tf=1 df=3 → 1.0
    val d2 = out.filter(_.getLong(0) == 2L)
    assert(d2.map(_.getString(1)).toSeq == Seq("other", "common"))
  }

  // --------------------------------------------------------- corpusstats
  test("corpusstats: one-row summary with discrete quantiles") {
    val df = (1 to 10).map(n => (n.toLong, n)).toDF("id", "n_tok")
    val out = stage("corpusstats", "field" -> "n_tok")(df).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_rows") == 10L && r.getAs[Long]("total") == 55L)
    assert(r.getAs[Long]("minv") == 1L && r.getAs[Long]("maxv") == 10L)
    assert(r.getAs[Double]("mean") == 5.5)
    // SQL-standard percentile_disc: smallest v with cume_dist >= p
    assert(r.getAs[Long]("p25") == 3L && r.getAs[Long]("p50") == 5L)
    assert(r.getAs[Long]("p75") == 8L && r.getAs[Long]("p95") == 10L)
    // approximate mode (constant-memory sketch): exact at this accuracy
    val ra = stage("corpusstats", "field" -> "n_tok",
      "approximate" -> true)(df).head()
    assert(ra.getAs[Long]("p50") == 5L && ra.getAs[Long]("p95") == 10L)
    // fractional fields keep double math (no truncating long cast)
    val dd = Seq(0.4, 0.6).toDF("x")
    val rf = stage("corpusstats", "field" -> "x")(dd).head()
    assert(rf.getAs[Double]("total") == 1.0 && rf.getAs[Double]("mean") == 0.5)
  }

  // ---------------------------------------------------------- crossdedup
  test("crossdedup: drops docs whose fingerprint appears in `against`") {
    val ctx = newCtx()
    ctx.registerTable("prev_crawl", Seq(
      (101L, "shared document text"), (102L, "other old text"))
      .toDF("doc_id", "text"))
    val df = Seq(
      (1L, "Shared   Document\ttext"), // normalized match of 101
      (2L, "brand new text")).toDF("doc_id", "text")
    val drop = graft.engine.Engine.transformers("crossdedup")(
      ComponentSpec("crossdedup", Map("against" -> "prev_crawl")), ctx)(df)
    assert(drop.select("doc_id").as[Long].collect().toSeq == Seq(2L))
    val mark = graft.engine.Engine.transformers("crossdedup")(
      ComponentSpec("crossdedup", Map("against" -> "prev_crawl",
        "mode" -> "mark")), ctx)(df)
      .orderBy("doc_id").collect()
    assert(mark.map(_.getAs[Boolean]("cross_dup")).toSeq == Seq(true, false))
  }

  // -------------------------------------------------------- distinctcount
  test("distinctcount: exact matches true cardinality; approx within rsd") {
    val df = (1L to 5000L).map(i => (i, s"v${i % 137}", s"g${i % 11}"))
      .toDF("id", "v", "g")
    val exact = stage("distinctcount", "fields" -> Seq("v", "g", "id"))(df)
      .head()
    assert(exact.getAs[Long]("v_distinct") == 137L)
    assert(exact.getAs[Long]("g_distinct") == 11L)
    assert(exact.getAs[Long]("id_distinct") == 5000L)
    val approx = stage("distinctcount", "fields" -> Seq("id"),
      "mode" -> "approx", "rsd" -> "0.02")(df).head().getAs[Long]("id_distinct")
    // HLL++ at rsd 0.02: allow 3 sigma
    assert(math.abs(approx - 5000L) <= 5000 * 0.06,
      s"approx distinct $approx too far from 5000")
  }

  // ----------------------------------------- decontaminate: bloom prefilter
  test("decontaminate bloom prefilter equals the exact path") {
    val ctx = newCtx()
    val eval = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("id", "text")
    ctx.registerTable("eval_set", eval)
    val corpus = (1 to 50).map(i =>
      (i.toLong, if (i % 7 == 0) "alpha beta gamma delta epsilon contaminated"
        else s"clean doc $i with its own words ${i * 31}"))
      .toDF("doc_id", "text")
    def run(opts: Map[String, Any]) =
      graft.engine.Engine.transformers("decontaminate")(
        ComponentSpec("decontaminate", Map("against" -> "eval_set",
          "shingleSize" -> 5) ++ opts), ctx)(corpus)
        .select("doc_id").as[Long].collect().toSet
    val exact = run(Map.empty)
    val bloom = run(Map("prefilter" -> "bloom", "expectedItems" -> 1000L))
    assert(exact == bloom)
    // expectedItems derived from the eval side when not pinned
    assert(run(Map("prefilter" -> "bloom")) == exact)
    assert((1 to 50).filter(_ % 7 == 0).map(_.toLong).toSet
      .intersect(exact).isEmpty)
    // the probe is the codegen'd native expression, not a ScalaUDF
    val plan = graft.engine.Engine.transformers("decontaminate")(
      ComponentSpec("decontaminate", Map("against" -> "eval_set",
        "shingleSize" -> 5, "prefilter" -> "bloom")), ctx)(corpus)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"bloom probe must not be a UDF:\n$plan")
    assert(plan.contains("might_contain"),
      s"bloom probe should be BloomFilterMightContain:\n$plan")
  }

  // --------------------------------------------------- JL sign projection
  test("randproject: integer-exact JL projection — hand value, JL distances, no shuffle") {
    // hand-check one cell: y_0 of a 2-dim vector
    def sgn(j: Long, i: Long): Long = {
      val h = j * 100003L + i * 17L
      if ((h * h) % 1000003L % 2L == 0L) 1L else -1L
    }
    val df = Seq((1L, Array(0.5f, -0.25f))).toDF("vec_id", "embedding")
    val out = stage("randproject", "outDim" -> 2, "keepOriginal" -> true)(df)
    val y = out.select("proj").head().getSeq[Long](0)
    assert(y(0) == sgn(0, 0) * 500000L + sgn(0, 1) * -250000L)
    assert(y(1) == sgn(1, 0) * 500000L + sgn(1, 1) * -250000L)
    // JL sanity on real embeddings: projected distances correlate with
    // the originals (relative distortion bounded for most pairs)
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(40)
    val proj = stage("randproject", "outDim" -> 32, "keepOriginal" -> true)(base)
      .select("vec_id", "embedding", "proj").collect()
      .map(r => (r.getSeq[Float](1).map(_.toDouble).toArray,
                 r.getSeq[Long](2).map(_.toDouble).toArray))
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y0) => (x - y0) * (x - y0) }.sum
    val ratios = for (i <- proj.indices; j <- 0 until i) yield {
      val orig = d2(proj(i)._1, proj(j)._1)
      // projected space scale: scale^2 * outDim (E[y²] = k·q(x)²)
      val p = d2(proj(i)._2, proj(j)._2) / (1e12 * 32)
      if (orig > 1e-9) p / orig else 1.0
    }
    // median distortion near 1, most pairs within a 3x band
    val sorted = ratios.sorted
    val median = sorted(sorted.size / 2)
    assert(median > 0.5 && median < 2.0, s"median JL distortion $median")
    assert(ratios.count(r => r > 0.33 && r < 3.0) >= ratios.size * 0.9,
      "JL distortion band violated for >10% of pairs")
    // pure projection: no shuffle
    val plan = stage("randproject")(base).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"randproject must not shuffle:\n$plan")
    // determinism incl. seed sensitivity
    val a = stage("randproject", "seed" -> 7)(df).select("proj").head().getSeq[Long](0)
    val b = stage("randproject", "seed" -> 7)(df).select("proj").head().getSeq[Long](0)
    val c2 = stage("randproject", "seed" -> 8)(df).select("proj").head().getSeq[Long](0)
    assert(a == b && a != c2)
  }

  // --------------------------------------------------- int8 quantization
  test("quantize: int8 roundtrip error bounded by scale/2, symmetric range") {
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(100.0f, -100.0f, 3.14159f, 0.001f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector
      (4L, Array(1e-8f, -1e-8f, 5e-9f, 0.0f))).toDF("vec_id", "embedding")
    val q = stage("quantize", "keepOriginal" -> true)(df)
    assert(q.schema("embedding_q8").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = true))
    val rows = q.select(col("vec_id"), col("embedding"), col("embedding_q8"),
      col("embedding_scale")).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1); val qs = r.getSeq[Byte](2); val s = r.getDouble(3)
      assert(s > 0.0, "scale must be positive even for the zero vector")
      v.zip(qs).foreach { case (x, qb) =>
        assert(math.abs(qb.toInt) <= 127, s"q out of range: $qb")
        assert(math.abs(x.toDouble - qb.toDouble * s) <= s / 2 + 1e-12,
          s"vec ${r.getLong(0)}: |$x - $qb*$s| exceeds scale/2")
      }
    }
    // zero vector quantizes to all zeros
    val z = rows.find(_.getLong(0) == 3L).get.getSeq[Byte](2)
    assert(z.forall(_ == 0))
  }

  test("quantize/dequantize: pure projections (no shuffle), cosine preserved") {
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val quantized = stage("quantize")(base)
    assert(!quantized.columns.contains("embedding"),
      "default mode drops the float column (that is the point)")
    val plan = quantized.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"quantize must not shuffle:\n$plan")
    val restored = stage("quantize", "mode" -> "dequantize")(quantized)
    assert(restored.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = true))
    // cosine(orig, restored) stays ~1 for every vector (scale cancels;
    // only rounding noise remains)
    val joined = base.select(col("vec_id"), col("embedding").as("o"))
      .join(restored.select(col("vec_id"), col("embedding").as("r")), "vec_id")
      .select(
        (aggregate(zip_with(col("o"), col("r"),
          (a, b) => a.cast("double") * b.cast("double")),
          lit(0.0d), (acc, x) => acc + x) /
         (sqrt(aggregate(transform(col("o"), a => a.cast("double") * a.cast("double")),
           lit(0.0d), (acc, x) => acc + x)) *
          sqrt(aggregate(transform(col("r"), a => a.cast("double") * a.cast("double")),
            lit(0.0d), (acc, x) => acc + x)))).as("cos"))
    val minCos = joined.agg(min("cos")).head().getDouble(0)
    assert(minCos > 0.999, s"quantization distorted cosine: min=$minCos")
  }

  // ------------------------------------------------- substring span dedup
  test("substringspans stats: maximal cross-doc spans, within-doc repeats excluded") {
    val df = Seq(
      (1L, "a b c d e f g h x1 y1 z1"),          // shares words 1-8 with doc 2
      (2L, "p2 q2 a b c d e f g h r2"),          // shares words 3-10 with doc 1
      (3L, "u v w"),                              // shorter than gram -> no grams
      (4L, "m m m m m m m m"),                    // repeats only WITHIN itself
      (5L, "dup1 dup2 dup3 dup4"),                // identical to doc 6
      (6L, "dup1 dup2 dup3 dup4")).toDF("doc_id", "text")
    val out = stage("substringspans", "gram" -> 4)(df)
      .select("doc_id", "ss_spans", "ss_dup_words", "ss_max_span")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 1L, 8L, 8L)), s"doc1: ${out(0)}")
    assert(out(1) == ((2L, 1L, 8L, 8L)), s"doc2: ${out(1)}")
    assert(out(2) == ((3L, 0L, 0L, 0L)), "short doc must have no spans")
    assert(out(3) == ((4L, 0L, 0L, 0L)),
      "a gram repeated only within one doc is not a cross-doc duplicate")
    assert(out(4) == ((5L, 1L, 4L, 4L)) && out(5) == ((6L, 1L, 4L, 4L)))
  }

  test("substringspans strip: removes exactly the covered words, both copies") {
    val df = Seq(
      (1L, "a b c d e f g h x1 y1 z1"),
      (2L, "p2 q2 a b c d e f g h r2"),
      (3L, "untouched words stay whole"),
      (5L, "dup1 dup2 dup3 dup4"),
      (6L, "dup1 dup2 dup3 dup4")).toDF("doc_id", "text")
    val out = stage("substringspans", "gram" -> 4, "mode" -> "strip")(df)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out(1L) == "x1 y1 z1")
    assert(out(2L) == "p2 q2 r2")
    assert(out(3L) == "untouched words stay whole")
    assert(out(5L) == "" && out(6L) == "",
      "a fully-duplicated doc strips to empty (both copies removed)")
  }

  test("substringspans minSpan filters short merged spans; plan is join-bounded") {
    val df = Seq(
      (1L, "a b c d e f g h x1 y1 z1"),
      (2L, "p2 q2 a b c d e f g h r2"),
      (5L, "dup1 dup2 dup3 dup4"),
      (6L, "dup1 dup2 dup3 dup4")).toDF("doc_id", "text")
    val out = stage("substringspans", "gram" -> 4, "minSpan" -> 6)(df)
      .select("doc_id", "ss_spans").as[(Long, Long)].collect().toMap
    assert(out(1L) == 1L && out(2L) == 1L, "8-word spans survive minSpan=6")
    assert(out(5L) == 0L && out(6L) == 0L, "4-word spans fall under minSpan=6")
    // scale shape: equi-joins only — no cartesian / nested-loop pairing
    val plan = stage("substringspans", "gram" -> 4)(df)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"substringspans must never pair documents:\n$plan")
  }

  test("vocaboverlap: jaccard + type/mass OOV hand values; lowercase fold") {
    val ctx = newCtx()
    Seq((1L, "a B b c")).toDF("doc_id", "text")
      .createOrReplaceTempView("vo_cur_unused") // silence unused-view lint
    Seq((1L, "b c c d d")).toDF("doc_id", "text")
      .createOrReplaceTempView("vo_ref")
    val cur = Seq((1L, "a B b c")).toDF("doc_id", "text")
    val out = graft.text.TextStages.vocabOverlap(ComponentSpec(
      "vocaboverlap", Map("against" -> "vo_ref")), ctx)(cur)
      .select("v_cur", "v_base", "v_both", "jaccard", "oov_types", "oov_tokens")
      .as[(Long, Long, Long, Double, Double, Double)].head()
    // cur {a,b,c} (B folds), mass a1 b2 c1; ref {b,c,d}; both {b,c}
    assert(out == ((3L, 3L, 2L, 2.0 / 4.0, 1.0 / 3.0, 1.0 / 4.0)))
    // identical corpora: jaccard 1, OOV 0
    val same = graft.text.TextStages.vocabOverlap(ComponentSpec(
      "vocaboverlap", Map("against" -> "vo_ref")), ctx)(
      spark.table("vo_ref"))
      .select("jaccard", "oov_types", "oov_tokens")
      .as[(Double, Double, Double)].head()
    assert(same == ((1.0, 0.0, 0.0)))
    assert(intercept[Exception](graft.text.TextStages.vocabOverlap(
      ComponentSpec("vocaboverlap", Map()), ctx)(cur))
      .getMessage.contains("against"))
  }

  test("urlresolve: RFC 3986 reference classes; dot removal clamps at root") {
    val base = "https://ex.com/a/b/c/page.html"
    val df = Seq(
      (1L, base, Some("https://o.org/x")), // absolute passes through
      (2L, base, Some("//cdn.net/y")),     // protocol-relative
      (3L, base, Some("/root/z")),         // root-relative
      (4L, base, Some("w")),               // path-relative
      (5L, base, Some("./w")),
      (6L, base, Some("../w")),
      (7L, base, Some("../../../../w")),   // past root: clamps
      (8L, base, Some("")),                // empty ref → base
      (9L, base, Option.empty[String]),
      (10L, "https://ex.com", Some("x"))) // authority-only base
      .toDF("id", "base_url", "href")
    val out = stage("urlresolve")(df)
      .select("id", "resolved_url").as[(Long, Option[String])]
      .collect().toMap
    assert(out(1L) == Some("https://o.org/x"))
    assert(out(2L) == Some("https://cdn.net/y"))
    assert(out(3L) == Some("https://ex.com/root/z"))
    assert(out(4L) == Some("https://ex.com/a/b/c/w"))
    assert(out(5L) == Some("https://ex.com/a/b/c/w"))
    assert(out(6L) == Some("https://ex.com/a/b/w"))
    assert(out(7L) == Some("https://ex.com/w"))
    assert(out(8L) == Some(base))
    assert(out(9L).isEmpty)
    assert(out(10L) == Some("https://ex.com/x"))
    assert(intercept[Exception](stage("urlresolve",
      "outputField" -> "href")(df)).getMessage.contains("exists"))
  }

  test("benford: leading-digit distribution vs driver-literal expectations") {
    val df = Seq(Some(1L), Some(1L), Some(19L), Some(2L), Some(25L),
      Some(31L), Some(0L), Some(-5L), None).toDF("v")
    val out = graft.stages.StatStages.benford(
      graft.spec.ComponentSpec("benford", Map("field" -> "v")), newCtx())(df)
      .select("digit", "n_digit", "n", "observed", "expected", "gap")
      .as[(Int, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // zero/negative/null carry no leading digit: n = 6
    assert(out.keySet == Set(1, 2, 3))
    val p1 = graft.stages.StatStages.BenfordP(1)
    assert(out(1) == ((3L, 6L, 0.5, p1, 0.5 - p1)))
    assert(out(2)._1 == 2L && out(3)._1 == 1L)
    assert(math.abs(out(1)._4 - 0.3010299956639812) < 1e-15)
    val dbl = Seq(0.5).toDF("v")
    assert(intercept[Exception](graft.stages.StatStages.benford(
      graft.spec.ComponentSpec("benford", Map("field" -> "v")),
      newCtx())(dbl)).getMessage.contains("INTEGRAL"))
  }

  test("linededup: C4 line rule — remove/keepfirst, normalization, blanks kept") {
    val df = Seq(
      (1L, Some("Common Header\nunique one\nfooter x")),
      (2L, Some("common header \nunique two\nfooter x")),
      (3L, Some("unique three\n\nfooter x")),
      (4L, Option.empty[String]))
      .toDF("doc_id", "text")
    def run(opts: (String, Any)*) = stage("linededup", opts: _*)(df)
      .select("doc_id", "text_clean", "n_removed")
      .as[(Long, Option[String], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // default remove: both duplicate lines deleted everywhere; the
    // blank line in doc 3 is structural, never counted or removed
    val rm = run()
    assert(rm(1L) == ((Some("unique one"), 2L)))
    assert(rm(2L) == ((Some("unique two"), 2L)))
    assert(rm(3L) == ((Some("unique three\n"), 1L)))
    assert(rm(4L) == ((None, 0L)), "null text passes through")
    // keepfirst: doc 1 (smallest id) keeps its original-form copies
    val kf = run("action" -> "keepfirst")
    assert(kf(1L) == ((Some("Common Header\nunique one\nfooter x"), 0L)))
    assert(kf(2L) == ((Some("unique two"), 2L)))
    assert(kf(3L) == ((Some("unique three\n"), 1L)))
    // normalize=false: case/whitespace variants no longer match
    val nn = run("normalize" -> false)
    assert(nn(1L) == ((Some("Common Header\nunique one"), 1L)))
    assert(nn(2L) == ((Some("common header \nunique two"), 1L)))
    // minCount=3: only the 3-occurrence footer is a duplicate
    val mc = run("minCount" -> 3)
    assert(mc(1L) == ((Some("Common Header\nunique one"), 1L)))
    // guards fail loud
    assert(intercept[Exception](stage("linededup", "minCount" -> 1)(df))
      .getMessage.contains("minCount"))
    assert(intercept[Exception](stage("linededup", "action" -> "zz")(df))
      .getMessage.contains("keepfirst"))
    // the duplicate table joins back BROADCAST — a shuffle join keyed by
    // line text would put every copy of a hot banner on one reducer
    val plan = stage("linededup")(df).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"linededup duplicate join must broadcast:\n$plan")
    // broadcast-size guard: an adversarial corpus (every line duplicated)
    // makes the dup table the whole corpus — must fail LOUD naming the
    // Bloom migration, not OOM executors at broadcast time
    val adversarial = (0L until 40L).flatMap(d =>
      Seq((d, Some((0 until 5).map(i => s"dup line ${d % 20} $i")
        .mkString("\n"))))).toDF("doc_id", "text")
    val e = intercept[Exception](
      stage("linededup", "maxDupLines" -> 50)(adversarial).count())
    assert(e.getMessage.contains("crossdedup") &&
      e.getMessage.contains("maxDupLines"), e.getMessage)
    assert(intercept[Exception](
      stage("linededup", "maxDupLines" -> 0)(df)).getMessage
      .contains("maxDupLines"))
    // …and a corpus under the bound still works with the guard engaged
    val ok = stage("linededup", "maxDupLines" -> 50)(df)
    assert(ok.where(col("n_removed") > 0).count() == 3)
  }
}
