package graft

import graft.spec.ComponentSpec
import graft.stages.LookupStages
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based suites promised in SURVEY.md §5.3: CSV quote/null/type
  * round-trips, merge idempotence, link resolution totality, dedup
  * invariants. Deterministic generated cases (fixed seeds) over raw
  * ScalaCheck Gen — the scalatest bridge isn't in the offline cache. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val fieldGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(8)),
    Gen.const("has,comma"), Gen.const("hasquoteend"), Gen.const(""),
    Gen.const("NULLTOKEN"), Gen.const(" padded "))

  test("csv: quoted round-trip through the csv transformer (15 cases)") {
    for (rows <- samples(Gen.nonEmptyListOf(
        Gen.zip(Gen.choose(1, 9999), fieldGen)).map(_.take(6)), 15)) {
      def q(s: String) = "\"" + s.replace("\"", "\\\"") + "\""
      val lines = rows.map { case (i, s) => s"$i,${q(s)}" }
      val df = spark.createDataset(lines).toDF("value")
      val out = graft.stages.Stages.csvTransform(ComponentSpec("csv", Map(
        "columnsOnFirstLine" -> false, "nullValue" -> "NULLTOKEN",
        "columns" -> Seq("id:integer", "s:string"))), newCtx())(df)
        .collect()
      assert(out.length == rows.length)
      val got = out.map(r => (r.getInt(0), Option(r.getString(1)))).toSet
      val want = rows.map { case (i, s) =>
        (i, if (s == "NULLTOKEN") None else Some(s))
      }.toSet
      assert(got == want, s"rows=$rows got=$got")
    }
  }

  test("merge upsert is idempotent: upsert(upsert(t, d), d) == upsert(t, d)") {
    for (delta0 <- samples(Gen.nonEmptyListOf(
        Gen.zip(Gen.choose(1, 5), Gen.choose(0, 100))).map(_.take(8)), 10)) {
      val target = Seq((1, 10), (2, 20), (3, 30)).toDF("k", "v")
      // within-batch last-wins needs a deterministic batch: dedup input
      val delta = delta0.distinctBy(_._1).toDF("k", "v")
      val once = LookupStages.upsertResult(target, delta, "k")
      val twice = LookupStages.upsertResult(once, delta, "k")
      assert(once.orderBy("k", "v").collect().toSeq ==
        twice.orderBy("k", "v").collect().toSeq, s"delta=$delta0")
    }
  }

  test("link totality: resolved + unresolved == input count, any dim") {
    for ((fks, dimKeys) <- samples(Gen.zip(
        Gen.nonEmptyListOf(Gen.choose(1L, 20L)).map(_.take(12)),
        Gen.listOfN(6, Gen.choose(1L, 20L))), 10)) {
      val ctx = newCtx()
      ctx.registerTable("pdim", dimKeys.distinct.toDF("k"))
      val df = fks.zipWithIndex.map { case (fk, i) => (i.toLong, fk) }.toDF("id", "fk")
      val out = LookupStages.link(ComponentSpec("link", Map(
        "joinFieldName" -> "fk", "lookup" -> "pdim.k",
        "linkFieldName" -> "lnk")), ctx)(df)
      val resolved = out.filter(col("lnk").isNotNull).count()
      val unresolved = out.filter(col("lnk").isNull).count()
      assert(resolved + unresolved == fks.length)
      assert(resolved == fks.count(dimKeys.toSet), s"fks=$fks dim=$dimKeys")
    }
  }

  test("graft_topk ≡ window row_number on random scored pairs (10 cases)") {
    import org.apache.spark.sql.expressions.Window
    // duplicate-heavy scores (small integer range cast to double) force
    // the id tie-break on nearly every group
    val rowGen = Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 30L),
      Gen.choose(0, 3).map(_.toDouble))
    for ((rows, i) <- samples(Gen.nonEmptyListOf(rowGen).map(_.take(60)), 10).zipWithIndex) {
      val scored = rows.distinct.toDF("q_id", "n_id", "cosine")
      val k = 1 + i % 5
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
      assert(heaped == windowed, s"case $i k=$k rows=${rows.take(10)}…")
    }
  }

  test("exact dedup: unique keys, rows drawn from input, one per key") {
    for (rows <- samples(Gen.nonEmptyListOf(
        Gen.zip(Gen.choose(0L, 6L), Gen.alphaNumStr.map(_.take(4)))).map(_.take(15)), 10)) {
      val df = rows.zipWithIndex.map { case ((k, s), i) => (i.toLong, k, s) }
        .toDF("id", "k", "s")
      val out = graft.dedup.DedupStages.exactDedup(df, Seq(col("k")), col("id"))
        .collect()
      assert(out.map(_.getLong(1)).distinct.length == out.length)
      val inputs = rows.zipWithIndex.map { case ((k, s), i) => (i.toLong, k, s) }.toSet
      assert(out.forall(r => inputs((r.getLong(0), r.getLong(1), r.getString(2)))))
      assert(out.length == rows.map(_._1).distinct.length)
    }
  }

  test("chunk: every token covered; zero-overlap chunks reconstruct the doc") {
    val tokGen = Gen.nonEmptyListOf(Gen.choose(0, 99).map(i => s"w$i")).map(_.take(40))
    for ((toks, i) <- samples(tokGen, 12).zipWithIndex) {
      val text = toks.mkString(" ")
      val n = 3 + i % 5            // chunk sizes 3..7
      val ov = i % n               // overlaps 0..n-1 (valid range)
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val out = graft.split.SplitStages.chunk(ComponentSpec("chunk", Map(
        "chunkTokens" -> n, "overlap" -> ov)), newCtx())(df)
        .orderBy("chunk_index").collect()
      // coverage: concatenating chunks with the overlap removed
      // reconstructs the token stream exactly
      val rebuilt = out.zipWithIndex.flatMap { case (r, idx) =>
        val ts = r.getString(2).split(" ").toSeq
        if (idx == 0) ts else ts.drop(ov)
      }
      assert(rebuilt.toSeq == toks,
        s"n=$n ov=$ov toks=$toks rebuilt=${rebuilt.toSeq}")
      // declared chunk_tokens matches the actual window
      out.foreach(r => assert(r.getLong(3) == r.getString(2).split(" ").length.toLong))
    }
  }

  test("sentencesplit: fragments concatenate back to the non-space content") {
    val sentGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.nonEmptyListOf(Gen.alphaNumStr.map(_.take(4)).suchThat(_.nonEmpty)).map(_.take(5)),
      Gen.oneOf(".", "!", "?", ""))).map(_.take(6))
    for (sents <- samples(sentGen, 12)) {
      val text = sents.map { case (ws, p) => ws.mkString(" ") + p }.mkString(" ")
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val out = graft.text.TextStages.sentenceSplit(
        ComponentSpec("sentencesplit", Map.empty), newCtx())(df)
        .orderBy("sent_idx").collect()
      // no content loss: the split is a partition of the non-space chars
      assert(out.map(_.getString(2)).mkString.replaceAll("\\s", "") ==
        text.replaceAll("\\s", ""))
      // indexes strictly increasing
      val idxs = out.map(_.getLong(1)).toSeq
      assert(idxs == idxs.sorted && idxs.distinct == idxs)
    }
  }

  test("langid: total function — any unicode input yields a known code, deterministically") {
    val known = graft.text.LangIdModel.Languages.toSet
    val weird = Seq("", " ", "\u0000", "123 456 !!!", "ÿþý", "🎉🎊🎈",
      "a", "😀 mixed ascii", "\n\t\r", "ﬀﬁ ligatures")
    val gen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr, Gen.asciiPrintableStr,
      Gen.nonEmptyListOf(Gen.choose('', '￮')).map(_.mkString)))
      .map(_.mkString(" "))
    val inputs = weird ++ samples(gen, 40)
    inputs.foreach { s =>
      val p1 = graft.text.LangIdModel.predict(s)
      assert(known.contains(p1), s"unknown code '$p1' for input ${s.take(40)}")
      assert(graft.text.LangIdModel.predict(s) == p1, "non-deterministic")
    }
  }

  test("tfidf: ranks contiguous from 1, scores non-increasing, df consistent") {
    val docGen = Gen.nonEmptyListOf(
      Gen.nonEmptyListOf(Gen.oneOf("apple", "pear", "plum", "kiwi", "fig"))
        .map(_.take(8).mkString(" "))).map(_.take(6))
    for (docs <- samples(docGen, 8)) {
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = graft.text.TextStages.tfidf(
        ComponentSpec("tfidf", Map("k" -> 3)), newCtx())(df).collect()
      val byDoc = out.groupBy(_.getLong(0))
      byDoc.foreach { case (_, rows) =>
        val sorted = rows.sortBy(_.getLong(5))
        assert(sorted.map(_.getLong(5)).toSeq == (1L to sorted.length).toSeq)
        val scores = sorted.map(_.getDouble(4)).toSeq
        assert(scores == scores.sorted.reverse, s"scores not sorted: $scores")
      }
      // df(term) = number of docs containing it
      val termDocs = docs.zipWithIndex.flatMap { case (t, i) =>
        t.split(" ").distinct.map(_ -> i) }.groupBy(_._1).view.mapValues(_.size)
      out.foreach(r => assert(r.getLong(3) == termDocs(r.getString(1)).toLong))
    }
  }

  test("VideoCodec: encode/decode roundtrip exact over arbitrary valid params (40 cases)") {
    import graft.multimodal.VideoCodec
    val gen = for {
      w <- Gen.choose(1, 4096); h <- Gen.choose(1, 4096)
      nf <- Gen.choose(1, 100000)
      ts <- Gen.choose(1L, 1000000L)
      v1 <- Gen.oneOf(true, false)
      // v0 headers carry u32 durations; v1 exercises the 64-bit layout
      dur <- if (v1) Gen.choose(0L, Long.MaxValue / 4)
             else Gen.choose(0L, 0xFFFFFFFFL)
    } yield (w, h, nf, ts, dur, v1)
    samples(gen, 40).foreach { case (w, h, nf, ts, dur, v1) =>
      val bytes = VideoCodec.encodeMp4(w, h, nf, ts, dur, seed = 7L, v1Headers = v1)
      val m = VideoCodec.decode(99L, bytes)
      assert((m.width, m.height, m.n_frames, m.timescale, m.duration) ==
        ((w, h, nf, ts, dur)), s"params w=$w h=$h nf=$nf ts=$ts dur=$dur v1=$v1")
    }
  }

  test("VideoCodec: chunked stsc walk recovers every frame exactly (30 cases)") {
    import graft.multimodal.VideoCodec
    val gen = for {
      nf <- Gen.choose(1, 30)
      sizes <- Gen.listOfN(nf, Gen.choose(1, 20))
      gap <- Gen.choose(0, 9)
      cuts <- Gen.listOfN(nf, Gen.choose(1, 5)) // greedy partition widths
    } yield (sizes, gap, cuts)
    samples(gen, 30).foreach { case (sizes, gap, cuts) =>
      val frames = sizes.zipWithIndex.map { case (n, i) =>
        Array.tabulate(n)(j => (i * 31 + j * 7).toByte) }
      // partition nf into chunk sample-counts from the cut widths
      val chunks = scala.collection.mutable.ArrayBuffer.empty[Int]
      var left = frames.length
      var ci = 0
      while (left > 0) {
        val c = math.min(left, cuts(ci % cuts.length)); chunks += c
        left -= c; ci += 1
      }
      val mp4 = VideoCodec.encodeMjpeg(8, 8, frames, 600L, 480L,
        chunkSizes = chunks.toSeq, interChunkGap = gap)
      val got = VideoCodec.sampleFrames(5L, mp4, 1, 1000)
      assert(got.length == frames.length,
        s"chunks=$chunks gap=$gap: ${got.length} != ${frames.length}")
      got.foreach(s => assert(s.frame.toSeq == frames(s.frame_idx).toSeq,
        s"frame ${s.frame_idx} bytes wrong (chunks=$chunks gap=$gap)"))
    }
  }

  test("jsExpandTemplates: identity on template-free code; expansion concatenates") {
    // backtick-free inputs (including quoted strings with $ and braces)
    // must pass through BYTE-identical
    val tfGen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr.map(s => s.take(8)),
      Gen.oneOf("'a$b'", "\"x{y}\"", "record.x = 1;", "${", "}", "$",
        "if (a) b = 'c;d';"))).map(_.mkString(" "))
    samples(tfGen, 30).foreach { code =>
      assert(graft.stages.Stages.jsExpandTemplates(code) == code, code)
    }
    // plain-text templates become ONE dialect literal with ' and \ escaped
    val txtGen = Gen.listOf(Gen.oneOf("a", "b c", "it's", "x;y", "1+1"))
      .map(_.mkString(" "))
    samples(txtGen, 20).foreach { txt =>
      val out = graft.stages.Stages.jsExpandTemplates(s"record.x = `$txt`;")
      val lit = "'" + txt.replace("\\", "\\\\").replace("'", "\\'") + "'"
      val expected =
        if (txt.isEmpty) "record.x = '';" else s"record.x = $lit;"
      assert(out == expected, s"txt=`$txt` -> $out")
    }
  }

  test("JsScan: literal flags, bracket closes and top-level offsets match a stack walk") {
    val textGen = Gen.listOf(Gen.oneOf("'", "\"", "`", "\\", "(", ")", "[", "]",
      "{", "}", ",", "?", ":", "a", " ")).map(_.mkString)
    // reference: a quote opens a literal that runs to the next same quote
    // not escaped by a backslash (or to the end); outside literals a
    // closer pops the stack only when it matches the innermost opener
    def reference(s: String): (Seq[Boolean], Map[Int, Int], Seq[Int]) = {
      val lit = Array.fill(s.length)(false)
      val closes = Map.newBuilder[Int, Int]
      val top = Seq.newBuilder[Int]
      var stack = List.empty[Int]
      var i = 0
      while (i < s.length) {
        val c = s(i)
        if ("'\"`".contains(c)) {
          var j = i + 1
          while (j < s.length && s(j) != c) j += (if (s(j) == '\\') 2 else 1)
          val end = math.min(j, s.length - 1)
          (i to end).foreach(lit(_) = true)
          i = end + 1
        } else {
          val k = ")]}".indexOf(c)
          if ("([{".contains(c)) {
            if (stack.isEmpty) top += i
            stack = i :: stack
          } else if (k >= 0 && stack.nonEmpty && s(stack.head) == "([{".charAt(k)) {
            closes += stack.head -> i
            stack = stack.tail
            if (stack.isEmpty) top += i
          } else if (stack.isEmpty) top += i
          i += 1
        }
      }
      (lit.toSeq, closes.result(), top.result())
    }
    samples(textGen, 200).foreach { s =>
      val (lit, closes, top) = reference(s)
      val scan = new graft.stages.Stages.JsScan(s)
      assert(s.indices.map(scan.inLiteral) == lit, s)
      assert(s.indices.filter(scan.closing(_) >= 0).map(i => i -> scan.closing(i)).toMap == closes, s)
      assert(s.indices.filter(scan.topLevel) == top, s)
      val commas = top.filter(s(_) == ',')
      val pieces = (-1 +: commas).zip(commas :+ s.length)
        .map { case (a, b) => s.substring(a + 1, b).trim }.filter(_.nonEmpty)
      assert(scan.split(',') == pieces, s)
    }
  }

  test("winsorize: outputs within bounds, unflagged rows unchanged, count kept") {
    val valGen = Gen.listOfN(40, Gen.chooseNum(-1000L, 1000L))
    samples(valGen, 8).zipWithIndex.foreach { case (vs, i) =>
      val df = vs.zipWithIndex.map { case (v, j) => (j.toLong, v) }.toDF("id", "x")
      val out = graft.engine.Engine.transformers("winsorize")(
        graft.spec.ComponentSpec("winsorize", Map("field" -> "x",
          "lower" -> "0.1", "upper" -> "0.9", "flagField" -> "f")),
        newCtx())(df).collect()
      assert(out.length == vs.length, s"case $i: row count changed")
      out.foreach { r =>
        val x = r.getLong(1).toDouble
        val w = r.getDouble(2)
        if (!r.getBoolean(3)) assert(w == x, s"case $i: unflagged row moved")
        else assert(w != x, s"case $i: flagged row kept its value")
      }
      // all clipped rows land on at most TWO values (the two bounds)
      val clipVals = out.filter(_.getBoolean(3)).map(_.getDouble(2)).distinct
      assert(clipVals.length <= 2, s"case $i: clip values $clipVals")
      // clipping is monotone: order by x == order by winsorized (ties allowed)
      val sorted = out.sortBy(_.getLong(1))
      sorted.sliding(2).foreach { case Array(a, b) =>
        if (a.getLong(1) <= b.getLong(1)) assert(a.getDouble(2) <= b.getDouble(2))
      case _ => () }
    }
  }

  test("kcore/coreness consistency: k-core ids == vertices with coreness >= k") {
    val edgeGen = Gen.listOfN(30,
      Gen.zip(Gen.chooseNum(0, 11), Gen.chooseNum(0, 11)))
    samples(edgeGen, 6).zipWithIndex.foreach { case (raw, i) =>
      val edges = raw.map { case (a, b) => (s"n$a", s"n$b") }
      def run(opts: Map[String, Any]) = {
        val ctx = newCtx()
        ctx.addEdges(edges.toDF("src", "dst")
          .withColumn("label", org.apache.spark.sql.functions.lit("e")))
        graft.graph.GraphStages.kcore(
          graft.spec.ComponentSpec("kcore", opts), ctx)(spark.emptyDataFrame)
          .as[(String, Long)].collect().toMap
      }
      val cn = run(Map("mode" -> "coreness"))
      for (k <- 1 to 3) {
        val core = run(Map("k" -> k)).keySet
        val expect = cn.filter(_._2 >= k).keySet
        assert(core == expect,
          s"case $i k=$k: core=$core coreness>=k=$expect (cn=$cn)")
      }
    }
  }

  test("auc symmetry: auc(-score) == 1 - auc(score) on random labeled scores") {
    val rowGen = Gen.zip(Gen.choose(-50L, 50L), Gen.oneOf(true, false))
    for ((rows, i) <- samples(Gen.nonEmptyListOf(rowGen).map(_.take(40)), 8).zipWithIndex) {
      val df = rows.toDF("s", "y")
      def aucOf(d: org.apache.spark.sql.DataFrame): Option[Double] =
        graft.stages.StatStages.auc(ComponentSpec("auc",
          Map("scoreField" -> "s", "labelField" -> "y")), newCtx())(d)
          .select("auc").as[Option[Double]].head()
      val a = aucOf(df)
      val b = aucOf(df.withColumn("s", -col("s")))
      (a, b) match {
        case (Some(x), Some(y)) =>
          assert(math.abs(x + y - 1.0) < 1e-12, s"case $i: $x + $y != 1")
        case (None, None) => // single-class sample: both degenerate
        case other => fail(s"case $i: asymmetric degeneracy $other")
      }
    }
  }

  test("drift TVD: symmetric, in [0,1], zero against itself (8 cases)") {
    val listGen = Gen.nonEmptyListOf(Gen.choose(0, 5)).map(_.take(30))
    for (((xs, ys), i) <- samples(Gen.zip(listGen, listGen), 8).zipWithIndex) {
      val ctx = newCtx()
      xs.toDF("v").createOrReplaceTempView(s"prop_drift_a$i")
      ys.toDF("v").createOrReplaceTempView(s"prop_drift_b$i")
      def tvd(cur: Seq[Int], view: String): Double =
        graft.stages.StatStages.drift(ComponentSpec("drift",
          Map("field" -> "v", "against" -> view)), ctx)(cur.toDF("v"))
          .select("tvd").as[Double].head()
      val ab = tvd(xs, s"prop_drift_b$i")
      val ba = tvd(ys, s"prop_drift_a$i")
      assert(math.abs(ab - ba) < 1e-12, s"case $i: TVD not symmetric")
      assert(ab >= 0.0 && ab <= 1.0, s"case $i: TVD $ab outside [0,1]")
      assert(tvd(xs, s"prop_drift_a$i") == 0.0, s"case $i: self-TVD != 0")
    }
  }

  test("survival: curves are non-increasing in [0,1]; all-event tail hits 0") {
    val rowGen = Gen.zip(Gen.choose(1L, 12L), Gen.oneOf(true, false))
    for ((rows, i) <- samples(Gen.nonEmptyListOf(rowGen).map(_.take(40)), 8).zipWithIndex) {
      val df = rows.toDF("t", "e")
      val curve = graft.stages.StatStages.survival(ComponentSpec("survival",
        Map("timeField" -> "t", "eventField" -> "e")), newCtx())(df)
        .select("time", "survival").as[(Long, Double)].collect().sortBy(_._1)
      curve.foreach { case (_, s) =>
        assert(s >= 0.0 && s <= 1.0, s"case $i: S outside [0,1]") }
      curve.sliding(2).foreach {
        case Array((_, a), (_, b)) =>
          assert(b <= a + 1e-15, s"case $i: survival increased $a -> $b")
        case _ =>
      }
    }
  }

  test("classifyeval totality: sum(tp)+sum(fn) == scored rows == sum(tp)+sum(fp)") {
    val rowGen = Gen.zip(Gen.choose(0, 3), Gen.choose(0, 3))
    for ((rows, i) <- samples(Gen.nonEmptyListOf(rowGen).map(_.take(50)), 8).zipWithIndex) {
      val df = rows.toDF("y", "yhat")
      val per = graft.stages.StatStages.classifyEval(ComponentSpec(
        "classifyeval", Map("labelField" -> "y", "predField" -> "yhat")),
        newCtx())(df)
        .select("tp", "fp", "fn").as[(Long, Long, Long)].collect()
      val n = rows.size.toLong
      assert(per.map(r => r._1 + r._3).sum == n, s"case $i: tp+fn != n")
      assert(per.map(r => r._1 + r._2).sum == n, s"case $i: tp+fp != n")
    }
  }

  test("ewma bounds: smoothed value stays inside the window's [min,max]") {
    val rowGen = Gen.choose(-100L, 100L)
    for ((vals, i) <- samples(Gen.nonEmptyListOf(rowGen).map(_.take(30)), 8).zipWithIndex) {
      val df = vals.zipWithIndex.map { case (v, j) => ("k", j.toDouble, j.toLong, v) }
        .toDF("u", "t", "eid", "v")
      val out = graft.temporal.TemporalStages.ewma(ComponentSpec("ewma",
        Map("field" -> "v", "keyField" -> "u", "tsField" -> "t",
          "tieField" -> "eid", "window" -> 8)), newCtx())(df)
        .select("eid", "v_ewma").as[(Long, Double)].collect().toMap
      vals.zipWithIndex.foreach { case (_, j) =>
        val w = vals.slice(math.max(0, j - 7), j + 1)
        val e = out(j.toLong)
        assert(e >= w.min - 1e-9 && e <= w.max + 1e-9,
          s"case $i pos $j: ewma $e outside [${w.min},${w.max}]")
      }
    }
  }

  test("concentration: gini in [0, 1-1/k]; uniform -> 0; ordering-invariant") {
    val volGen = Gen.nonEmptyListOf(Gen.choose(1L, 20L)).map(_.take(12))
    for ((vols, i) <- samples(volGen, 8).zipWithIndex) {
      val rows = vols.zipWithIndex.flatMap { case (v, j) =>
        Seq.fill(v.toInt)(s"k$j") }
      def gini(rs: Seq[String]): Double =
        graft.stages.StatStages.concentration(ComponentSpec("concentration",
          Map("keyField" -> "k")), newCtx())(rs.toDF("k"))
          .select("gini").as[Double].head()
      val g = gini(rows)
      val k = vols.size.toDouble
      assert(g >= -1e-12 && g <= 1.0 - 1.0 / k + 1e-12,
        s"case $i: gini $g outside [0, 1-1/$k]")
      assert(math.abs(gini(scala.util.Random.javaRandomToRandom(
        new java.util.Random(i)).shuffle(rows)) - g) < 1e-15,
        s"case $i: gini depends on row order")
    }
  }

  test("checksum: any shard partition merges to the whole-table triple (8 cases)") {
    // the merge LAW behind the migration-validation contract: for a
    // random table and a RANDOM partition into 1..5 shards, per-shard
    // checksums merged must equal the whole-table checksum exactly
    val rowGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0L, 50L), Gen.option(Gen.alphaNumStr.map(_.take(6)))))
      .map(_.take(40))
    for ((rows, i) <- samples(rowGen, 8).zipWithIndex) {
      val nShards = i % 5 + 1
      val df = rows.zipWithIndex
        .map { case ((a, b), j) => (j % nShards, a, b.orNull) }
        .toDF("shard", "a", "b")
      def triple(d: org.apache.spark.sql.DataFrame) =
        d.select("n_rows", "xor64", "sum_mod")
          .as[(Long, Long, String)].head()
      val whole = triple(graft.stages.StatStages.checksum(
        ComponentSpec("checksum", Map("fields" -> Seq("a", "b"))),
        newCtx())(df))
      val merged = triple(graft.stages.StatStages.checksumMerge(
        ComponentSpec("checksummerge", Map()), newCtx())(
        graft.stages.StatStages.checksum(ComponentSpec("checksum",
          Map("fields" -> Seq("a", "b"), "groupBy" -> "shard")),
          newCtx())(df)))
      assert(merged == whole, s"case $i shards=$nShards")
    }
  }

  test("kll: n is exact and quantiles within-range under random shardings (6 cases)") {
    val valGen = Gen.nonEmptyListOf(Gen.choose(-1000, 1000)).map(_.take(60))
    for ((vals, i) <- samples(valGen, 6).zipWithIndex) {
      val nShards = i % 4 + 1
      val df = vals.zipWithIndex
        .map { case (v, j) => (j % nShards, v.toDouble) }.toDF("shard", "v")
      val merged = graft.stages.StatStages.kllMerge(
        ComponentSpec("kllmerge", Map("probs" -> Seq(0.0, 0.5, 1.0))),
        newCtx())(graft.stages.StatStages.kllSketch(
          ComponentSpec("kllsketch", Map("field" -> "v",
            "groupBy" -> "shard", "k" -> 256)), newCtx())(df))
        .select("p0", "p50", "p100", "n_values")
        .as[(Double, Double, Double, Long)].head()
      assert(merged._4 == vals.size.toLong, s"case $i: n inexact")
      // n <= k: no compaction, so min/max are EXACT and the median is a
      // real element of the multiset
      assert(merged._1 == vals.min.toDouble && merged._3 == vals.max.toDouble,
        s"case $i: extremes drifted")
      assert(vals.map(_.toDouble).contains(merged._2),
        s"case $i: median ${merged._2} not an element")
    }
  }

  // ---- r19 document codecs: random round-trips beyond the arithmetic
  // fixtures (the fixtures prove oracle agreement; these prove the
  // builders and parsers agree on ARBITRARY content)

  private val pdfLineGen: Gen[String] = Gen.nonEmptyListOf(Gen.frequency(
    (8, Gen.alphaNumChar),
    (3, Gen.oneOf(' ', '(', ')', '\\', '/', '<', '>', '[', ']', '%', '$')),
    (1, Gen.oneOf('#', '~', '!', '?', '.', ','))))
    .map(_.mkString.take(40)).suchThat(_.trim.nonEmpty)

  test("pdf: random text round-trips through every builder layout (18 cases)") {
    import graft.multimodal.PdfCodec
    var case_i = 0
    for (pages <- samples(Gen.nonEmptyListOf(
        Gen.nonEmptyListOf(pdfLineGen).map(_.take(4))).map(_.take(3)), 6)) {
      for (variant <- 0 to 2) {
        val xref15 = case_i % 2 == 0
        case_i += 1
        val bytes = PdfCodec.encodePdf(p => pages(p - 1), pages.size, variant,
          xref15 = xref15)
        val got = PdfCodec.extractPages(9000L + case_i, bytes)
        val want = pages.map(_.mkString("\n"))
        assert(got == want,
          s"variant=$variant xref15=$xref15 pages=$pages got=$got")
      }
    }
  }

  test("zip: random members round-trip (stored + deflate, 10 cases)") {
    import graft.sources.Zip
    val nameGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(12))
    val memberGen = Gen.zip(nameGen,
      Gen.listOf(Gen.choose(0, 255)).map(_.map(_.toByte).toArray.take(512)),
      Gen.oneOf(true, false))
    for ((members0, i) <- samples(Gen.nonEmptyListOf(memberGen).map(_.take(6)), 10).zipWithIndex) {
      // distinct names (an archive may not repeat entry names)
      val members = members0.groupBy(_._1).map(_._2.head).toSeq.sortBy(_._1)
      val bos = new java.io.ByteArrayOutputStream()
      val zos = new java.util.zip.ZipOutputStream(bos)
      members.foreach { case (name, body, stored) =>
        val e = new java.util.zip.ZipEntry(name)
        if (stored) {
          e.setMethod(java.util.zip.ZipEntry.STORED)
          e.setSize(body.length)
          val c = new java.util.zip.CRC32(); c.update(body); e.setCrc(c.getValue)
        }
        zos.putNextEntry(e); zos.write(body); zos.closeEntry()
      }
      zos.close()
      val rows = Zip.parseFile(s"p$i.zip", bos.toByteArray, verifyCrc = true)
        .toSeq.sortBy(_.member)
      assert(rows.map(_.member) == members.map(_._1), s"case $i names")
      rows.zip(members).foreach { case (r, (_, body, stored)) =>
        assert(r.body.toSeq == body.toSeq, s"case $i body of ${r.member}")
        assert(r.size == body.length.toLong)
        assert(r.method == (if (stored) "stored" else "deflate"))
      }
    }
  }

  test("docx: random paragraphs (entities/tabs/runs) round-trip (12 cases)") {
    import graft.multimodal.DocxCodec
    val paraGen: Gen[String] = Gen.listOf(Gen.frequency(
      (8, Gen.alphaNumChar),
      (3, Gen.oneOf(' ', '&', '<', '>', '\t', '\'', '"')),
      (1, Gen.oneOf('.', ',', '!')))).map(_.mkString.take(40))
    for ((paras, i) <- samples(
        Gen.nonEmptyListOf(paraGen).map(_.take(5)), 12).zipWithIndex) {
      val t = DocxCodec.extractText(7000L + i, DocxCodec.encodeDocx(paras))
      assert(t.n_paragraphs == paras.size, s"case $i count")
      assert(t.text == paras.mkString("\n"), s"case $i: $paras -> ${t.text}")
    }
  }
}
