package graft

import graft.engine.{Engine, EtlContext}
import graft.multimodal.MediaFixtures
import java.io.{File, OutputStream}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** Every derived /tmp input of `SparkEntry.queries`, the scale stress and
  * their per-query scratch dirs, and the one rule that decides when a
  * fixture is rebuilt: a CONTENT-KEYED marker. A fixture's
  * key names its generator's revision and the content it derives from,
  * so an edit to the generating arithmetic or regenerated testdata
  * rebuilds it, and nothing else does.
  *
  * Every query fixture of a scale dir is its own keyed subdir of the
  * fixtures dir [[root]] (FIXTURES.md "Derived text inputs" and §C); no
  * keyed dir holds another. The writers stay independent of graft's
  * loaders (`java.util.zip`, hand-built WARC/mbox/wiki framing), so each
  * fixture cross-checks the extractor that reads it; the ground truth
  * stays the parquet the oracle reads.
  */
object Fixtures {

  // ---------------------------------------------------------------------
  // Paths and the cache
  // ---------------------------------------------------------------------

  /** `/tmp/graft_<name>_<hash>`: the one /tmp dir of a (name, scope),
    * where the scope is a scale dir or a stress factor. */
  def dir(name: String, scope: String): String =
    s"/tmp/graft_${name}_${math.abs(scope.hashCode)}"

  /** The fixtures dir of a scale dir: the parent of its keyed fixtures. */
  def root(sfDir: String): String = dir("fx", sfDir)

  /** A query's own output dir, cleared. */
  def scratch(name: String, scope: String): String = {
    val d = dir(name, scope)
    rmrf(new File(d))
    d
  }

  private def rmrf(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(); ()
  }

  private val built = TrieMap.empty[(String, String), String]

  /** Build `dir` once per `key`. When the marker `_graft_<key>` is
    * absent, `dir` is cleared (shards and subdirs of an older build must
    * not survive), `write` runs, and only then is the marker laid: a
    * writer that throws leaves none, so the next call rebuilds. Memoized
    * per JVM. */
  def cached(dir: String, key: String)(write: => Unit): String =
    built.getOrElseUpdate((dir, key), {
      val d = new File(dir)
      val marker = new File(d, s"_graft_$key")
      if (!marker.exists()) {
        rmrf(d)
        d.mkdirs()
        write
        marker.createNewFile()
      }
      dir
    })

  /** [[cached]] for a fixture that is one parquet table. */
  def parquet(dir: String, key: String)(df: => DataFrame): String =
    cached(dir, key)(df.write.mode("overwrite").parquet(dir))

  /** Writes `dir/name` through `write`; a `.gz` name is gzipped. */
  def put(dir: String, name: String)(write: OutputStream => Unit): Unit = {
    val file = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(s"$dir/$name"), 64 * 1024)
    val out = if (name.endsWith(".gz")) new java.util.zip.GZIPOutputStream(file) else file
    try write(out) finally out.close()
  }

  // ---------------------------------------------------------------------
  // Content keys: one tiny aggregate per (input, JVM)
  // ---------------------------------------------------------------------

  private val keys = TrieMap.empty[String, Long]

  /** Content key of the doc_id population every documents fixture
    * derives from: the testdata is REGENERATED between rounds without
    * notice (the round-8 lesson), so a count or id-range drift
    * must invalidate the caches exactly like an arithmetic edit does, or
    * the fixtures silently disagree with oracles recomputed over the NEW
    * documents table. */
  def docKey(spark: SparkSession, sfDir: String): Long =
    keys.getOrElseUpdate(s"doc:$sfDir", {
      val r = spark.read.parquet(s"$sfDir/documents.parquet")
        .agg(count(lit(1)).as("n"),
          min(col("doc_id").cast("long")).as("lo"),
          max(col("doc_id").cast("long")).as("hi")).head()
      r.getLong(0) * 1000003L + r.getLong(1) * 31L + r.getLong(2)
    })

  /** [[docKey]] plus a checksum of the document text: the key of the
    * fixtures that embed the text. */
  def textKey(spark: SparkSession, sfDir: String): String = {
    val ck = keys.getOrElseUpdate(s"text:$sfDir",
      spark.read.parquet(s"$sfDir/documents.parquet")
        .agg(sum(crc32(col("text"))).as("ck")).head().getLong(0))
    s"${docKey(spark, sfDir)}_$ck"
  }

  /** Content key of a whole table: row count and a per-row checksum. */
  private def tableKey(spark: SparkSession, path: String): Long =
    keys.getOrElseUpdate(s"table:$path", {
      val r = spark.read.parquet(path)
        .agg(count(lit(1)), sum(crc32(to_json(struct(col("*")))))).head()
      (r.getLong(0) * 1000003L ^ r.getLong(1)) & Long.MaxValue
    })

  // ---------------------------------------------------------------------
  // Writer parts shared by the query fixtures and the scale stress
  // ---------------------------------------------------------------------

  /** Fixture parquet file count: small single-row-group files scan one
    * task per FILE (Spark packs them ~one per openCost bin), so a
    * multi-file layout is what lets the decode stages' mapPartitions run
    * in parallel locally — exactly the shape a real media corpus has.
    * Also parallelizes generation. */
  private val FixtureFiles = 16

  /** The one per-doc payload table: `(media_id, payload)`, one row per
    * `documents.doc_id`, encoded executor-side. */
  def payloadFrame(spark: SparkSession, sfDir: String)(
      payload: Long => Array[Byte]): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long"))
      .as(Encoders.scalaLong)
      .repartition(FixtureFiles)
      .mapPartitions(_.map(id => (id, payload(id))))(
        Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .toDF("media_id", "payload")

  /** [[payloadFrame]] as a fixture, keyed on `tag` and the doc population. */
  def payloads(spark: SparkSession, sfDir: String, dir: String, tag: String)(
      payload: Long => Array[Byte]): String =
    parquet(dir, s"${tag}_${docKey(spark, sfDir)}")(payloadFrame(spark, sfDir)(payload))

  /** The synthetic corpus text of one seed: 40–199 `w<rank> ` tokens
    * whose log-uniform rank over a 10k vocabulary ≈ zipf(1), a realistic
    * bucket-size skew. */
  def words(seed: Long): String = {
    val r = new scala.util.Random(seed * 2654435761L)
    val len = 40 + (math.abs(seed * 31) % 160).toInt
    val sb = new StringBuilder
    var i = 0
    while (i < len) {
      val rank = math.min(9999, math.exp(r.nextDouble() * math.log(10000.0)).toInt)
      sb.append('w').append(rank).append(' ')
      i += 1
    }
    sb.toString
  }

  private val Crlf = "\r\n"

  /** One ISO 28500 record: version line, headers, Content-Length, a
    * blank line, the payload and the CRLF CRLF trailer. */
  def warcRecord(headers: Seq[(String, String)], payload: Array[Byte]): Array[Byte] = {
    val head = ("WARC/1.0" + Crlf +
      headers.map { case (k, v) => s"$k: $v$Crlf" }.mkString +
      s"Content-Length: ${payload.length}$Crlf$Crlf").getBytes("UTF-8")
    head ++ payload ++ (Crlf + Crlf).getBytes("UTF-8")
  }

  /** `n` shard files written executor-side, one task per shard:
    * `write(f)` writes shard `f`. */
  def shards(spark: SparkSession, n: Int)(write: Long => Unit): Unit =
    spark.range(n).repartition(n).as(Encoders.scalaLong)
      .foreachPartition { (it: Iterator[Long]) => it.foreach(write) }

  private def esc(t: String): String =
    t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private val Epoch = java.time.Instant.parse("2024-01-01T00:00:00Z")

  /** `(doc_id, text)` of every document, in doc_id order. */
  private def texts(s: SparkSession, sfDir: String): Array[(Long, String)] =
    s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))

  /** The doc_ids passing `where`, in order. */
  private def ids(s: SparkSession, sfDir: String, where: Column = lit(true)): Array[Long] =
    s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long")).where(where)
      .orderBy("doc_id").collect().map(_.getLong(0))

  /** `rows` dealt into `n` shards by id mod n; empty shards dropped. */
  private def dealt[T](rows: Array[T], n: Int)(id: T => Long): Seq[(Int, Array[T])] =
    (0 until n).map(f => f -> rows.filter(id(_) % n == f)).filter(_._2.nonEmpty)

  /** A `java.util.zip` member; STORED needs its size and crc preset. */
  private def zipEntry(zos: java.util.zip.ZipOutputStream, name: String,
                       body: Array[Byte], stored: Boolean): Unit = {
    val ent = new java.util.zip.ZipEntry(name)
    if (stored) {
      ent.setMethod(java.util.zip.ZipEntry.STORED)
      ent.setSize(body.length)
      val c = new java.util.zip.CRC32(); c.update(body); ent.setCrc(c.getValue)
    }
    zos.putNextEntry(ent); zos.write(body); zos.closeEntry()
  }

  // ---------------------------------------------------------------------
  // The query fixtures of a scale dir
  // ---------------------------------------------------------------------

  /** Every query fixture, built by the benchmarks' untimed warm-up. */
  val all: Seq[(SparkSession, String) => String] = Seq(fixtures, exactTop5,
    warcFixture, pdfWarcFixture, zipFixture, tarFixture, mboxFixture,
    emlFixture, epubFixture, odtFixture, wikiFixture)

  /** The fixtures dir with its tables, media and text-wrap fixtures
    * (FIXTURES.md "Derived text inputs" and §C), generated from the
    * parquet, so the oracle stays the parquet itself. */
  def fixtures(spark: SparkSession, sfDir: String): String = {
    val fx = root(sfDir)
    tables(spark, sfDir, s"$fx/tables")
    // real encoded images (PNG/JPEG/BMP/animated GIF), one per doc_id,
    // with their media type — the mm_* decode queries' input
    parquet(s"$fx/media_parquet", s"v${MediaFixtures.Version}_${docKey(spark, sfDir)}")(
      MediaFixtures.frame(spark, sfDir))
    MediaFixtures.payloadFixtures.foreach { case (name, tag, payload) =>
      payloads(spark, sfDir, s"$fx/$name", tag)(payload) }
    // script-mix plant (scriptmix's input): minor latin 'a' run +
    // a dominant-script run rotating LATIN/CYRILLIC/HAN by doc_id %
    // 3 — counts are pure doc_id arithmetic, so the oracle recomputes
    // n_letters/top_script and the exact one-division ratio while the
    // engine must classify REAL code points
    parquet(s"$fx/scriptmix_parquet", s"script1_${docKey(spark, sfDir)}") {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"),
          concat(
            repeat(lit("a"), (col("doc_id") % 6).cast("int")),
            lit(" 42, "), // digits/punct are script-neutral
            repeat(element_at(typedLit(Seq("b", "я", "漢")),
              (col("doc_id") % 3).cast("int") + 1),
              (lit(7) + col("doc_id") % 5).cast("int"))).as("text"))
    }
    // LaTeX-wrapped documents (latexstrip's input): the document text
    // embedded in a real article skeleton with planted comments, math,
    // cite/includegraphics drops, an escaped percent, a figure float
    // and styling commands — built with the Spark API (ONE escaping
    // layer; a JSON-SQL wrap would eat backslashes twice).
    parquet(s"$fx/latex_parquet", s"latex1_${textKey(spark, sfDir)}") {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), concat(
          lit("\\documentclass[11pt]{article} % preamble cmt\n"),
          lit("\\begin{document}\n\\title{Doc "),
          col("doc_id").cast("string"),
          lit("}\n\\section{Intro}\nText: "), col("text"),
          lit(" \\cite{x"), col("doc_id").cast("string"),
          lit("} and $e=mc^2$ 100\\% \\textbf{bold"),
          (col("doc_id") % 7).cast("string"),
          lit("}\n\\begin{figure}\n\\includegraphics[width=3cm]{f.png}\n" +
            "\\caption{hidden caption}\n\\end{figure}\n\\end{document}\n"))
          .as("tex"))
    }
    // Markdown-wrapped documents (markdownstrip's input): the document
    // text embedded in a README-shaped skeleton planting every subset
    // family — heading, emphasis, code span, inline/image links, list
    // markers, blockquote, fence, table, setext, link-def, escapes,
    // entity, intraword underscore, thematic break. Spark-API build
    // (ONE escaping layer), like the latex fixture.
    parquet(s"$fx/markdown_parquet", s"md1_${textKey(spark, sfDir)}") {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), concat(
          lit("# Doc "), col("doc_id").cast("string"),
          lit("\n\nIntro *em"), (col("doc_id") % 7).cast("string"),
          lit("* and **bold** plus `code span "),
          (col("doc_id") % 5).cast("string"),
          lit("` here.\n[Link text](http://example.com/"),
          col("doc_id").cast("string"),
          lit(") and ![fig alt "), (col("doc_id") % 3).cast("string"),
          lit("](img.png)\n\n- item one\n2. item two "),
          (col("doc_id") % 4).cast("string"),
          lit("\n\n> quoted tail "), (col("doc_id") % 6).cast("string"),
          lit("\n\n```scala\ncode fence "), (col("doc_id") % 2).cast("string"),
          lit("\n```\n\n| col a | col b |\n|---|---|\n| cell "),
          (col("doc_id") % 8).cast("string"),
          lit(" | x |\n\nSetext "), (col("doc_id") % 9).cast("string"),
          lit("\n====\n[ref]: http://r.example\nBody: "), col("text"),
          lit("\nTail \\*lit\\* snake_case &amp; done\n---\n")).as("md"))
    }
    // multilingual text: one held-out sentence per doc_id, language
    // keyed by doc_id % Languages.length — the langid query must recover
    // the key from the TEXT; the oracle recomputes the arithmetic. Keyed
    // on the holdout data too, so an edit to LangIdModel can never leave
    // a stale fixture disagreeing with the oracle arithmetic.
    locally {
      import graft.text.LangIdModel.{Languages, Holdout, HoldoutK}
      val flat = Languages.flatMap(l => Holdout(l)) // idx = lang*K + sentence
      val contentKey = math.abs(
        scala.util.hashing.MurmurHash3.orderedHash(flat ++ Languages))
      parquet(s"$fx/langid_parquet", s"${contentKey}_${docKey(spark, sfDir)}") {
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"))
          .withColumn("text", element_at(typedLit(flat),
            (expr(s"CAST(doc_id % ${Languages.length} AS INT)") * HoldoutK
              + expr(s"CAST((doc_id DIV ${Languages.length}) % $HoldoutK AS INT)")
              + 1)))
      }
    }
    fx
  }

  /** nation as csv (with and without header, planted-dirty, fixed-width,
    * gzipped) and avro, orders as JSON lines, region as one JSON array
    * document. */
  private def tables(spark: SparkSession, sfDir: String, out: String): String = {
    val key = Seq("nation", "region", "orders")
      .map(t => tableKey(spark, s"$sfDir/$t.parquet")).mkString("_")
    cached(out, s"tables1_$key") {
      val nation = spark.read.parquet(s"$sfDir/nation.parquet")
        .orderBy("n_nationkey").collect()
      def text(name: String, lines: Seq[String]): Unit =
        put(out, name)(_.write(lines.mkString("\n").getBytes("UTF-8")))
      val csvLines = nation.toSeq.map(r => s"${r.get(0)},${r.get(1)},${r.get(2)}")
      val header = "n_nationkey,n_name,n_regionkey"
      text("nation.csv", header +: csvLines)
      text("nation_noheader.csv", csvLines)
      text("nation.csv.gz", header +: csvLines)
      // planted-dirty variant: every 5th row's n_regionkey cell is a
      // non-numeric token (per-field conversion-error fixture)
      text("nation_dirty.csv", header +: nation.toSeq.map { r =>
        val rk = if (r.get(0).toString.toLong % 5 == 2) "bad" else r.get(2).toString
        s"${r.get(0)},${r.get(1)},$rk"
      })
      // nation as FIXED-WIDTH text (the fixedwidth extractor's input):
      // key[1..4] name[5..20] regionkey[21..22, blank every 7th → null]
      // price[23..30] = key · 1.5 (binary-exact halves round-trip %.2f)
      text("nation.fw", nation.toSeq.map { r =>
        val k = r.get(0).toString.toLong
        val rk = if (k % 7 == 3) "  " else f"${r.get(2).toString.toLong}%2d"
        f"$k%4d${r.get(1).toString}%-16s$rk${k * 1.5}%8.2f"
      })
      // orders as JSON-lines (the scalable JSON layout)
      spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").json(s"$out/orders_json")
      // region as a single JSON array-of-objects document
      // (OJsonExtractor.java:75-90 input shape)
      val region = spark.read.parquet(s"$sfDir/region.parquet")
        .orderBy("r_regionkey").toJSON.collect()
      put(out, "region_array.json")(_.write(region.mkString("[", ",", "]").getBytes("UTF-8")))
      // nation as an Avro Object Container File (deflate codec): long/
      // string primitives plus an array and a nested record (the
      // complex→JSON-column mapping) — the `avro` extractor's input
      import org.apache.avro.SchemaBuilder
      import org.apache.avro.generic.{GenericData, GenericRecordBuilder}
      val metaS = SchemaBuilder.record("meta").fields()
        .requiredString("k").requiredLong("v").endRecord()
      val schema = SchemaBuilder.record("nation").fields()
        .requiredLong("n_nationkey")
        .requiredString("n_name")
        .requiredLong("n_regionkey")
        .name("tags").`type`().array().items().stringType().noDefault()
        .name("meta").`type`(metaS).noDefault()
        .optionalString("note")
        .endRecord()
      val w = new org.apache.avro.file.DataFileWriter[GenericData.Record](
        new org.apache.avro.generic.GenericDatumWriter[GenericData.Record](schema))
      w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
      w.create(schema, new File(out, "nation.avro"))
      nation.foreach { r =>
        val nk = r.get(0).toString.toLong
        val rk = r.get(2).toString.toLong
        val tags = new GenericData.Array[AnyRef](
          schema.getField("tags").schema(),
          java.util.Arrays.asList[AnyRef](s"r$rk", s"n$nk"))
        val meta = new GenericRecordBuilder(metaS)
          .set("k", s"key$nk").set("v", nk * 10).build()
        w.append(new GenericRecordBuilder(schema)
          .set("n_nationkey", nk).set("n_name", r.get(1).toString)
          .set("n_regionkey", rk).set("tags", tags).set("meta", meta)
          .set("note", if (nk % 2 == 0) s"even$nk" else null)
          .build().asInstanceOf[GenericData.Record])
      }
      w.close()
    }
  }

  /** Exact brute-force top-5 over embeddings: the recall verdicts of
    * similarity_lsh / similarity_ivf / similarity_ivfpq / quantize_embed
    * all compare against this SAME deterministic exact search. The
    * reference answer is a derived artifact of the table, not cost of the
    * operator under test, so it is computed once per scale dir through
    * the real `similarity` stage; the APPROXIMATE side of every query
    * stays fully timed. */
  def exactTop5(s: SparkSession, sfDir: String): String =
    parquet(s"${root(sfDir)}/exact5",
      s"top5v1_${tableKey(s, s"$sfDir/embeddings.parquet")}") {
      val c = new EtlContext(s)
      Engine.registerSfTables(c, sfDir)
      Engine.runJson(c, s"""{
        "source": {"file": {"path": "$sfDir/embeddings.parquet"}},
        "extractor": {"parquet": {}},
        "transformers": [{"similarity": {"idField": "vec_id",
          "field": "embedding", "k": 5}}],
        "loader": {"memory": {}} }""")
        .select("q_id", "n_id", "rank")
    }

  /** A 16-file web-crawl archive (mixed .warc.gz / .warc): warcinfo +
    * request + response records whose every field is doc_id arithmetic
    * and whose response bodies wrap the document text in escaped HTML.
    * The warc extractor must recover the facts from real ISO 28500
    * framing (Content-Length walks, multi-record gzip, HTTP payload
    * splits); the oracle recomposes the arithmetic from the parquet. */
  def warcFixture(s: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/warc"
    cached(out, s"warcv1_${textKey(s, sfDir)}") {
      for ((f, mine) <- dealt(texts(s, sfDir), 16)(_._1)) {
        val bos = new java.io.ByteArrayOutputStream()
        bos.write(warcRecord(Seq(
          "WARC-Type" -> "warcinfo",
          "WARC-Record-ID" -> f"<urn:uuid:00000000-0000-0000-0001-${f}%012d>",
          "WARC-Date" -> Epoch.toString,
          "Content-Type" -> "application/warc-fields"),
          s"software: graft/13$Crlf".getBytes("UTF-8")))
        for ((id, text) <- mine) {
          val uri = s"https://ex.com/doc/$id"
          val date = Epoch.plusSeconds(id).toString
          if (id % 5 == 0)
            bos.write(warcRecord(Seq(
              "WARC-Type" -> "request",
              "WARC-Record-ID" -> f"<urn:uuid:00000000-0000-0000-0002-${id}%012d>",
              "WARC-Date" -> date,
              "WARC-Target-URI" -> uri,
              "Content-Type" -> "application/http; msgtype=request"),
              (s"GET /doc/$id HTTP/1.1$Crlf" + s"Host: ex.com$Crlf$Crlf")
                .getBytes("UTF-8")))
          val http =
            if (id % 7 == 3)
              s"HTTP/1.1 404 Not Found$Crlf" +
                s"Content-Type: text/plain$Crlf$Crlf" + s"not found $id"
            else
              s"HTTP/1.1 200 OK$Crlf" +
                s"Content-Type: text/html; charset=utf-8$Crlf$Crlf" +
                s"<html><body><h2>D$id</h2><p>${esc(text)}</p></body></html>"
          bos.write(warcRecord(Seq(
            "WARC-Type" -> "response",
            "WARC-Record-ID" -> f"<urn:uuid:00000000-0000-0000-0003-${id}%012d>",
            "WARC-Date" -> date,
            "WARC-Target-URI" -> uri,
            "Content-Type" -> "application/http; msgtype=response"),
            http.getBytes("UTF-8")))
        }
        // mixed layout: even shards gzipped (the production form),
        // odd shards plain — both parser branches stay exercised
        put(out, f"part-$f%02d.warc" + (if (f % 2 == 0) ".gz" else ""))(
          _.write(bos.toByteArray))
      }
    }
  }

  /** 8 WARC shards (mixed .warc.gz / .warc) whose response bodies are
    * the REAL PDF payloads of MediaFixtures.pdfPayload (every 3rd doc
    * carries a text/html decoy the content-type routing must drop) — the
    * warc_pdf composition's input. */
  def pdfWarcFixture(s: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/pdfwarc"
    // v4: + xref-stream layout class (v3 /Info, v2 figures)
    cached(out, s"pdfwarcv4_${docKey(s, sfDir)}") {
      for ((f, mine) <- dealt(ids(s, sfDir), 8)(identity)) {
        val bos = new java.io.ByteArrayOutputStream()
        for (id <- mine) {
          val isPdf = id % 3 != 1 // every 3rd: an html decoy record
          val (ct, body) =
            if (isPdf) ("application/pdf", MediaFixtures.pdfPayload(id))
            else ("text/html", s"<html><body>decoy $id</body></html>"
              .getBytes("UTF-8"))
          val http = (s"HTTP/1.1 200 OK$Crlf" +
            s"Content-Type: $ct$Crlf$Crlf").getBytes("UTF-8") ++ body
          bos.write(warcRecord(Seq(
            "WARC-Type" -> "response",
            "WARC-Record-ID" -> f"<urn:uuid:00000000-0000-0000-0005-${id}%012d>",
            "WARC-Date" -> Epoch.plusSeconds(id).toString,
            "WARC-Target-URI" -> s"https://ex.com/pdf/$id",
            "Content-Type" -> "application/http; msgtype=response"),
            http))
        }
        put(out, f"part-$f%02d.warc" + (if (f % 2 == 0) ".gz" else ""))(
          _.write(bos.toByteArray))
      }
    }
  }

  /** 8 archives written with java.util.zip.ZipOutputStream — an
    * INDEPENDENT writer, so the extractor's own EOCD/central-directory
    * walk is checked against a second implementation of the format. One
    * member per doc (`doc/<id>.txt`, body = the document text; stored
    * for ids ≡ 0 mod 5, deflate otherwise) plus a directory entry the
    * walk must skip. */
  def zipFixture(s: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/zip"
    cached(out, s"zipv1_${textKey(s, sfDir)}") {
      for ((f, mine) <- dealt(texts(s, sfDir), 8)(_._1))
        put(out, f"part-$f%02d.zip") { o =>
          val zos = new java.util.zip.ZipOutputStream(o)
          zos.putNextEntry(new java.util.zip.ZipEntry(s"dir$f/")); zos.closeEntry()
          for ((id, text) <- mine)
            zipEntry(zos, s"doc/$id.txt", text.getBytes("UTF-8"), stored = id % 5 == 0)
          zos.finish()
        }
    }
  }

  /** 8 ustar archives (graft.sources.Tar.archive builder — cross-checked
    * against /usr/bin/tar in TarSpec), one member per doc (`doc/<id>.txt`,
    * body = the document text, mtime = 1500000000 + doc_id) plus a
    * directory entry the walk must skip. Odd shards are gzipped
    * (`.tar.gz`) so the magic-detected gunzip path runs on real data. */
  def tarFixture(s: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/tar"
    cached(out, s"tarv1_${textKey(s, sfDir)}") {
      for ((f, mine) <- dealt(texts(s, sfDir), 8)(_._1)) {
        val members = mine.toSeq.map { case (id, text) =>
          (s"doc/$id.txt", 1500000000L + id, text.getBytes("UTF-8")) }
        val bytes = graft.sources.Tar.archive(members, dirs = Seq(s"dir$f"))
        put(out, f"part-$f%02d.tar" + (if (f % 2 == 1) ".gz" else ""))(_.write(bytes))
      }
    }
  }

  /** 8 RFC 4155 mail archives, one message per doc — four body classes by
    * doc_id % 4 (plain + an mboxrd '>From '-quoted line, quoted-printable
    * with a soft break, MIME base64, multipart/mixed whose text/plain part
    * must win over the html part) and RFC 2047 Q-encoded subjects on even
    * ids. Ground truth is doc arithmetic. */
  def mboxFixture(s: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/mbox"
    cached(out, s"mboxv2_${textKey(s, sfDir)}") {
      for ((f, mine) <- dealt(texts(s, sfDir), 8)(_._1)) {
        val sb = new StringBuilder
        for ((id, text) <- mine) {
          // the class-0 body splices raw corpus text UNQUOTED — a
          // future corpus with newlines would need mboxrd quoting
          // here AND in the oracle (the fixture-drift rule); fail
          // by name instead of silently misframing messages
          require(!text.contains('\n'), s"mbox fixture: doc $id text " +
            "contains a newline — the corpus changed shape; add " +
            "mboxrd '>From' quoting to this builder and mirror it " +
            "in the mbox_extract oracle")
          sb.append("From alice@example.com Thu Jan  1 00:00:00 2026\n")
          sb.append(if (id % 2 == 0)
            s"Subject: =?UTF-8?Q?Msg_caf=C3=A9_$id?=\n"
          else s"Subject: Msg $id\n")
          sb.append(s"From: User $id <user$id@example.com>\n")
          sb.append("Date: Thu, 1 Jan 2026 00:00:00 +0000\n")
          sb.append(s"Message-ID: <m$id@example.com>\n")
          // reply chains of four: roots at id % 4 == 0, each other
          // message replies to its predecessor (thread depth =
          // id % 4 — the mail_threads composition's ground truth)
          if (id % 4 != 0)
            sb.append(s"In-Reply-To: <m${id - 1}@example.com>\n")
          (id % 4) match {
            case 0 =>
              sb.append("Content-Type: text/plain; charset=utf-8\n\n")
              sb.append(text).append("\n>From here on\n")
            case 1 =>
              sb.append("Content-Type: text/plain; charset=utf-8\n")
              sb.append("Content-Transfer-Encoding: quoted-printable\n\n")
              sb.append(s"QP caf=C3=A9 bo=\ndy $id\n")
            case 2 =>
              sb.append("Content-Type: text/plain; charset=utf-8\n")
              sb.append("Content-Transfer-Encoding: base64\n\n")
              sb.append(java.util.Base64.getMimeEncoder.encodeToString(
                s"B64 body $id é".getBytes("UTF-8"))).append("\n")
            case _ =>
              sb.append(s"""Content-Type: multipart/mixed; boundary="b$id"""")
              sb.append("\n\n")
              sb.append(s"preamble\n--b$id\nContent-Type: text/html\n\n")
              sb.append(s"<p>html $id</p>\n--b$id\n")
              sb.append("Content-Type: text/plain; charset=utf-8\n\n")
              sb.append(s"MP plain $id\n--b$id--\n")
          }
        }
        put(out, f"part-$f%02d.mbox")(_.write(sb.toString.getBytes("UTF-8")))
      }
    }
  }

  /** One bare RFC 5322 message file per doc ≡ 1 mod 4 (no mbox envelope
    * — the per-message export convention): RFC 2047 B-encoded subject +
    * quoted-printable body, both doc arithmetic. */
  def emlFixture(s: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/eml"
    cached(out, s"emlv1_${docKey(s, sfDir)}") {
      for (id <- ids(s, sfDir, col("doc_id") % 4 === 1)) {
        val subj = java.util.Base64.getEncoder.encodeToString(
          s"Eml café $id".getBytes("UTF-8"))
        val body = s"Subject: =?UTF-8?B?$subj?=\n" +
          s"Message-ID: <e$id@example.com>\n" +
          "Content-Type: text/plain; charset=utf-8\n" +
          "Content-Transfer-Encoding: quoted-printable\n\n" +
          s"E=C3=A9 body $id"
        put(out, s"m$id.eml")(_.write(body.getBytes("UTF-8")))
      }
    }
  }

  /** One real .epub per doc ≡ 0 mod 4 (java.util.zip writer) — a STORED
    * `mimetype` member (the EPUB OCF signature rule) plus 1–2 deflated
    * OEBPS/chN.xhtml chapters whose body text is pure doc_id arithmetic.
    * The epub_extract composition (zip extractor → htmlextract) must
    * recover it. */
  def epubFixture(s: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/epub"
    cached(out, s"epubv1_${docKey(s, sfDir)}") {
      for (id <- ids(s, sfDir, col("doc_id") % 4 === 0))
        put(out, s"doc$id.epub") { o =>
          val zos = new java.util.zip.ZipOutputStream(o)
          zipEntry(zos, "mimetype", "application/epub+zip".getBytes("US-ASCII"), stored = true)
          for (ch <- 1 to (if (id % 8 == 0) 2 else 1))
            zipEntry(zos, s"OEBPS/ch$ch.xhtml",
              (s"<html><head><title>c$ch</title></head><body>" +
                s"<h1>Ch $ch</h1><p>Body $ch of doc $id</p></body></html>")
                .getBytes("UTF-8"), stored = false)
          zos.finish()
        }
    }
  }

  /** One real OpenDocument Text file per doc ≡ 2 mod 4 (java.util.zip
    * writer) — STORED `mimetype` first (the ODF OCF signature rule, same
    * as EPUB) + a deflated content.xml whose text:p paragraphs carry doc
    * arithmetic. odt_extract composes the zip extractor with
    * htmlextract: the ODF tags strip like any markup, newlines between
    * paragraphs collapse to single spaces. */
  def odtFixture(s: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/odt"
    cached(out, s"odtv1_${docKey(s, sfDir)}") {
      for (id <- ids(s, sfDir, col("doc_id") % 4 === 2))
        put(out, s"doc$id.odt") { o =>
          val zos = new java.util.zip.ZipOutputStream(o)
          zipEntry(zos, "mimetype",
            "application/vnd.oasis.opendocument.text".getBytes("US-ASCII"), stored = true)
          zipEntry(zos, "content.xml",
            (s"""<?xml version="1.0" encoding="UTF-8"?>""" +
              "<office:document-content xmlns:office=\"urn:oasis:names:tc:opendocument:xmlns:office:1.0\">" +
              "<office:body><office:text>" +
              s"<text:h>Odt $id</text:h>\n" +
              s"<text:p>First part of doc $id</text:p>\n" +
              s"<text:p>Second part ${id % 6}</text:p>" +
              "</office:text></office:body></office:document-content>")
              .getBytes("UTF-8"), stored = false)
          zos.finish()
        }
    }
  }

  /** A Wikipedia dump: 8 shards (mixed .xml / .xml.gz) of
    * <mediawiki><page>… records whose <text> carries the document text
    * wrapped in real wikitext markup (templates, tables, refs, links,
    * headings, bullets — each a plant the wikitext stage must strip). */
  def wikiFixture(s: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/wiki"
    cached(out, s"wikiv1_${textKey(s, sfDir)}") {
      for ((f, mine) <- dealt(texts(s, sfDir), 8)(_._1)) {
        val sb = new StringBuilder
        sb.append("<mediawiki xml:lang=\"en\">\n")
        for ((id, text) <- mine) {
          val wiki =
            s"== Heading $id ==\n" +
            s"'''Bold''' intro with a [[Main Link|label $id]] and [[Plain]].\n" +
            s"{{Infobox|key=value|n=$id}}\n" +
            "{| class=\"wikitable\"\n| cell\n|}\n" +
            s"<ref name=\"r$id\">citation</ref>\n" +
            s"[[File:Pic$id.png|thumb|A [[nested]] caption]]\n" +
            s"[https://ex.com/$id ext label] and text follows.\n" +
            "* bullet one\n" + text
          sb.append("<page><title>Page ").append(id)
            .append("</title><ns>0</ns><id>").append(id)
            .append("</id><revision><id>").append(id * 7)
            .append("</id><timestamp>").append(Epoch.plusSeconds(id))
            .append("</timestamp><text bytes=\"")
            .append(wiki.getBytes("UTF-8").length).append("\">")
            .append(esc(wiki)).append("</text></revision></page>\n")
        }
        sb.append("</mediawiki>\n")
        put(out, f"shard-$f%02d.xml" + (if (f % 2 == 0) ".gz" else ""))(
          _.write(sb.toString.getBytes("UTF-8")))
      }
    }
  }
}
