package graft

import graft.sources.Xml
import graft.text.Wikitext
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the XML record extractor and the wikitext cleaner. */
class XmlParserSpec extends AnyFunSuite {

  test("record slicing: rowTag boundaries, name-prefix rejection, nesting is an error") {
    val doc = "<root><page><id>1</id></page><pageX>no</pageX><page><id>2</id></page></root>"
    val recs = Xml.records(doc, "page").toList
    assert(recs.size == 2)
    assert(recs.head.contains("<id>1</id>"))
    val nested = "<page><page><id>1</id></page></page>"
    val e = intercept[RuntimeException](Xml.records(nested, "page").toList)
    assert(e.getMessage.contains("nest"))
    // a child whose name merely STARTS with rowTag is not nesting
    val prefixChild = "<page><pagex>ok</pagex><id>1</id></page>"
    assert(Xml.records(prefixChild, "page").toList.size == 1)
    assert(Xml.recordFields(prefixChild, "page")("pagex") == "ok")
    val unterminated = "<page><id>1</id>"
    val e2 = intercept[RuntimeException](Xml.records(unterminated, "page").toList)
    assert(e2.getMessage.contains("unterminated"))
  }

  test("record fields: leaf decode, raw nested children, attributes, repeats, self-closing") {
    val rec = "<page lang=\"en\" beta>" +
      "<title>A &amp; B &#65;</title>" +
      "<empty/>" +
      "<revision><id>9</id><text bytes=\"3\">x &lt;hi&gt;</text></revision>" +
      "<tag>one</tag><tag>two</tag>" +
      "</page>"
    val f = Xml.recordFields(rec, "page")
    assert(f("_lang") == "en")
    assert(f("title") == "A & B A")              // entity + numeric decode
    assert(f("empty") == "")
    assert(f("revision").startsWith("<id>9</id>")) // raw inner XML, not decoded
    assert(f("revision").contains("&lt;hi&gt;"))
    assert(f("tag") == "one\ntwo")               // repeats concatenate
  }

  test("same-name nesting inside a child resolves to the MATCHING close tag") {
    val rec = "<page><a>outer <a>inner</a> tail</a><b>ok</b></page>"
    val f = Xml.recordFields(rec, "page")
    assert(f("a") == "outer <a>inner</a> tail")
    assert(f("b") == "ok")
  }

  test("depth scan name boundary: <id_x>/<id-x>/<id:x> are NOT nested <id> opens") {
    // '_'/':'/'-' continue an element name — the close-tag depth scan
    // must use the same boundary rule as the tag-name scan, or
    // <id_x> inside <id> never returns to depth 0
    val rec = "<page><id>7<id_x>nope</id_x></id><v>ok</v></page>"
    val f = Xml.recordFields(rec, "page")
    assert(f("id") == "7<id_x>nope</id_x>")
    assert(!f.contains("id_x")) // not a DIRECT child — it sits inside <id>
    assert(f("v") == "ok")
    val dash = "<page><id>9<id-x>d</id-x></id></page>"
    assert(Xml.recordFields(dash, "page")("id") == "9<id-x>d</id-x>")
    val colon = "<page><id>3<id:x>c</id:x></id></page>"
    assert(Xml.recordFields(colon, "page")("id") == "3<id:x>c</id:x>")
    // a FALSE open before the close must rescan, not swallow the close:
    // a true nested <id> after <id_x/> still needs its own close
    val mixed = "<page><id>a<id_x/><id>b</id>c</id></page>"
    assert(Xml.recordFields(mixed, "page")("id") == "a<id_x/><id>b</id>c")
  }
}

class WikitextSpec extends AnyFunSuite {
  private def c(s: String) = Wikitext.clean(s)

  test("templates and tables strip nest-aware; unterminated drops to end") {
    assert(c("a {{tpl|x={{inner}}}} b") == "a b")
    assert(c("a {| t \n| {{tpl}} cell\n|} b") == "a b")
    assert(c("a {{never closed...") == "a")
  }

  test("links: piped label, plain target, media dropped whole, nested captions") {
    assert(c("[[Target|label]]") == "label")
    assert(c("[[Plain]]") == "Plain")
    assert(c("x [[File:Pic.png|thumb|A [[nested]] caption]] y") == "x y")
    assert(c("x [[Image:I.jpg|cap]] y [[Category:Z]] z") == "x y z")
    assert(c("[[a|b|c]]") == "c")             // label = last pipe
    assert(c("see [[link") == "see")          // unterminated drops
  }

  test("external links, quotes, headings, bullets, refs, comments, tags") {
    assert(c("[https://x.org/1 ext label] tail") == "ext label tail")
    assert(c("'''''all''''' '''b''' ''i''") == "all b i")
    assert(c("== Head ==\nbody") == "Head body")
    assert(c("* one\n# two\n:; three") == "one two three")
    assert(c("a<ref name=\"r\">cite</ref> b<ref x/> c") == "a b c")
    assert(c("a <!-- hidden --> b <br/> c") == "a b c")
  }

  test("entities decode FIRST (dump wikitext arrives XML-escaped)") {
    assert(c("&lt;ref&gt;cite&lt;/ref&gt; kept &amp; sound") == "kept & sound")
    assert(c("A &#66; C") == "A B C")
  }
}

class AvroSpec extends SparkSpec {
  import graft.engine.Engine
  import org.apache.avro.SchemaBuilder
  import org.apache.avro.generic.{GenericData, GenericRecordBuilder}

  private def writeAvro(f: java.io.File,
                        schema: org.apache.avro.Schema,
                        recs: Seq[GenericData.Record]): Unit = {
    val w = new org.apache.avro.file.DataFileWriter[GenericData.Record](
      new org.apache.avro.generic.GenericDatumWriter[GenericData.Record](schema))
    w.create(schema, f)
    recs.foreach(w.append)
    w.close()
  }

  test("avro writer: partition-parallel containers, nulls, overwrite clears") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_avro_w").toString
    val df = spark.range(100).select(col("id"),
      concat(lit("n"), col("id")).as("name"),
      when(col("id") % 7 === 0, lit(null).cast("string")).otherwise(lit("v")).as("opt"))
      .repartition(4)
    graft.sources.Avro.write(df, dir, graft.spec.ComponentSpec("avro", Map()))
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".avro")) == 4)
    val back = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$dir"}},
      "extractor": {"avro": {}},
      "loader": {"memory": {}} }""")
    assert(back.count() == 100)
    assert(back.where(col("opt").isNull).count() == 15)
    assert(back.where(col("id") === 42).select("name").as[String].head() == "n42")
    // overwrite replaces, never appends
    graft.sources.Avro.write(df.limit(10).coalesce(1), dir,
      graft.spec.ComponentSpec("avro", Map()))
    val again = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$dir"}},
      "extractor": {"avro": {}},
      "loader": {"memory": {}} }""")
    assert(again.count() == 10)
  }

  test("avro extractor: widening, nullable unions, enum, bytes; drift fails loud") {
    val dir = java.nio.file.Files.createTempDirectory("graft_avro_spec").toFile
    val schema = SchemaBuilder.record("r").fields()
      .requiredInt("i")                      // int → long
      .requiredFloat("f")                    // float → double
      .optionalString("s")                   // ["null", string] → nullable
      .name("e").`type`().enumeration("col").symbols("red", "blue").noDefault()
      .requiredBytes("b")
      .endRecord()
    def rec(i: Int, s: String) = {
      val b = new GenericRecordBuilder(schema)
        .set("i", i).set("f", i * 0.5f).set("s", s)
        .set("e", new GenericData.EnumSymbol(schema.getField("e").schema(),
          if (i % 2 == 0) "red" else "blue"))
        .set("b", java.nio.ByteBuffer.wrap(Array[Byte](i.toByte, 7)))
      b.build().asInstanceOf[GenericData.Record]
    }
    writeAvro(new java.io.File(dir, "a.avro"), schema,
      Seq(rec(1, "x"), rec(2, null)))
    val out = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$dir"}},
      "extractor": {"avro": {}},
      "loader": {"memory": {}} }""").orderBy("i")
    assert(out.schema.map(f => (f.name, f.dataType.simpleString)).toSeq ==
      Seq("i" -> "bigint", "f" -> "double", "s" -> "string",
          "e" -> "string", "b" -> "binary"))
    val rows = out.collect()
    assert(rows(0).getLong(0) == 1L && rows(0).getDouble(1) == 0.5)
    assert(rows(0).getString(3) == "blue")
    assert(rows(1).isNullAt(2))
    assert(rows(0).getAs[Array[Byte]]("b").toSeq == Seq(1.toByte, 7.toByte))
    // a second file with a DIFFERENT field layout fails loud, never reshapes
    val other = SchemaBuilder.record("r").fields().requiredInt("zzz").endRecord()
    writeAvro(new java.io.File(dir, "z.avro"), other,
      Seq(new GenericRecordBuilder(other).set("zzz", 1)
        .build().asInstanceOf[GenericData.Record]))
    val e = intercept[Exception](Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$dir"}},
      "extractor": {"avro": {}},
      "loader": {"memory": {}} }""").collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("plan schema"), msgs)
  }
}

class XmlStageSpec extends SparkSpec {
  import graft.engine.Engine

  test("xml extractor through the engine: schema learning, gz shard, wikitext chain") {
    val dir = java.nio.file.Files.createTempDirectory("graft_xml_spec").toString
    def page(id: Int, text: String) =
      s"<page><title>T$id</title><id>$id</id><text>$text</text></page>"
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.xml"),
      s"<mw>${page(1, "'''x''' [[A|a]]")}${page(2, "{{t}} plain")}</mw>".getBytes("UTF-8"))
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/b.xml.gz"))
    gz.write(s"<mw>${page(3, "z")}</mw>".getBytes("UTF-8")); gz.close()
    val out = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$dir"}},
      "extractor": {"xml": {"rowTag": "page"}},
      "transformers": [{"wikitext": {}}],
      "loader": {"memory": {}} }""").orderBy("id")
    assert(out.columns.toSeq == Seq("title", "id", "text"))
    val rows = out.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("T1", "T2", "T3"))
    assert(rows.map(_.getString(2)).toSeq == Seq("x a", "plain", "z"))
    // a truncated gzip shard fails by name with the codec and the file,
    // at read time and in the plan-time peek alike
    def causes(t: Throwable) = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")
    val cut = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "b.xml.gz"))
      .dropRight(12)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "c.xml.gz"), cut)
    val onlyCut = java.nio.file.Files.createTempDirectory("graft_xml_cut").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(onlyCut, "c.xml.gz"), cut)
    for (d <- Seq(dir, onlyCut)) {
      val e = intercept[Exception](within(60)(Engine.runJson(newCtx(), s"""{
        "source": {"file": {"path": "$d"}},
        "extractor": {"xml": {"rowTag": "page"}},
        "loader": {"memory": {}} }""").collect()))
      assert(causes(e).contains("xml: corrupt gzip stream") &&
        causes(e).contains("c.xml.gz"), causes(e))
    }
  }

  test("avro and xml extractors peek a file: URI directory, as their read does") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_peek_uri").toFile
    val avroDir = new java.io.File(dir, "avro")
    graft.sources.Avro.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"),
      avroDir.toString, graft.spec.ComponentSpec("avro", Map()))
    val xmlDir = new java.io.File(dir, "xml"); xmlDir.mkdirs()
    java.nio.file.Files.write(new java.io.File(xmlDir, "a.xml").toPath,
      "<mw><page><id>1</id></page><page><id>2</id></page></mw>".getBytes("UTF-8"))
    for ((sub, extractor) <- Seq(avroDir -> "\"avro\": {}",
                                 xmlDir -> "\"xml\": {\"rowTag\": \"page\"}")) {
      val out = Engine.runJson(newCtx(), s"""{
        "source": {"file": {"path": "${sub.toURI}"}},
        "extractor": {$extractor},
        "loader": {"memory": {}} }""")
      assert(out.columns.contains("id") && out.count() == 2, sub)
    }
  }
}
