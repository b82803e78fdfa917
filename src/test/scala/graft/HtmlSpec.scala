package graft

import graft.functions.Html
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the single-pass HTML parser ([[graft.functions.Html]])
  * plus the `htmlextract` stage wiring (codegen path, null handling). */
class HtmlParserSpec extends AnyFunSuite {

  private def text(h: String): String = Html.parse(h)._1
  private def title(h: String): String = Html.parse(h)._2
  private def links(h: String): Seq[String] =
    scala.jdk.CollectionConverters.ListHasAsScala(Html.parse(h)._3)
      .asScala.map(_.toString).toSeq

  test("tags strip to whitespace boundaries, collapsed and trimmed") {
    assert(text("<p>a</p> <p> b   c </p>") == "a b c")
    assert(text("  <div>x</div>  ") == "x")
    assert(text("a<b>b</b>c") == "a b c")
  }

  test("script and style content is removed, even with embedded tags/quotes") {
    assert(text("""<p>a</p><script>if (1 < 2) { s = "</b>"; }</script><p>b</p>""") == "a b")
    assert(text("<style>p { color: red }</style>hi") == "hi")
    assert(text("<SCRIPT>x</ScRiPt>ok") == "ok")
    // unterminated raw-text element swallows the rest — never emits code
    assert(text("<p>a</p><script>var x = 1;") == "a")
  }

  test("comments and doctype are removed; quoted '>' does not end a tag") {
    assert(text("<!DOCTYPE html><p>a<!-- <b>hidden</b> -->b</p>") == "a b")
    assert(text("""<a title="x>y">link</a>""") == "link")
    assert(text("""<a title='x>y'>link</a>""") == "link")
  }

  test("entities decode in one pass; invalid forms stay literal") {
    assert(text("a &amp; b") == "a & b")
    assert(text("&lt;tag&gt; &quot;q&quot; &apos;a&apos;") == "<tag> \"q\" 'a'")
    assert(text("x&nbsp;y") == "x y")
    assert(text("&#65;&#x42;&#X43;") == "ABC")
    // single pass: &amp;#65; is the literal text &#65;, never 'A'
    assert(text("&amp;#65;") == "&#65;")
    assert(text("5 &lt 6") == "5 &lt 6")       // unterminated → literal
    assert(text("&bogus;") == "&bogus;")        // unknown name → literal
    assert(text("&#zz;") == "&#zz;")            // bad number → literal
    assert(text("a & b") == "a & b")            // bare ampersand
  }

  test("bare '<' in text is literal") {
    assert(text("5 < 6 and 7 > 2") == "5 < 6 and 7 > 2")
  }

  test("body-only extraction when a body tag exists; title captured separately") {
    val h = "<html><head><title>T1</title><meta x=1></head>" +
      "<body><p>content</p></body></html>"
    assert(text(h) == "content")
    assert(title(h) == "T1")
    // no body tag: whole document (minus head-ish tags' markup)
    assert(text("<p>a</p><p>b</p>") == "a b")
    assert(title("<p>a</p>") == null)
    // first title wins
    assert(title("<title>one</title><title>two</title>") == "one")
    // entities decode inside the title
    assert(title("<title>a &amp; b</title>") == "a & b")
  }

  test("links collect in document order, entity-decoded, both quote styles") {
    val h = """<a href="http://x/1?a=1&amp;b=2">one</a><a href='http://x/2'>two</a>""" +
      """<a rel=nofollow href="http://x/3">three</a><a name="anchor">none</a>"""
    assert(links(h) == Seq("http://x/1?a=1&b=2", "http://x/2", "http://x/3"))
  }

  test("link pairs: anchor text collapsed + decoded; no-href/implicit-close/EOF edges") {
    import graft.functions.Html
    def pairs(h: String) =
      Html.parse(h)._4.toArray.toSeq.map { case a: Array[org.apache.spark.unsafe.types.UTF8String] =>
        (a(0).toString, a(1).toString) }
    val h = """<a href="http://x/1?a=1&amp;b=2">go &amp; see <b>it</b>-now</a>""" +
      """<a name="x">no href text</a><a href='http://x/2'>two"""
    // nested <b> is a whitespace boundary; entity decodes; the second
    // anchor has no href (no pair); the third is open at EOF and flushes
    assert(pairs(h) == Seq(
      ("http://x/1?a=1&b=2", "go & see it -now"),
      ("http://x/2", "two")))
    // a new <a> implicitly closes the open one (invalid nesting)
    assert(pairs("""<a href="u1">one<a href="u2">two</a>""") ==
      Seq(("u1", "one"), ("u2", "two")))
    // comments inside an anchor are boundaries, not text
    assert(pairs("""<a href="u">x<!-- hidden -->y</a>""") == Seq(("u", "x y")))
    // link-only hrefs still collect in the flat list identically
    assert(Html.parse(h)._3.toArray.toSeq.map(_.toString) ==
      Seq("http://x/1?a=1&b=2", "http://x/2"))
  }

  test("tables: rows/cells in order; implicit closes; nested flows into cell") {
    def tbl(h: String): Seq[(Int, Int, Seq[String])] =
      scala.jdk.CollectionConverters.ListHasAsScala(Html.tables(h))
        .asScala.map { case (t, r, cs) => (t, r, cs.toSeq.map(_.toString)) }.toSeq
    // headers + data, entities, attributes on cells
    assert(tbl("<table class=\"x\"><tr><th>k</th><th>v &amp; w</th></tr>" +
               "<tr><td colspan=\"2\">a  b</td></tr></table>") ==
      Seq((0, 0, Seq("k", "v & w")), (0, 1, Seq("a b"))))
    // implicit closes: <td>a<td>b and <tr> without </tr>
    assert(tbl("<table><tr><td>a<td>b<tr><td>c</table>") ==
      Seq((0, 0, Seq("a", "b")), (0, 1, Seq("c"))))
    // thead/tbody wrappers are transparent; inline tags are boundaries
    assert(tbl("<table><thead><tr><td>h<b>x</b></td></tr></thead>" +
               "<tbody><tr><td>d</td></tr></tbody></table>") ==
      Seq((0, 0, Seq("h x")), (0, 1, Seq("d"))))
    // a nested table's text flows into the containing cell (depth-1
    // subset); two top-level tables index independently
    assert(tbl("<table><tr><td>x<table><tr><td>in</td></tr></table>y</td>" +
               "<td>z</td></tr></table><table><tr><td>q</td></tr></table>") ==
      Seq((0, 0, Seq("x in y", "z")), (1, 0, Seq("q"))))
    // unterminated table at EOF still flushes; no tables → empty;
    // text outside cells is ignored
    assert(tbl("<table><tr><td>tail") == Seq((0, 0, Seq("tail"))))
    assert(tbl("<p>no tables</p>").isEmpty)
    assert(tbl("<table>loose<tr>words<td>c</td></tr></table>") ==
      Seq((0, 0, Seq("c"))))
  }

  test("empty and degenerate inputs") {
    assert(text("") == "")
    assert(text("<p></p>") == "")
    assert(text("plain text, no markup") == "plain text, no markup")
    assert(text("<") == "<")
    assert(text("<p") == "")                    // unterminated tag
  }
}

class HtmlStageSpec extends SparkSpec {
  import graft.engine.Engine

  test("htmlextract stage: text/title/links columns via codegen'd expressions") {
    val ctx = newCtx()
    val out = Engine.runJson(ctx, s"""{
      "source": {"file": {"path": "$sfDir/documents.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [
        {"code": {"language": "sql", "code":
          "SELECT doc_id, concat('<html><head><title>D', cast(doc_id as string), '</title></head><body><p>', replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '</p><a href=\\"/d/', cast(doc_id as string), '\\">next</a></body></html>') AS html, text FROM __input"}},
        {"htmlextract": {"field": "html", "outputField": "extracted",
          "titleField": "t", "linksField": "l"}}],
      "loader": {"memory": {}} }""")
    val rows = out.select(col("doc_id"), col("t"), col("extracted"),
        array_join(col("l"), ",").as("ls"),
        trim(regexp_replace(col("text"), "\\s+", " ")).as("want"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) == s"D$id")
      assert(r.getString(2) == (s"${r.getString(4)} next").trim)
      assert(r.getString(3) == s"/d/$id")
    }
  }

  test("htmllinks stage: one edge row per link, emptyPages modes, keepHtml") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ctx = newCtx()
    val df = Seq(
      (1L, """<a href="u1">one</a><a href="u2">two &amp; half</a>"""),
      (2L, "<p>no links at all</p>"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "html")
    val out = graft.text.WebStages.htmllinks(
      graft.spec.ComponentSpec("htmllinks", Map()), ctx)(df)
      .orderBy("doc_id", "linkPos").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getString(2),
      r.getLong(3))).toSeq == Seq(
      (1L, "u1", "one", 0L), (1L, "u2", "two & half", 1L)))
    assert(!out.head.schema.fieldNames.contains("html")) // dropped by default
    // emptyPages keep: link-less and null-html pages survive with nulls
    val kept = graft.text.WebStages.htmllinks(
      graft.spec.ComponentSpec("htmllinks",
        Map("emptyPages" -> "keep", "keepHtml" -> true)), ctx)(df)
      .orderBy(col("doc_id"), col("linkPos").asc_nulls_last).collect()
    assert(kept.length == 4)
    assert(kept.map(_.getLong(0)).toSeq == Seq(1L, 1L, 2L, 3L))
    assert(kept(2).isNullAt(kept(2).fieldIndex("href")))
    assert(kept.head.schema.fieldNames.contains("html")) // keepHtml
    val e = intercept[Exception](graft.text.WebStages.htmllinks(
      graft.spec.ComponentSpec("htmllinks", Map("emptyPages" -> "maybe")), ctx)(df))
    assert(e.getMessage.contains("emptyPages"))
  }

  test("htmlmeta: name/property/http-equiv precedence, canonical, quirks") {
    val html = """<!doctype html><html><head>
      |<META NAME="Description" content="A &amp; B page">
      |<meta name=description content=duplicate-ignored>
      |<meta property="og:title" content='The &quot;Title&quot;'>
      |<meta http-equiv="Content-Type" content="text/html">
      |<meta name="keywords">
      |<link rel="canonical" href="https://ex.com/a?x=1&amp;y=2">
      |<script>var s = '<meta name="fake" content="nope">';</script>
      |</head><body>text</body></html>""".stripMargin
    val df = spark.sql(s"SELECT 1 AS id, '${html.replace("'", "''").replace("\n", " ")}' AS html")
    val ctx = newCtx()
    val out = graft.text.WebStages.htmlmeta(graft.spec.ComponentSpec("htmlmeta",
      Map("keys" -> Seq("description", "og:title", "canonical",
        "content-type", "keywords", "absent"))), ctx)(df).collect().head
    assert(out.getAs[String]("description") == "A & B page",
      "first occurrence wins, case-folded name, entities decoded")
    assert(out.getAs[String]("og_title") == "The \"Title\"")
    assert(out.getAs[String]("canonical") == "https://ex.com/a?x=1&y=2")
    assert(out.getAs[String]("content_type") == "text/html")
    assert(out.isNullAt(out.fieldIndex("keywords")), "meta without content")
    assert(out.isNullAt(out.fieldIndex("absent")))
    // fake meta inside script never leaks (SQL surface doubles as the
    // registration check)
    val keys = spark.sql(s"SELECT graft_html_meta('${html.replace("'", "''").replace("\n", " ")}') AS p")
      .selectExpr("transform(p, x -> x.key) AS ks").collect().head
      .getAs[scala.collection.Seq[String]]("ks")
    assert(!keys.contains("fake"), s"script meta leaked: $keys")
    assert(keys.count(_ == "description") == 2, "both head metas listed in order")
    // null html and guards
    val nl = graft.text.WebStages.htmlmeta(graft.spec.ComponentSpec("htmlmeta",
      Map("keys" -> Seq("description"))), ctx)(
      spark.sql("SELECT cast(null as string) AS html")).collect().head
    assert(nl.isNullAt(nl.fieldIndex("description")))
    assert(intercept[Exception](graft.text.WebStages.htmlmeta(
      graft.spec.ComponentSpec("htmlmeta", Map()), ctx)(df))
      .getMessage.contains("keys"))
    // keys that FOLD to the same output column (og:title vs og_title)
    // would silently overwrite — fail loud, naming both keys (r18)
    val ce = intercept[Exception](graft.text.WebStages.htmlmeta(
      graft.spec.ComponentSpec("htmlmeta",
        Map("keys" -> Seq("og:title", "og_title", "description"))), ctx)(df))
    assert(ce.getMessage.contains("collide") &&
      ce.getMessage.contains("og:title") && ce.getMessage.contains("og_title"),
      ce.getMessage)
  }

  test("htmlmarkdown: headings, lists, emphasis, links, images, quirks") {
    import graft.functions.Html
    val html = """<html><head><title>skip me</title>
      |<script>var x = '<h1>fake</h1>';</script></head><body>
      |<h2>Doc &amp; Title</h2>
      |<p>para <b>bold</b> and <i>ital</i> text</p>
      |<ul><li>first</li><li>second <code>c()</code></li>
      |<li>outer<ol><li>n1</li><li>n2</li></ol></li></ul>
      |<p>see <a href="http://ex.com/a?x=1&amp;y=2">the link</a> and
      |<img src="pic.png" alt="a pic"> here</p>
      |<blockquote>quoted words</blockquote>
      |<pre>code   block</pre>
      |</body></html>""".stripMargin
    val md = Html.markdown(html)
    assert(md ==
      "## Doc & Title\n\n" +
      "para **bold** and *ital* text\n\n" +
      "- first\n- second `c()`\n- outer\n  1. n1\n  2. n2\n\n" +
      "see [the link](http://ex.com/a?x=1&y=2) and ![a pic](pic.png) here\n\n" +
      "> quoted words\n\n" +
      "code block", s"got:\n$md")
    // head content and raw-text never leak; anchors without href keep text
    assert(!md.contains("skip me") && !md.contains("fake"))
    assert(Html.markdown("<body><a>naked anchor</a></body>") == "naked anchor")
    // unterminated anchor still flushes; nested <a> implicitly closes
    assert(Html.markdown("<a href='u'>x") == "[x](u)")
    // a page that OMITS </head> (routine in crawls) must not render
    // empty: <body> or any flow tag implies the head closed
    assert(Html.markdown(
      "<html><head><title>t</title><body><p>hello</p></body></html>") ==
      "hello")
    assert(Html.markdown(
      "<html><head><meta charset='u'><h1>T</h1><p>b</p></html>") ==
      "# T\n\nb")
    // null / stage surface
    val ctx = newCtx()
    val df = spark.sql(
      "SELECT 1 AS id, '<body><h1>T</h1><p>b</p></body>' AS html " +
      "UNION ALL SELECT 2, cast(null as string)")
    val out = graft.text.WebStages.htmlmarkdown(
      graft.spec.ComponentSpec("htmlmarkdown", Map()), ctx)(df)
      .orderBy("id").collect()
    assert(out(0).getAs[String]("markdown") == "# T\n\nb")
    assert(out(1).isNullAt(out(1).fieldIndex("markdown")))
    assert(intercept[Exception](graft.text.WebStages.htmlmarkdown(
      graft.spec.ComponentSpec("htmlmarkdown", Map("field" -> "nope")), ctx)(df))
      .getMessage.contains("no column"))
  }

  test("htmlextract: null html row yields null outputs") {
    val df = spark.sql("SELECT cast(null as string) AS html " +
      "UNION ALL SELECT '<body>x</body>'")
    val ctx = newCtx()
    val staged = graft.text.WebStages.htmlextract(
      graft.spec.ComponentSpec("htmlextract", Map(
        "outputField" -> "o", "titleField" -> "t", "linksField" -> "l")),
      ctx)(df)
    val got = staged.orderBy(col("o").asc_nulls_first).collect()
    assert(got.length == 2)
    assert(got(0).isNullAt(got(0).fieldIndex("o")))
    assert(got(1).getAs[String]("o") == "x")
    assert(got(1).isNullAt(got(1).fieldIndex("t")))
    assert(got(1).getAs[scala.collection.Seq[String]]("l").isEmpty)
  }
}
