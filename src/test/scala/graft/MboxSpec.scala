package graft

import graft.sources.Mbox
import graft.spec.ComponentSpec

/** mbox/MIME extractor: framing, mboxrd unquoting, RFC 2047 header
  * words, CTE decodes, multipart selection, typed failures. */
class MboxSpec extends SparkSpec {
  import spark.implicits._

  private def msg(lines: String*): String = lines.mkString("\n") + "\n"

  test("mbox: framing, folded headers, mboxrd unquote levels") {
    val raw = msg(
      "From a@x Thu Jan  1 00:00:00 2026",
      "Subject: one",
      " folded tail",
      "Message-ID: <1@x>",
      "",
      "line",
      ">From quoted once",
      ">>From quoted twice",
      "From b@x Thu Jan  1 00:00:01 2026",
      "Subject: two",
      "Message-ID: <2@x>",
      "",
      "second body").getBytes("UTF-8")
    val rows = Mbox.parseFile("t.mbox", raw).toSeq
    assert(rows.map(_.subject) == Seq("one folded tail", "two"))
    assert(rows.map(_.from_envelope) ==
      Seq("a@x Thu Jan  1 00:00:00 2026", "b@x Thu Jan  1 00:00:01 2026"))
    // one '>' level strips per mboxrd; deeper levels lose exactly one
    assert(rows.head.text ==
      "line\nFrom quoted once\n>From quoted twice\n")
    assert(rows(1).text == "second body\n")
    assert(rows.map(_.msg_index) == Seq(0, 1))
    // not an mbox → loud
    val e = intercept[RuntimeException](
      Mbox.parseFile("t.mbox", "Subject: no envelope\n\nx".getBytes).toSeq)
    assert(e.getMessage.contains("From"), e.getMessage)
  }

  test("mbox: RFC 2047 words (B and Q, adjacent join), QP and base64 bodies") {
    assert(Mbox.decodeHeaderValue("=?UTF-8?B?Y2Fmw6k=?= time") == "café time")
    assert(Mbox.decodeHeaderValue("=?UTF-8?Q?a_b=C3=A9?=") == "a bé")
    // whitespace between two encoded-words is transparent
    assert(Mbox.decodeHeaderValue("=?UTF-8?B?YWI=?= =?UTF-8?B?Y2Q=?=") == "abcd")
    assert(Mbox.decodeHeaderValue("plain stays") == "plain stays")
    val qp = msg(
      "From a@x Thu Jan  1 00:00:00 2026",
      "Content-Type: text/plain; charset=utf-8",
      "Content-Transfer-Encoding: quoted-printable",
      "",
      "caf=C3=A9 so=",
      "ft").getBytes("UTF-8")
    assert(Mbox.parseFile("t", qp).toSeq.head.text == "café soft\n")
    val b64 = msg(
      "From a@x Thu Jan  1 00:00:00 2026",
      "Content-Type: text/plain; charset=utf-8",
      "Content-Transfer-Encoding: base64",
      "",
      java.util.Base64.getMimeEncoder.encodeToString(
        "wide é payload".getBytes("UTF-8"))).getBytes("UTF-8")
    assert(Mbox.parseFile("t", b64).toSeq.head.text == "wide é payload")
  }

  test("mbox: multipart selection — text/plain wins, nesting recurses, no boundary is loud") {
    val nested = msg(
      "From a@x Thu Jan  1 00:00:00 2026",
      "Content-Type: multipart/mixed; boundary=outer",
      "",
      "--outer",
      "Content-Type: application/pdf",
      "",
      "%PDF",
      "--outer",
      "Content-Type: multipart/alternative; boundary=inner",
      "",
      "--inner",
      "Content-Type: text/html",
      "",
      "<p>h</p>",
      "--inner",
      "Content-Type: text/plain",
      "",
      "the plain one",
      "--inner--",
      "--outer--").getBytes("UTF-8")
    val row = Mbox.parseFile("t", nested).toSeq.head
    assert(row.content_type == "multipart/mixed")
    assert(row.text == "the plain one")
    // html-only multipart: first text/* leaf is taken
    val htmlOnly = msg(
      "From a@x Thu Jan  1 00:00:00 2026",
      "Content-Type: multipart/mixed; boundary=bb",
      "",
      "--bb",
      "Content-Type: text/html",
      "",
      "<p>only</p>",
      "--bb--").getBytes("UTF-8")
    assert(Mbox.parseFile("t", htmlOnly).toSeq.head.text == "<p>only</p>")
    // binary-only → null text, not an error
    val binOnly = msg(
      "From a@x Thu Jan  1 00:00:00 2026",
      "Content-Type: application/octet-stream",
      "",
      "xx").getBytes("UTF-8")
    assert(Mbox.parseFile("t", binOnly).toSeq.head.text == null)
    // a text/plain leaf in a LATER nested sibling beats an earlier
    // html leaf — the whole tree flattens before the preference
    val siblings = msg(
      "From a@x Thu Jan  1 00:00:00 2026",
      "Content-Type: multipart/mixed; boundary=out",
      "",
      "--out",
      "Content-Type: multipart/alternative; boundary=in1",
      "",
      "--in1",
      "Content-Type: text/html",
      "",
      "<p>h</p>",
      "--in1--",
      "--out",
      "Content-Type: multipart/alternative; boundary=in2",
      "",
      "--in2",
      "Content-Type: text/plain",
      "",
      "deep plain",
      "--in2--",
      "--out--").getBytes("UTF-8")
    assert(Mbox.parseFile("t", siblings).toSeq.head.text == "deep plain")
    // a nested boundary EXTENDING the outer one ('b12' vs 'b1') is not
    // an outer delimiter (RFC 2046: only padding/'--'/EOL may follow)
    val ext = msg(
      "From a@x Thu Jan  1 00:00:00 2026",
      "Content-Type: multipart/mixed; boundary=b1",
      "",
      "--b1",
      "Content-Type: multipart/mixed; boundary=b12",
      "",
      "--b12",
      "Content-Type: text/plain",
      "",
      "inner plain",
      "--b12--",
      "--b1--").getBytes("UTF-8")
    assert(Mbox.parseFile("t", ext).toSeq.head.text == "inner plain")
    val noBoundary = msg(
      "From a@x Thu Jan  1 00:00:00 2026",
      "Content-Type: multipart/mixed",
      "",
      "x").getBytes("UTF-8")
    val e = intercept[RuntimeException](Mbox.parseFile("t", noBoundary).toSeq)
    assert(e.getMessage.contains("boundary"), e.getMessage)
  }

  test("eml: bare message files — no envelope, stray envelope tolerated") {
    val bare = ("Subject: =?UTF-8?B?Y2Fmw6k=?=\nMessage-ID: <9@x>\n" +
      "Content-Type: text/plain; charset=utf-8\n\nplain body").getBytes("UTF-8")
    val r = Mbox.parseEml("a.eml", bare)
    assert(r.subject == "café" && r.text == "plain body" &&
      r.from_envelope == null && r.msg_index == 0)
    // a stray mbox envelope line is consumed, not treated as content
    val env = ("From x@y Thu Jan  1 00:00:00 2026\nSubject: s\n\nbody\n")
      .getBytes("UTF-8")
    val r2 = Mbox.parseEml("b.eml", env)
    assert(r2.subject == "s" && r2.text == "body\n" &&
      r2.from_envelope == "x@y Thu Jan  1 00:00:00 2026")
  }

  test("mbox extractor: engine read path + gzip by magic") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mbox").toString
    val raw = msg(
      "From a@x Thu Jan  1 00:00:00 2026",
      "Subject: s1",
      "Message-ID: <1@x>",
      "",
      "b1").getBytes("UTF-8")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.mbox"), raw)
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(raw); gz.close()
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.mbox.gz"),
      bos.toByteArray)
    val df = Mbox.read(spark, dir, ComponentSpec("mbox", Map()))
    assert(df.count() == 2)
    assert(df.select("subject").as[String].collect().toSeq == Seq("s1", "s1"))
    // a truncated gzip keeps the corrupt-gzip name, mbox and eml alike
    val cut = bos.toByteArray.dropRight(12)
    val e1 = intercept[RuntimeException](within(10)(Mbox.parseFile("cut.mbox.gz", cut).toList))
    assert(e1.getMessage.contains("mbox: corrupt gzip stream") &&
      e1.getMessage.contains("cut.mbox.gz"), e1.getMessage)
    val e2 = intercept[RuntimeException](within(10)(Mbox.parseEml("cut.eml.gz", cut)))
    assert(e2.getMessage.contains("eml: corrupt gzip stream") &&
      e2.getMessage.contains("cut.eml.gz"), e2.getMessage)
  }
}
