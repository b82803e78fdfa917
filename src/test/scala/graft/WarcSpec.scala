package graft

import graft.sources.Warc
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the WARC (ISO 28500) record walk + the engine
  * extractor wiring. */
class WarcParserSpec extends AnyFunSuite {
  import SparkSpec.within

  private val crlf = "\r\n"
  private def rec(tpe: String, payload: Array[Byte],
                  extra: Seq[(String, String)] = Nil): Array[Byte] = {
    val head = ("WARC/1.0" + crlf +
      s"WARC-Type: $tpe$crlf" +
      s"WARC-Record-ID: <urn:uuid:x-$tpe>$crlf" +
      extra.map { case (k, v) => s"$k: $v$crlf" }.mkString +
      s"Content-Length: ${payload.length}$crlf$crlf").getBytes("UTF-8")
    head ++ payload ++ (crlf + crlf).getBytes("UTF-8")
  }

  test("length-arithmetic walk: payload bytes may contain header-like text") {
    // the payload CONTAINS a fake WARC header — only Content-Length
    // arithmetic walks this correctly; a separator search would split it
    val tricky = (s"WARC/1.0${crlf}WARC-Type: fake$crlf$crlf").getBytes("UTF-8")
    val bytes = rec("resource", tricky) ++ rec("metadata", "tail".getBytes)
    val rows = Warc.parseFile("t.warc", bytes, httpParse = true).toList
    assert(rows.map(_.warc_type) == List("resource", "metadata"))
    assert(new String(rows.head.body, "UTF-8").startsWith("WARC/1.0"))
    assert(rows(1).content_length == 4L)
  }

  test("http payload split: status, content-type, body; request has no status") {
    val http = (s"HTTP/1.1 301 Moved$crlf" +
      s"Location: /y$crlf" + s"Content-Type: text/plain$crlf$crlf" +
      "moved").getBytes("UTF-8")
    val req = (s"GET /x HTTP/1.1${crlf}Host: h$crlf$crlf").getBytes("UTF-8")
    val bytes =
      rec("response", http, Seq("Content-Type" -> "application/http; msgtype=response")) ++
      rec("request", req, Seq("Content-Type" -> "application/http; msgtype=request"))
    val rows = Warc.parseFile("t.warc", bytes, httpParse = true).toList
    assert(rows.head.http_status.contains(301))
    assert(rows.head.http_content_type.contains("text/plain"))
    assert(new String(rows.head.body, "UTF-8") == "moved")
    assert(rows(1).http_status.isEmpty)
    assert(new String(rows(1).body, "UTF-8") == "")
    // httpParse off: the whole content block is the body
    val raw = Warc.parseFile("t.warc", bytes, httpParse = false).toList
    assert(new String(raw.head.body, "UTF-8").startsWith("HTTP/1.1 301"))
    assert(raw.head.http_status.isEmpty)
  }

  test("gzip: single stream and concatenated members both decompress") {
    val plain = rec("metadata", "a".getBytes) ++ rec("metadata", "b".getBytes)
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    assert(Warc.parseFile("t.warc.gz", gz(plain), httpParse = true).size == 2)
    // per-record members (the production WARC layout)
    val members = gz(rec("metadata", "a".getBytes)) ++ gz(rec("metadata", "b".getBytes))
    assert(Warc.parseFile("t.warc.gz", members, httpParse = true).size == 2)
    // magic-byte sniff without the .gz suffix
    assert(Warc.parseFile("t.warc", gz(plain), httpParse = true).size == 2)
    // a truncated member fails by name with the codec and the file
    val e = intercept[RuntimeException](within(10)(
      Warc.parseFile("cut.warc.gz", gz(plain).dropRight(12), httpParse = true).toList))
    assert(e.getMessage.contains("warc: corrupt gzip stream") &&
      e.getMessage.contains("cut.warc.gz"), e.getMessage)
  }

  test("malformed framing fails loudly with file and offset") {
    val noLen = ("WARC/1.0" + crlf + "WARC-Type: x" + crlf + crlf).getBytes("UTF-8")
    val e1 = intercept[RuntimeException](
      Warc.parseFile("f.warc", noLen, httpParse = true).toList)
    assert(e1.getMessage.contains("Content-Length"))
    val short = rec("metadata", "abc".getBytes).dropRight(7) // truncated payload
    val e2 = intercept[RuntimeException](
      Warc.parseFile("f.warc", short, httpParse = true).toList)
    assert(e2.getMessage.contains("declares"))
    // no CRLF CRLF at all → unterminated header (still names the file)
    val junk = "not a warc".getBytes("UTF-8")
    val e3 = intercept[RuntimeException](
      Warc.parseFile("f.warc", junk, httpParse = true).toList)
    assert(e3.getMessage.contains("unterminated") && e3.getMessage.contains("f.warc"))
    // well-framed but not a WARC version line → named version error
    val notWarc = ("HTTP/1.1 200 OK\r\nContent-Length: 0\r\n\r\n").getBytes("UTF-8")
    val e4 = intercept[RuntimeException](
      Warc.parseFile("f.warc", notWarc, httpParse = true).toList)
    assert(e4.getMessage.contains("WARC/"))
  }
}

class WarcStageSpec extends SparkSpec {
  import graft.engine.Engine

  test("warc extractor through the engine: type filter + field recovery") {
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_spec").toString
    val crlf = "\r\n"
    def rec(tpe: String, uri: String, payload: Array[Byte]): Array[Byte] = {
      val head = ("WARC/1.0" + crlf + s"WARC-Type: $tpe$crlf" +
        s"WARC-Record-ID: <urn:uuid:$tpe-$uri>$crlf" +
        s"WARC-Target-URI: $uri$crlf" +
        "Content-Type: application/http; msgtype=response" + crlf +
        s"Content-Length: ${payload.length}$crlf$crlf").getBytes("UTF-8")
      head ++ payload ++ (crlf + crlf).getBytes("UTF-8")
    }
    val http = (s"HTTP/1.1 200 OK${crlf}Content-Type: text/html$crlf$crlf" +
      "<body>hello</body>").getBytes("UTF-8")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.warc"),
      rec("response", "http://x/1", http) ++ rec("metadata", "http://x/1", "m".getBytes))
    val out = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$dir"}},
      "extractor": {"warc": {"types": ["response"]}},
      "transformers": [{"htmlextract": {"field": "body", "outputField": "t"}}],
      "loader": {"memory": {}} }""")
    val rows = out.select("warc_type", "target_uri", "http_status", "t").collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "response")
    assert(rows.head.getString(1) == "http://x/1")
    assert(rows.head.getInt(2) == 200)
    assert(rows.head.getString(3) == "hello")
  }
}
