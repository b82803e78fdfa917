package graft.sources

import graft.spec.ComponentSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** WARC (Web ARChive, ISO 28500) extractor — the input format of web
  * crawls (Common Crawl ships ~1 GB `.warc.gz` segments). The reference
  * has no archive surface (its `file` source is line-oriented,
  * OETLFileSource.java); this is the Spark-first extension that lets a
  * crawl land directly in the engine: `{"source": {"file": {"path":
  * "<dir-of-warcs>"}}, "extractor": {"warc": {}}}` → one row per WARC
  * record, HTTP payloads split into status/headers/body.
  *
  * Format (public spec, ISO 28500 / WARC 1.1): each record is a
  * `WARC/1.x` version line, CRLF-separated named header fields, an
  * empty line, then exactly `Content-Length` bytes of content block,
  * then CRLF CRLF. `Content-Length` is MANDATORY — the parser walks
  * records by length arithmetic over the raw bytes (content may be
  * binary: images, gzip, truncated payloads), never by searching for a
  * separator that could legitimately occur inside a payload.
  *
  * Parallelism model: one task per archive FILE (`binaryFile` source,
  * small files packed by Spark's openCost binning) — exactly how
  * production crawl pipelines shard WARC work, because a gzipped
  * member stream is not splittable mid-file. Within a file the walk is
  * a single pass. Caveat inherited from `binaryFile`: a file is
  * materialized in executor memory, so segment archives at the usual
  * ~1 GB granularity (Common Crawl's own layout) rather than
  * multi-10-GB monoliths.
  *
  * Gzipped archives (`.warc.gz`) are detected by the 1f 8b magic, never
  * by the file name, and decompressed whole through [[Flate]],
  * concatenated members included (the standard WARC layout gzips each
  * record as its own member).
  */
object Warc {

  /** One parsed WARC record. `http_*` fields are populated only when
    * the record carries an `application/http` payload and `httpParse`
    * is on; `body` is then the HTTP message body, otherwise the whole
    * content block. Bytes, not string — payloads may be binary. */
  final case class WarcRow(
      warc_file: String,
      warc_type: String,
      record_id: String,
      target_uri: Option[String],
      warc_date: Option[String],
      content_type: Option[String],
      content_length: Long,
      http_status: Option[Int],
      http_content_type: Option[String],
      body: Array[Byte])

  private val Ascii = java.nio.charset.StandardCharsets.US_ASCII

  /** Index of the CRLF CRLF terminating the header block starting at
    * `from`, or -1. Headers are ASCII by spec, so a byte scan is safe. */
  private def headerEnd(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
        return i
      i += 1
    }
    -1
  }

  /** Parse `Name: value` CRLF lines into a lowercase-name map. */
  private def headerMap(block: String): Map[String, String] =
    block.split("\r\n").iterator.flatMap { line =>
      val c = line.indexOf(':')
      if (c <= 0) None
      else Some(line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT) ->
        line.substring(c + 1).trim)
    }.toMap

  /** Walk every record of one (possibly gzipped) archive. Malformed
    * framing fails loudly with the file and byte offset — a crawl
    * pipeline must surface a corrupt segment, not silently truncate. */
  def parseFile(path: String, raw: Array[Byte], httpParse: Boolean): Iterator[WarcRow] = {
    val bytes = Flate.gunzipIfGzip(raw, m => sys.error(s"warc: $m in $path"))
    new Iterator[WarcRow] {
      private var i = 0
      private def skipCrlf(): Unit =
        while (i + 1 < bytes.length && bytes(i) == '\r' && bytes(i + 1) == '\n') i += 2
      skipCrlf()
      override def hasNext: Boolean = { skipCrlf(); i < bytes.length }
      override def next(): WarcRow = {
        skipCrlf()
        val hEnd = headerEnd(bytes, i)
        if (hEnd < 0) sys.error(s"warc: unterminated record header at byte $i of $path")
        val header = new String(bytes, i, hEnd - i, Ascii)
        if (!header.startsWith("WARC/"))
          sys.error(s"warc: expected WARC/ version line at byte $i of $path, " +
            s"got '${header.take(20)}'")
        val h = headerMap(header.substring(header.indexOf("\r\n") + 2))
        val len = h.get("content-length").map(_.toLong).getOrElse(
          sys.error(s"warc: record at byte $i of $path has no Content-Length " +
            "(mandatory per ISO 28500)"))
        val blockStart = hEnd + 4
        if (blockStart + len > bytes.length)
          sys.error(s"warc: record at byte $i of $path declares $len content " +
            s"bytes but only ${bytes.length - blockStart} remain")
        val block = java.util.Arrays.copyOfRange(bytes, blockStart,
          blockStart + len.toInt)
        i = blockStart + len.toInt
        val wtype = h.getOrElse("warc-type", "unknown")
        val ctype = h.get("content-type")
        var status: Option[Int] = None
        var httpCt: Option[String] = None
        var body = block
        if (httpParse && ctype.exists(_.toLowerCase(java.util.Locale.ROOT)
              .startsWith("application/http"))) {
          val he = headerEnd(block, 0)
          if (he >= 0) {
            val msgHead = new String(block, 0, he, Ascii)
            val lines = msgHead.split("\r\n")
            if (lines.nonEmpty && lines(0).startsWith("HTTP/")) {
              val parts = lines(0).split(" ")
              if (parts.length >= 2) status = parts(1).toIntOption
            }
            httpCt = headerMap(
              msgHead.substring(math.min(msgHead.length,
                msgHead.indexOf("\r\n") match { case -1 => msgHead.length; case p => p + 2 })))
              .get("content-type")
            body = java.util.Arrays.copyOfRange(block, he + 4, block.length)
          }
        }
        WarcRow(path, wtype,
          h.getOrElse("warc-record-id", ""),
          h.get("warc-target-uri"), h.get("warc-date"), ctype, len,
          status, httpCt, body)
      }
    }
  }

  /** Extractor entry: a DataFrame of WARC records from a path (file,
    * directory, or glob). Options: `types` — keep only these
    * `WARC-Type`s (e.g. `["response"]`; default all), `httpParse` —
    * split `application/http` payloads into status/headers/body
    * (default true). */
  def read(spark: SparkSession, path: String, spec: ComponentSpec): DataFrame = {
    val httpParse = spec.bool("httpParse", dflt = true)
    val types = spec.strList("types").map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    import spark.implicits._
    val files = Container.files(spark, path, spec.strOr("glob", "*"))
    val rows = files.flatMap { case (p, c) => parseFile(p, c, httpParse) }
    val df = rows.toDF()
    if (types.isEmpty) df
    else df.where(org.apache.spark.sql.functions.lower(col("warc_type"))
      .isin(types.toSeq: _*))
  }
}
