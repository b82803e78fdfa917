package graft.sources

import graft.spec.ComponentSpec
import org.apache.spark.sql.{DataFrame, SparkSession}

/** MBOX mail-archive extractor — mailing-list dumps (the classic
  * public-corpus source: Usenet/pipermail/Enron-style archives) ship
  * as mbox files, and none of the line/byte extractors can frame them.
  * One row per MESSAGE: `{"source": {"file": {"path": "<dir>"}},
  * "extractor": {"mbox": {}}}`.
  *
  * Format (public: RFC 4155 application/mbox + the mboxrd convention,
  * RFC 5322 message syntax, RFC 2045-2047 MIME): messages are
  * delimited by a `From ` envelope line at line start; body lines that
  * would collide are `>From `-quoted by mboxrd writers, so a run of
  * `>`+`From ` loses ONE `>` on read (the mboxrd unescape — mboxo
  * archives, which quote only bare `From `, read identically for the
  * common case). Headers fold with leading whitespace (RFC 5322 §2.2.3)
  * and names are case-insensitive; RFC 2047 `=?cs?B|Q?…?=`
  * encoded-words in header VALUES decode (B=base64, Q=quoted-printable
  * with `_`=space), adjacent encoded-words join without separator.
  *
  * Body decoding: `Content-Transfer-Encoding` quoted-printable (incl.
  * soft line breaks) and base64 decode to bytes; 7bit/8bit/binary pass
  * through. The charset comes from the `Content-Type` `charset=`
  * parameter when present (unknown names fall back to the detector),
  * otherwise [[graft.functions.CharsetDecode]] detects it. For
  * `multipart/…` the boundary walk recurses depth-first and the FIRST
  * `text/plain` leaf wins (the standard mail-corpus choice); with no
  * text/plain leaf the first `text/…` leaf is taken, else the body is
  * null (binary-only mail — attachments are not corpus text).
  * A `multipart/…` without a boundary parameter fails LOUD by name.
  *
  * Parallelism model: one task per mbox FILE (`binaryFile`, like
  * [[Warc]]/[[Tar]]) — mbox has no index and `From `-framing needs the
  * byte stream; archives parallelize across files. Gzipped mboxes
  * (`.mbox.gz`) are detected by magic and inflated whole-file first.
  */
object Mbox {

  final case class MboxRow(
      mbox_file: String,
      msg_index: Int,
      from_envelope: String,
      subject: String,
      from_addr: String,
      date: String,
      message_id: String,
      in_reply_to: String,
      content_type: String,
      text: String)

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  private def charsetOf(name: String): Option[java.nio.charset.Charset] =
    try Some(java.nio.charset.Charset.forName(name.trim))
    catch { case _: Exception => None }

  // constant patterns hoisted: the extractor decodes headers for every
  // message, and per-call Pattern.compile would dominate at corpus scale
  private val EncodedWordRx = java.util.regex.Pattern.compile(
    "=\\?([^?]+)\\?([bBqQ])\\?([^?]*)\\?=")
  private val CtParamRx = new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()

  /** RFC 2047 encoded-words in a header value; adjacent encoded-words
    * separated only by whitespace join without it (RFC 2047 §6.2). */
  private[graft] def decodeHeaderValue(v: String): String = {
    val m = EncodedWordRx.matcher(v)
    val sb = new StringBuilder
    var last = 0
    var prevEnd = -1 // end of the previous encoded-word
    while (m.find()) {
      val between = v.substring(last, m.start())
      // whitespace BETWEEN two encoded-words is transparent (§6.2)
      if (!(prevEnd >= 0 && between.nonEmpty && between.forall(_.isWhitespace)))
        sb.append(between)
      val cs = charsetOf(m.group(1)).getOrElse(Utf8)
      val payload = m.group(3)
      val bytes = m.group(2).toLowerCase match {
        case "b" =>
          try java.util.Base64.getMimeDecoder.decode(payload)
          catch { case _: IllegalArgumentException => payload.getBytes(Utf8) }
        case _ => qpDecode(payload.replace('_', ' ').getBytes(
          java.nio.charset.StandardCharsets.US_ASCII), softBreaks = false)
      }
      sb.append(new String(bytes, cs))
      last = m.end()
      prevEnd = m.end()
    }
    sb.append(v.substring(last))
    sb.toString
  }

  /** Quoted-printable decode (RFC 2045 §6.7): `=HH` restores a byte,
    * `=\r?\n` is a soft break (body only), bad escapes pass through
    * literally (be liberal — real archives are full of them). */
  private[sources] def qpDecode(b: Array[Byte], softBreaks: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var i = 0
    def hex(c: Byte): Int = Character.digit(c.toChar, 16)
    while (i < b.length) {
      val c = b(i)
      if (c == '=') {
        if (softBreaks && i + 1 < b.length && b(i + 1) == '\n') i += 2
        else if (softBreaks && i + 2 < b.length && b(i + 1) == '\r' && b(i + 2) == '\n') i += 3
        else if (i + 2 < b.length && hex(b(i + 1)) >= 0 && hex(b(i + 2)) >= 0) {
          out.write((hex(b(i + 1)) << 4) | hex(b(i + 2))); i += 3
        } else { out.write(c); i += 1 }
      } else { out.write(c); i += 1 }
    }
    out.toByteArray
  }

  /** Split raw message bytes at the header/body blank line; returns
    * (headers in order, body bytes). Folded continuations join with a
    * single space. */
  private[sources] def splitMessage(b: Array[Byte]): (Seq[(String, String)], Array[Byte]) = {
    // find the first blank line (\n\n or \n\r\n)
    var i = 0
    var hdrEnd = -1
    var bodyStart = -1
    while (hdrEnd < 0 && i < b.length) {
      if (b(i) == '\n') {
        if (i + 1 < b.length && b(i + 1) == '\n') { hdrEnd = i; bodyStart = i + 2 }
        else if (i + 2 < b.length && b(i + 1) == '\r' && b(i + 2) == '\n') {
          hdrEnd = i; bodyStart = i + 3
        }
      }
      i += 1
    }
    if (hdrEnd < 0) { hdrEnd = b.length; bodyStart = b.length }
    val hdrText = new String(b, 0, hdrEnd, Utf8)
    val out = Vector.newBuilder[(String, String)]
    var name: String = null
    var value: StringBuilder = null
    def flush(): Unit = if (name != null) { out += name -> value.toString.trim }
    hdrText.split("\r?\n").foreach { line =>
      if (line.nonEmpty && (line.charAt(0) == ' ' || line.charAt(0) == '\t')) {
        if (value != null) value.append(' ').append(line.trim) // folded
      } else {
        val colon = line.indexOf(':')
        if (colon > 0) {
          flush()
          name = line.substring(0, colon).trim.toLowerCase
          value = new StringBuilder(line.substring(colon + 1))
        }
        // a malformed header line without ':' is skipped (liberal)
      }
    }
    flush()
    (out.result(), java.util.Arrays.copyOfRange(b, bodyStart, b.length))
  }

  private def header(hs: Seq[(String, String)], n: String): Option[String] =
    hs.collectFirst { case (k, v) if k == n => v }

  /** Content-Type `param=value` (quoted or token) parameter. */
  private[sources] def ctParam(ct: String, param: String): Option[String] = {
    val rx = CtParamRx.computeIfAbsent(param, p =>
      java.util.regex.Pattern.compile(
        "(?i)[;\\s]" + java.util.regex.Pattern.quote(p) +
        "\\s*=\\s*(\"([^\"]*)\"|[^;\\s]+)"))
    val m = rx.matcher(ct)
    if (m.find()) Option(if (m.group(2) != null) m.group(2) else m.group(1))
    else None
  }

  private def mimeType(ct: Option[String]): String =
    ct.map(_.split(";")(0).trim.toLowerCase).filter(_.nonEmpty)
      .getOrElse("text/plain")

  /** Decode one (headers, body) leaf to text per CTE + charset. */
  private def decodeLeaf(hs: Seq[(String, String)], body: Array[Byte]): String = {
    val bytes = header(hs, "content-transfer-encoding")
      .map(_.trim.toLowerCase).getOrElse("7bit") match {
      case "quoted-printable" => qpDecode(body, softBreaks = true)
      case "base64" =>
        try java.util.Base64.getMimeDecoder.decode(
          new String(body, java.nio.charset.StandardCharsets.US_ASCII).trim)
        catch { case _: IllegalArgumentException => body }
      case _ => body // 7bit / 8bit / binary
    }
    header(hs, "content-type").flatMap(ctParam(_, "charset"))
      .flatMap(charsetOf) match {
      case Some(cs) => new String(bytes, cs)
      case None => graft.functions.CharsetDecode.decode(bytes)._2
    }
  }

  /** Flatten a (possibly nested) MIME tree to its non-multipart leaves
    * in document order. Depth-capped: a deeper nest than any real mail
    * exhibits is a parser trap, not content. */
  private def collectLeaves(hs: Seq[(String, String)], body: Array[Byte],
      depth: Int, fail: String => Nothing): Seq[(Seq[(String, String)], Array[Byte], String)] = {
    val ct = header(hs, "content-type")
    val mt = mimeType(ct)
    if (mt.startsWith("multipart/")) {
      if (depth > 8) fail("multipart nesting deeper than 8 (malformed mail)")
      val boundary = ct.flatMap(ctParam(_, "boundary")).getOrElse(
        fail(s"multipart message without a boundary parameter ('$mt')"))
      val delim = ("--" + boundary).getBytes(Utf8)
      splitParts(body, delim).flatMap { p =>
        val (phs, pbody) = splitMessage(p)
        collectLeaves(phs, pbody, depth + 1, fail)
      }
    } else Seq((hs, body, mt))
  }

  /** First text/plain leaf ANYWHERE in the tree; else first text/…
    * leaf — the whole tree is flattened first, so a plain part in a
    * later sibling always beats an earlier html part. */
  private def extractText(hs: Seq[(String, String)], body: Array[Byte],
      fail: String => Nothing): Option[String] = {
    val mt = mimeType(header(hs, "content-type"))
    if (!mt.startsWith("multipart/") &&
        !(mt.startsWith("text/") || header(hs, "content-type").isEmpty))
      return None // binary-only mail: attachments are not corpus text
    val leaves = collectLeaves(hs, body, 0, fail)
    leaves.collectFirst { case (phs, pbody, t) if t == "text/plain" =>
        decodeLeaf(phs, pbody) }
      .orElse(leaves.collectFirst { case (phs, pbody, t) if t.startsWith("text/") =>
        decodeLeaf(phs, pbody) })
  }

  /** Split a multipart body on `--boundary` lines (RFC 2046 §5.1.1):
    * parts run between delimiters; the preamble before the first and
    * the epilogue after `--boundary--` drop. */
  private[sources] def splitParts(b: Array[Byte], delim: Array[Byte]): Seq[Array[Byte]] = {
    val out = Vector.newBuilder[Array[Byte]]
    var lineStart = 0
    var partStart = -1
    var i = 0
    def atDelim(ls: Int): Boolean = {
      if (ls + delim.length > b.length) return false
      var k = 0
      while (k < delim.length) {
        if (b(ls + k) != delim(k)) return false
        k += 1
      }
      // RFC 2046: the delimiter line is the boundary followed only by
      // optional transport padding (LWSP), '--' (final) or EOL — a
      // LONGER boundary sharing this prefix (a nested '--b12' against
      // outer '--b1') is NOT a delimiter of this part
      val after = ls + delim.length
      after >= b.length || b(after) == '\r' || b(after) == '\n' ||
        b(after) == ' ' || b(after) == '\t' ||
        (after + 1 < b.length && b(after) == '-' && b(after + 1) == '-') ||
        (after + 1 == b.length && b(after) == '-')
    }
    while (lineStart <= b.length) {
      if (atDelim(lineStart)) {
        if (partStart >= 0) {
          // part ends before this delimiter line's preceding newline
          var end = lineStart
          if (end > partStart && b(end - 1) == '\n') end -= 1
          if (end > partStart && b(end - 1) == '\r') end -= 1
          out += java.util.Arrays.copyOfRange(b, partStart, end)
        }
        val after = lineStart + delim.length
        val isFinal = after + 1 < b.length && b(after) == '-' && b(after + 1) == '-'
        // next part begins after this line's newline
        var j = after
        while (j < b.length && b(j) != '\n') j += 1
        partStart = if (isFinal) -1 else j + 1
        if (isFinal) lineStart = b.length
      }
      // advance to next line start
      i = lineStart
      while (i < b.length && b(i) != '\n') i += 1
      lineStart = i + 1
      if (i >= b.length) lineStart = b.length + 1
    }
    // liberal: a missing final `--boundary--` still yields the open
    // part (real archives truncate) — only preamble/epilogue drop
    if (partStart >= 0 && partStart <= b.length)
      out += java.util.Arrays.copyOfRange(b, partStart, b.length)
    out.result()
  }

  /** Frame one mbox file into messages (mboxrd unescape applied). */
  def parseFile(path: String, raw: Array[Byte]): Iterator[MboxRow] = {
    def fail(msg: String): Nothing = sys.error(s"mbox: $msg in $path")
    val b0 = Flate.gunzipIfGzip(raw, fail)
    if (b0.length == 0) return Iterator.empty
    val text = b0 // byte-level framing; message content decoded per-part
    // locate "From " at line starts
    def isFromAt(i: Int): Boolean =
      i + 5 <= text.length && text(i) == 'F' && text(i + 1) == 'r' &&
      text(i + 2) == 'o' && text(i + 3) == 'm' && text(i + 4) == ' '
    if (!isFromAt(0))
      fail("not an mbox (first line is not a 'From ' envelope)")
    val starts = Vector.newBuilder[Int]
    starts += 0
    var i = 0
    while (i < text.length) {
      if (text(i) == '\n' && isFromAt(i + 1)) starts += (i + 1)
      i += 1
    }
    val ss = starts.result()
    ss.iterator.zipWithIndex.map { case (s, idx) =>
      val e = if (idx + 1 < ss.length) ss(idx + 1) else text.length
      // envelope line
      var nl = s
      while (nl < e && text(nl) != '\n') nl += 1
      val envelope = new String(text, s, nl - s, Utf8).stripSuffix("\r")
      val msg = unquoteFrom(java.util.Arrays.copyOfRange(text, math.min(nl + 1, e), e))
      messageRow(path, idx, envelope.stripPrefix("From ").trim, msg, fail)
    }
  }

  /** One RFC 5322 message (already envelope-free and unquoted) → row. */
  private def messageRow(path: String, idx: Int, envelope: String,
      msg: Array[Byte], fail: String => Nothing): MboxRow = {
    val (hs, body) = splitMessage(msg)
    MboxRow(
      mbox_file = path,
      msg_index = idx,
      from_envelope = envelope,
      subject = header(hs, "subject").map(decodeHeaderValue).orNull,
      from_addr = header(hs, "from").map(decodeHeaderValue).orNull,
      date = header(hs, "date").orNull,
      message_id = header(hs, "message-id").map(_.trim).orNull,
      in_reply_to = header(hs, "in-reply-to").map(_.trim).orNull,
      content_type = header(hs, "content-type")
        .map(_.split(";")(0).trim.toLowerCase).getOrElse("text/plain"),
      text = extractText(hs, body, fail).orNull)
  }

  /** Single-message `.eml` files (RFC 5322 WITHOUT the mbox envelope —
    * the per-message export convention): one row per FILE, msg_index
    * 0, null envelope, no mboxrd unquoting (nothing is quoted when
    * there is no `From ` framing to protect). A leading `From ` line
    * IS tolerated and consumed (mbox-style exports with a stray
    * envelope are common). Gzip by magic. */
  def parseEml(path: String, raw: Array[Byte]): MboxRow = {
    def fail(msg: String): Nothing = sys.error(s"eml: $msg in $path")
    val b = Flate.gunzipIfGzip(raw, fail)
    val hasEnvelope = b.length >= 5 && b(0) == 'F' && b(1) == 'r' &&
      b(2) == 'o' && b(3) == 'm' && b(4) == ' '
    if (hasEnvelope) {
      var nl = 0
      while (nl < b.length && b(nl) != '\n') nl += 1
      val envelope = new String(b, 0, nl, Utf8).stripSuffix("\r")
      messageRow(path, 0, envelope.stripPrefix("From ").trim,
        unquoteFrom(java.util.Arrays.copyOfRange(b, math.min(nl + 1, b.length), b.length)), fail)
    } else messageRow(path, 0, null, b, fail)
  }

  /** Extractor entry for `.eml`: one message per file. */
  def readEml(spark: SparkSession, path: String, spec: ComponentSpec): DataFrame = {
    import spark.implicits._
    Container.files(spark, path, spec.strOr("glob", "*"))
      .map { case (p, c) => parseEml(p, c) }
      .toDF()
  }

  /** mboxrd unescape: a line-start run of `>` followed by `From ` loses
    * one `>`. */
  private[sources] def unquoteFrom(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var lineStart = 0
    while (lineStart <= b.length) {
      var i = lineStart
      while (i < b.length && b(i) != '\n') i += 1
      // line = [lineStart, i)
      var q = lineStart
      while (q < i && b(q) == '>') q += 1
      val isQuotedFrom = q > lineStart && q + 5 <= i &&
        b(q) == 'F' && b(q + 1) == 'r' && b(q + 2) == 'o' && b(q + 3) == 'm' &&
        b(q + 4) == ' '
      if (isQuotedFrom) out.write(b, lineStart + 1, i - lineStart - 1)
      else out.write(b, lineStart, i - lineStart)
      if (i < b.length) out.write('\n')
      lineStart = i + 1
      if (i >= b.length) lineStart = b.length + 1
    }
    out.toByteArray
  }

  /** Extractor entry: one row per message across all mbox files under
    * `path`. Options: `glob` (pathGlobFilter). */
  def read(spark: SparkSession, path: String, spec: ComponentSpec): DataFrame = {
    import spark.implicits._
    Container.files(spark, path, spec.strOr("glob", "*"))
      .flatMap { case (p, c) => parseFile(p, c) }
      .toDF()
  }
}
