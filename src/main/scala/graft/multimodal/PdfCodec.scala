package graft.multimodal

import scala.collection.mutable

/** Pure-byte PDF text extraction — the biggest real-crawl data type a
  * training-data engine must ingest (WARC segments are full of
  * `application/pdf` responses). Bounded subset in the proven codec
  * pattern ([[VideoCodec]], [[ExifCodec]]): no PDF library, the parser
  * walks the published file format (ISO 32000-1) directly —
  *
  *  - cross-reference TABLE walk from `startxref`, following `/Prev`
  *    chains (incremental updates: the newest table wins per object);
  *    PDFs whose xref is a 1.5+ cross-reference STREAM, or whose table
  *    is broken, fall back to a full object scan (`N G obj` markers) —
  *    the recovery path real crawl extractors need, since truncated /
  *    re-served PDFs with dead xrefs are common in the wild;
  *  - catalog → page-tree walk (`/Root` → `/Pages` → `/Kids`, cycle
  *    guarded);
  *  - content streams decoded via `/FlateDecode` (java.util.zip) and
  *    `/ASCIIHexDecode`; other filters and predictor DecodeParms fail
  *    LOUD with the filter name;
  *  - `BT`/`ET` text objects with the `Tj`, `TJ`, `'`, `"` show
  *    operators; `Td`/`TD`/`T*`/`Tm` break lines; TJ kerning ≤ −180
  *    (thousandths of an em — the conventional word-gap threshold)
  *    renders one space;
  *  - string literals with the full escape table (octal, line
  *    continuations, nested parens) and hex strings; shown bytes decode
  *    as WinAnsi (CP1252, the /WinAnsiEncoding the subset's fonts
  *    declare) or UTF-16BE when BOM-prefixed;
  *  - `/Encrypt` in the trailer fails loud by name (the subset does
  *    not decrypt).
  *
  * The reference engine has no document-format surface at all (its
  * `file` source is line-oriented, OETLFileSource.java:34-74); this is
  * a Spark-first extension. Everything here is per-row byte parsing
  * inside `mapPartitions` — zero exchanges, scales with the corpus.
  *
  * [[encodePdf]] is the fixture builder: REAL spec-conformant PDF bytes
  * (header, objects, streams, xref table, trailer) whose text is pure
  * doc_id arithmetic, so the DuckDB oracle recomputes the expected text
  * while the engine must recover it from the bytes.
  */
object PdfCodec {

  final case class PdfPage(media_id: Long, page: Int, n_pages: Int, text: String)

  /** One embedded image XObject: declared dims/filter from the PDF
    * dictionary, `image` = the decodable payload (DCTDecode streams ARE
    * JPEG bytes — passthrough; FlateDecode inflates to raw samples). */
  final case class PdfImage(media_id: Long, image_idx: Int, width: Int,
                            height: Int, filter: String, image: Array[Byte])

  // ------------------------------------------------------------ objects

  private sealed trait PObj
  private case class PNum(v: Double) extends PObj { def int: Long = v.toLong }
  private case class PName(v: String) extends PObj
  private case class PStr(bytes: Array[Byte]) extends PObj
  private case class PArr(items: Vector[PObj]) extends PObj
  private case class PDict(m: Map[String, PObj]) extends PObj
  private case class PRef(num: Int, gen: Int) extends PObj
  private case class PStream(dict: PDict, data: Array[Byte]) extends PObj
  private case object PNull extends PObj
  private case class PBool(b: Boolean) extends PObj
  private case class POp(name: String) extends PObj // content-stream operator

  private def isWs(c: Int): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == 0 || c == '\f'
  private def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
    c == '{' || c == '}' || c == '/' || c == '%'

  /** Minimal PDF lexer/parser over a byte array. `ops = true` parses a
    * content stream (bare operator tokens allowed, no indirect refs). */
  private final class Lexer(val b: Array[Byte], var i: Int, ops: Boolean,
                            what: String) {
    def fail(msg: String): Nothing =
      sys.error(s"pdfextract: $msg at byte $i of $what")

    def skipWs(): Unit = {
      var go = true
      while (go && i < b.length) {
        val c = b(i) & 0xff
        if (isWs(c)) i += 1
        else if (c == '%') { while (i < b.length && b(i) != '\n' && b(i) != '\r') i += 1 }
        else go = false
      }
    }

    def atEnd: Boolean = { skipWs(); i >= b.length }

    /** Next raw token as a PObj (numbers/names/strings/arrays/dicts/
      * keywords). Keywords return POp; the object layer maps
      * true/false/null/R. */
    def next(): PObj = {
      skipWs()
      if (i >= b.length) fail("unexpected end of data")
      val c = b(i) & 0xff
      c match {
        case '(' => PStr(literalString())
        case '<' =>
          if (i + 1 < b.length && b(i + 1) == '<') { i += 2; dict() }
          else PStr(hexString())
        case '[' =>
          i += 1
          val items = Vector.newBuilder[PObj]
          skipWs()
          while ({ skipWs(); i < b.length && b(i) != ']' }) items += nextValue()
          if (i >= b.length) fail("unterminated array")
          i += 1
          PArr(items.result())
        case ']' | '>' | ')' | '}' | '{' => fail(s"unexpected '${c.toChar}'")
        case '/' => PName(name())
        case d if d == '+' || d == '-' || d == '.' || (d >= '0' && d <= '9') =>
          PNum(number())
        case _ =>
          val start = i
          while (i < b.length && !isWs(b(i) & 0xff) && !isDelim(b(i) & 0xff)) i += 1
          if (i == start) fail(s"unparsable byte 0x${c.toHexString}")
          POp(new String(b, start, i - start, java.nio.charset.StandardCharsets.US_ASCII))
      }
    }

    /** Object-level value: folds `N G R` refs and true/false/null. */
    def nextValue(): PObj = next() match {
      case POp("true") => PBool(true)
      case POp("false") => PBool(false)
      case POp("null") => PNull
      case n @ PNum(v) if !ops && v == math.floor(v) && v >= 0 =>
        // lookahead for `gen R`
        val save = i
        skipWs()
        val save2 = i
        if (i < b.length && (b(i) >= '0' && b(i) <= '9')) {
          val g = number()
          skipWs()
          if (i < b.length && b(i) == 'R' &&
              (i + 1 >= b.length || isWs(b(i + 1) & 0xff) || isDelim(b(i + 1) & 0xff))) {
            i += 1
            return PRef(v.toInt, g.toInt)
          }
          i = save2
        }
        i = save
        n
      case o => o
    }

    private def dict(): PDict = {
      val m = Map.newBuilder[String, PObj]
      var go = true
      while (go) {
        skipWs()
        if (i + 1 < b.length && b(i) == '>' && b(i + 1) == '>') { i += 2; go = false }
        else if (i >= b.length) fail("unterminated dictionary")
        else {
          if (b(i) != '/') fail("dictionary key must be a name")
          val k = name()
          m += k -> nextValue()
        }
      }
      PDict(m.result())
    }

    private def name(): String = {
      i += 1 // '/'
      val sb = new java.lang.StringBuilder
      while (i < b.length && !isWs(b(i) & 0xff) && !isDelim(b(i) & 0xff)) {
        val c = b(i) & 0xff
        if (c == '#' && i + 2 < b.length) {
          val h = Character.digit(b(i + 1), 16) * 16 + Character.digit(b(i + 2), 16)
          if (h >= 0) { sb.append(h.toChar); i += 3 }
          else { sb.append(c.toChar); i += 1 }
        } else { sb.append(c.toChar); i += 1 }
      }
      sb.toString
    }

    private def number(): Double = {
      val start = i
      if (i < b.length && (b(i) == '+' || b(i) == '-')) i += 1
      while (i < b.length && ((b(i) >= '0' && b(i) <= '9') || b(i) == '.')) i += 1
      if (i == start) fail("expected number")
      java.lang.Double.parseDouble(
        new String(b, start, i - start, java.nio.charset.StandardCharsets.US_ASCII))
    }

    /** `( … )` literal with the ISO 32000 §7.3.4.2 escape table; raw
      * EOLs normalize to \n. */
    private def literalString(): Array[Byte] = {
      i += 1
      val out = new java.io.ByteArrayOutputStream()
      var depth = 1
      while (depth > 0) {
        if (i >= b.length) fail("unterminated string literal")
        val c = b(i) & 0xff
        c match {
          case '\\' =>
            i += 1
            if (i >= b.length) fail("dangling backslash in string")
            val e = b(i) & 0xff
            e match {
              case 'n' => out.write('\n'); i += 1
              case 'r' => out.write('\r'); i += 1
              case 't' => out.write('\t'); i += 1
              case 'b' => out.write('\b'); i += 1
              case 'f' => out.write('\f'); i += 1
              case '(' => out.write('('); i += 1
              case ')' => out.write(')'); i += 1
              case '\\' => out.write('\\'); i += 1
              case '\r' => // line continuation (\r or \r\n)
                i += 1; if (i < b.length && b(i) == '\n') i += 1
              case '\n' => i += 1
              case d if d >= '0' && d <= '7' =>
                var v = 0; var k = 0
                while (k < 3 && i < b.length && b(i) >= '0' && b(i) <= '7') {
                  v = v * 8 + (b(i) - '0'); i += 1; k += 1
                }
                out.write(v & 0xff)
              case other => out.write(other); i += 1 // spec: drop backslash
            }
          case '(' => depth += 1; out.write('('); i += 1
          case ')' =>
            depth -= 1; if (depth > 0) out.write(')'); i += 1
          case '\r' =>
            out.write('\n'); i += 1
            if (i < b.length && b(i) == '\n') i += 1
          case other => out.write(other); i += 1
        }
      }
      out.toByteArray
    }

    private def hexString(): Array[Byte] = {
      i += 1
      val out = new java.io.ByteArrayOutputStream()
      var hi = -1
      var go = true
      while (go) {
        if (i >= b.length) fail("unterminated hex string")
        val c = b(i) & 0xff
        if (c == '>') { i += 1; go = false }
        else if (isWs(c)) i += 1
        else {
          val d = Character.digit(c, 16)
          if (d < 0) fail(s"bad hex digit '${c.toChar}'")
          if (hi < 0) hi = d else { out.write(hi * 16 + d); hi = -1 }
          i += 1
        }
      }
      if (hi >= 0) out.write(hi * 16) // odd count: pad 0
      out.toByteArray
    }

    def expectKeyword(kw: String): Unit = next() match {
      case POp(`kw`) => ()
      case other => fail(s"expected '$kw', got $other")
    }
  }

  // ------------------------------------------------------- file walking

  private val Ascii = java.nio.charset.StandardCharsets.US_ASCII

  /** Parse the indirect object starting at `off`: `N G obj <value>
    * [stream …] endobj`. `lenOf` resolves an indirect /Length. */
  private def objectAt(b: Array[Byte], off: Long, what: String,
                       lenOf: PObj => Long): PObj = {
    val lx = new Lexer(b, off.toInt, ops = false, what)
    lx.next() match { case PNum(_) => (); case o => lx.fail(s"expected object number, got $o") }
    lx.next() match { case PNum(_) => (); case o => lx.fail(s"expected generation, got $o") }
    lx.expectKeyword("obj")
    val v = lx.nextValue()
    lx.skipWs()
    // stream?
    if (lx.i + 6 <= b.length &&
        new String(b, lx.i, 6, Ascii) == "stream") {
      val dict = v match {
        case d: PDict => d
        case o => lx.fail(s"stream without a dictionary ($o)")
      }
      var p = lx.i + 6
      if (p < b.length && b(p) == '\r') p += 1
      if (p < b.length && b(p) == '\n') p += 1
      val len = lenOf(dict.m.getOrElse("Length", lx.fail("stream missing /Length")))
      if (p + len > b.length) lx.fail(s"stream declares $len bytes past end of file")
      PStream(dict, java.util.Arrays.copyOfRange(b, p, p + len.toInt))
    } else v
  }

  /** Reverse the PNG row predictor of an xref stream (ISO 32000
    * §7.4.4.4 delegates to PNG filters; 8-bit single-component rows of
    * `columns` bytes, 1 tag byte each — None/Sub/Up/Average/Paeth). */
  private def unpredict(data: Array[Byte], columns: Int, what: String): Array[Byte] = {
    if (columns <= 0) sys.error(s"pdfextract: predictor /Columns $columns in $what")
    val rowLen = columns + 1
    val rows = data.length / rowLen
    val out = new Array[Byte](rows * columns)
    var r = 0
    while (r < rows) {
      val tag = data(r * rowLen) & 0xff
      var c = 0
      while (c < columns) {
        val x = data(r * rowLen + 1 + c) & 0xff
        val left = if (c > 0) out(r * columns + c - 1) & 0xff else 0
        val up = if (r > 0) out((r - 1) * columns + c) & 0xff else 0
        val ul = if (r > 0 && c > 0) out((r - 1) * columns + c - 1) & 0xff else 0
        val v = tag match {
          case 0 => x
          case 1 => x + left
          case 2 => x + up
          case 3 => x + (left + up) / 2
          case 4 => // Paeth
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
            x + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
          case t => sys.error(s"pdfextract: PNG predictor tag $t in $what")
        }
        out(r * columns + c) = (v & 0xff).toByte
        c += 1
      }
      r += 1
    }
    out
  }

  /** xref walk from `startxref`: classic TABLES and 1.5+ cross-reference
    * STREAMS (Flate + PNG predictor, /W field widths, /Index
    * subsections; type-2 entries map objects into /ObjStm object
    * streams), following `/Prev` chains of either kind. Returns
    * (obj → offset, obj → (objstm, idx), merged trailer) or None when
    * the chain is broken (caller falls back to the full scan). */
  private def xrefWalk(b: Array[Byte], what: String)
      : Option[(Map[Int, Long], Map[Int, (Int, Int)], Map[String, PObj])] = {
    val tailStart = math.max(0, b.length - 2048)
    val tail = new String(b, tailStart, b.length - tailStart, Ascii)
    val sx = tail.lastIndexOf("startxref")
    if (sx < 0) return None
    val numStr = tail.substring(sx + 9).trim.takeWhile(_.isDigit)
    if (numStr.isEmpty) return None
    val offsets = mutable.Map.empty[Int, Long]
    val compressed = mutable.Map.empty[Int, (Int, Int)]
    var trailer = Map.empty[String, PObj]
    def adopt(tdict: Map[String, PObj]): Long = {
      tdict.foreach { case (k, v) => if (!trailer.contains(k)) trailer += k -> v }
      tdict.get("Prev") match { case Some(PNum(v)) => v.toLong; case _ => -1L }
    }
    def record(num: Int): Boolean =
      !offsets.contains(num) && !compressed.contains(num)
    var next = numStr.toLong
    val seen = mutable.Set.empty[Long]
    try {
      while (next >= 0 && seen.add(next)) {
        if (next >= b.length) return None
        val lx = new Lexer(b, next.toInt, ops = false, what)
        lx.skipWs()
        if (lx.i + 4 <= b.length && new String(b, lx.i, 4, Ascii) == "xref") {
          // ---- classic table
          lx.i += 4
          var inTable = true
          while (inTable) {
            lx.skipWs()
            if (lx.i + 7 <= b.length && new String(b, lx.i, 7, Ascii) == "trailer") {
              lx.i += 7
              inTable = false
            } else {
              val start = lx.next() match { case PNum(v) => v.toInt; case o => lx.fail(s"xref: expected subsection start, got $o") }
              val count = lx.next() match { case PNum(v) => v.toInt; case o => lx.fail(s"xref: expected subsection count, got $o") }
              var k = 0
              while (k < count) {
                val off = lx.next() match { case PNum(v) => v.toLong; case o => lx.fail(s"xref: bad entry offset $o") }
                lx.next() // generation
                val typ = lx.next() match { case POp(t) => t; case o => lx.fail(s"xref: bad entry type $o") }
                // newest table wins: earlier (later-chained /Prev)
                // entries must not override ones already recorded
                if (typ == "n" && record(start + k)) offsets(start + k) = off
                k += 1
              }
            }
          }
          val tdict = lx.nextValue() match {
            case PDict(m) => m
            case o => lx.fail(s"xref: expected trailer dictionary, got $o")
          }
          next = adopt(tdict)
        } else {
          // ---- cross-reference STREAM (PDF 1.5+, §7.5.8)
          val obj = objectAt(b, next, what, {
            case PNum(v) => v.toLong
            case o => sys.error(s"pdfextract: xref stream /Length must be " +
              s"direct, got $o in $what")
          })
          val (dict, data0) = obj match {
            case PStream(PDict(m), d) if m.get("Type").contains(PName("XRef")) => (m, d)
            case _ => return None // garbage at startxref — scan instead
          }
          val inflated = dict.get("Filter") match {
            case None => data0
            case Some(PName("FlateDecode")) => inflate(data0, what)
            case Some(o) => sys.error(s"pdfextract: xref stream filter $o " +
              s"not in the subset in $what")
          }
          val data = dict.get("DecodeParms") match {
            case Some(PDict(dp)) =>
              val pred = dp.get("Predictor") match {
                case Some(PNum(v)) => v.toInt; case _ => 1 }
              if (pred <= 1) inflated
              else {
                val cols = dp.get("Columns") match {
                  case Some(PNum(v)) => v.toInt; case _ => 1 }
                unpredict(inflated, cols, what)
              }
            case _ => inflated
          }
          val w = dict.get("W") match {
            case Some(PArr(items)) => items.map {
              case PNum(v) => v.toInt
              case o => sys.error(s"pdfextract: bad /W entry $o in $what") }
            case o => sys.error(s"pdfextract: xref stream /W is $o in $what")
          }
          if (w.size != 3 || w.exists(x => x < 0 || x > 8))
            sys.error(s"pdfextract: xref stream /W ${w.mkString(",")} in $what")
          val size = dict.get("Size") match {
            case Some(PNum(v)) => v.toInt
            case o => sys.error(s"pdfextract: xref stream /Size is $o in $what")
          }
          val index: Seq[(Int, Int)] = dict.get("Index") match {
            case Some(PArr(items)) =>
              val ns = items.map { case PNum(v) => v.toInt
                case o => sys.error(s"pdfextract: bad /Index $o in $what") }
              ns.grouped(2).collect { case Seq(a, c) => (a, c) }.toSeq
            case _ => Seq((0, size))
          }
          val rowLen = w.sum
          var pos = 0
          def field(width: Int): Long = {
            var v = 0L; var k = 0
            while (k < width) { v = (v << 8) | (data(pos) & 0xff); pos += 1; k += 1 }
            v
          }
          index.foreach { case (start, count) =>
            var k = 0
            while (k < count) {
              if (pos + rowLen > data.length)
                sys.error(s"pdfextract: xref stream data short in $what")
              val t = if (w(0) == 0) 1L else field(w(0))
              val f2 = field(w(1))
              val f3 = field(w(2))
              val num = start + k
              t match {
                case 1L => if (record(num)) offsets(num) = f2
                case 2L => if (record(num)) compressed(num) = (f2.toInt, f3.toInt)
                case _ => () // type 0 free / unknown: skip
              }
              k += 1
            }
          }
          next = adopt(dict)
        }
      }
      Some((offsets.toMap, compressed.toMap, trailer))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Full-file object scan (`N G obj`) — the recovery path for dead /
    * stream xrefs. Later occurrences of an object number win
    * (incremental-update order). */
  private def scanObjects(b: Array[Byte]): Map[Int, Long] = {
    val offsets = mutable.Map.empty[Int, Long]
    var i = 0
    while (i + 3 < b.length) {
      if (b(i) == 'o' && b(i + 1) == 'b' && b(i + 2) == 'j' &&
          (i + 3 >= b.length || isWs(b(i + 3) & 0xff) || isDelim(b(i + 3) & 0xff))) {
        // backtrack: ws, generation digits, ws, object digits
        var j = i - 1
        while (j >= 0 && isWs(b(j) & 0xff)) j -= 1
        val genEnd = j
        while (j >= 0 && b(j) >= '0' && b(j) <= '9') j -= 1
        if (j < genEnd) {
          var k = j
          while (k >= 0 && isWs(b(k) & 0xff)) k -= 1
          val numEnd = k
          while (k >= 0 && b(k) >= '0' && b(k) <= '9') k -= 1
          if (k < numEnd && k < j) {
            val num = new String(b, k + 1, numEnd - k, Ascii).toInt
            offsets(num) = (k + 1).toLong
          }
        }
      }
      i += 1
    }
    offsets.toMap
  }

  // ------------------------------------------------------------ filters

  private def inflate(data: Array[Byte], what: String): Array[Byte] =
    graft.sources.Flate.inflate(data, m => sys.error(s"pdfextract: FlateDecode: $m in $what"))

  private def asciiHex(data: Array[Byte], what: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2)
    var hi = -1
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = data(i) & 0xff
      if (c == '>') done = true
      else if (!isWs(c)) {
        val d = Character.digit(c, 16)
        if (d < 0) sys.error(s"pdfextract: bad ASCIIHexDecode digit in $what")
        if (hi < 0) hi = d else { out.write(hi * 16 + d); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi * 16)
    out.toByteArray
  }

  /** Apply the stream's filter chain. Subset: none, /FlateDecode,
    * /ASCIIHexDecode (chainable); anything else — or predictor
    * DecodeParms — fails loud with the name. */
  private def decodeStream(s: PStream, what: String): Array[Byte] = {
    val filters: Seq[String] = s.dict.m.get("Filter") match {
      case None => Nil
      case Some(PName(n)) => Seq(n)
      case Some(PArr(items)) => items.map {
        case PName(n) => n
        case o => sys.error(s"pdfextract: bad /Filter entry $o in $what")
      }
      case Some(o) => sys.error(s"pdfextract: bad /Filter $o in $what")
    }
    s.dict.m.get("DecodeParms").orElse(s.dict.m.get("DP")).foreach {
      case PNull => ()
      case PDict(m) if !m.contains("Predictor") => ()
      case _ => sys.error(
        s"pdfextract: predictor DecodeParms not in the subset ($what)")
    }
    filters.foldLeft(s.data) { (d, f) =>
      f match {
        case "FlateDecode" | "Fl" => inflate(d, what)
        case "ASCIIHexDecode" | "AHx" => asciiHex(d, what)
        case other => sys.error(s"pdfextract: unsupported stream filter " +
          s"/$other in $what (subset: FlateDecode, ASCIIHexDecode)")
      }
    }
  }

  // ---------------------------------------------------- text extraction

  private lazy val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  private def decodeShown(bytes: Array[Byte]): String =
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xFE && (bytes(1) & 0xff) == 0xFF)
      new String(bytes, 2, bytes.length - 2, java.nio.charset.StandardCharsets.UTF_16BE)
    else new String(bytes, Cp1252)

  /** TJ kerning at or below this (thousandths of an em, negative =
    * rightward gap) renders a word space — the conventional extractor
    * threshold. */
  private val WordGapKern = -180.0

  /** Extract the text of ONE page's (concatenated, decoded) content
    * stream: BT/ET text objects, Tj/TJ/'/" shows, line breaks on
    * Td, TD, T-star and Tm. */
  private[multimodal] def contentText(content: Array[Byte], what: String): String = {
    val lx = new Lexer(content, 0, ops = true, what)
    val stack = mutable.ArrayBuffer.empty[PObj]
    val lines = mutable.ArrayBuffer.empty[String]
    val line = new java.lang.StringBuilder
    def newline(): Unit =
      if (line.length > 0) { lines += line.toString; line.setLength(0) }
    def show(o: PObj): Unit = o match {
      case PStr(s) => line.append(decodeShown(s))
      case _ => () // malformed operand: show nothing rather than crash the page
    }
    var inText = false
    while (!lx.atEnd) {
      lx.next() match {
        case POp(op) =>
          op match {
            case "BT" => inText = true
            case "ET" => inText = false; newline()
            case "Tj" if inText => stack.lastOption.foreach(show)
            case "'" if inText => newline(); stack.lastOption.foreach(show)
            case "\"" if inText => newline(); stack.lastOption.foreach(show)
            case "TJ" if inText => stack.lastOption.foreach {
              case PArr(items) => items.foreach {
                case s: PStr => show(s)
                case PNum(v) if v <= WordGapKern => line.append(' ')
                case _ => ()
              }
              case _ => ()
            }
            case "Td" | "TD" | "T*" | "Tm" if inText => newline()
            case _ => () // graphics / state operators: ignore
          }
          stack.clear()
        case operand => stack += operand
      }
    }
    newline()
    lines.mkString("\n")
  }

  // ----------------------------------------------------------- the walk

  /** A parsed document handle: the shared header/xref/object machinery
    * of [[extractPages]] and [[extractImages]]. */
  private final class Doc(id: Long, bytes: Array[Byte]) {
    val what = s"pdf (media $id)"
    // header: %PDF- within the first 1024 bytes (spec allows junk before)
    locally {
      val headWin = new String(bytes, 0, math.min(bytes.length, 1024), Ascii)
      if (!headWin.contains("%PDF-"))
        sys.error(s"pdfextract: no %PDF- header in $what")
    }
    var index: Map[Int, Long] = null
    var compressed: Map[Int, (Int, Int)] = Map.empty
    var trailer: Map[String, PObj] = Map.empty
    xrefWalk(bytes, what) match {
      case Some((idx, comp, t)) => index = idx; compressed = comp; trailer = t
      case None => index = scanObjects(bytes)
    }
    if (trailer.contains("Encrypt"))
      sys.error(s"pdfextract: encrypted PDF in $what (subset does not decrypt)")

    private val cache = mutable.Map.empty[Int, PObj]
    private val resolving = mutable.Set.empty[Int]
    def fetch(num: Int): PObj = cache.getOrElseUpdate(num, {
      if (!resolving.add(num))
        sys.error(s"pdfextract: circular object reference $num in $what")
      try index.get(num) match {
        case None => compressed.get(num) match {
          case Some((stm, idx)) => fromObjStm(stm, idx, num)
          case None => PNull
        }
        case Some(off) =>
          if (off < 0 || off >= bytes.length)
            sys.error(s"pdfextract: object $num offset $off out of range in $what")
          objectAt(bytes, off, what, {
            case PNum(v) => v.toLong
            case PRef(n, _) => resolve(fetch(n)) match {
              case PNum(v) => v.toLong
              case o => sys.error(s"pdfextract: indirect /Length resolves to $o in $what")
            }
            case o => sys.error(s"pdfextract: bad /Length $o in $what")
          })
      } finally resolving.remove(num)
    })
    // decoded /ObjStm object streams (PDF 1.5 §7.5.7): header = N
    // (objnum, relOffset) integer pairs, bodies start at /First
    private val objStmCache =
      mutable.Map.empty[Int, (Array[Byte], Seq[(Int, Int)], Int)]
    private def fromObjStm(stmNum: Int, idx: Int, num: Int): PObj = {
      val (data, pairs, first) = objStmCache.getOrElseUpdate(stmNum, {
        val s = fetch(stmNum) match {
          case st: PStream => st
          case o => sys.error(s"pdfextract: /ObjStm $stmNum is $o in $what")
        }
        if (!s.dict.m.get("Type").contains(PName("ObjStm")))
          sys.error(s"pdfextract: object $stmNum referenced as an object " +
            s"stream is not /ObjStm in $what")
        def intOf(k: String): Int = resolve(s.dict.m.getOrElse(k,
          sys.error(s"pdfextract: /ObjStm $stmNum missing /$k in $what"))) match {
          case PNum(v) => v.toInt
          case o => sys.error(s"pdfextract: /ObjStm /$k is $o in $what")
        }
        val n = intOf("N")
        val firstOff = intOf("First")
        val d = decodeStream(s, what)
        val lx = new Lexer(d, 0, ops = false, what)
        val prs = (0 until n).map { _ =>
          val a = lx.next() match { case PNum(v) => v.toInt
            case o => sys.error(s"pdfextract: bad /ObjStm header in $what ($o)") }
          val r = lx.next() match { case PNum(v) => v.toInt
            case o => sys.error(s"pdfextract: bad /ObjStm header in $what ($o)") }
          (a, r)
        }
        (d, prs, firstOff)
      })
      // the idx-th pair names the object; tolerate a shuffled header by
      // falling back to a number search (crawled PDFs are messy)
      val rel = pairs.lift(idx).filter(_._1 == num).map(_._2)
        .orElse(pairs.find(_._1 == num).map(_._2))
        .getOrElse(sys.error(s"pdfextract: object $num not in /ObjStm " +
          s"$stmNum in $what"))
      new Lexer(data, first + rel, ops = false, what).nextValue()
    }
    def resolve(o: PObj): PObj = o match {
      case PRef(n, _) => resolve(fetch(n))
      case other => other
    }
    // root: trailer /Root, else scan for the catalog (dead-xref path —
    // ascending object order, unparsable objects skipped: the recovery
    // walk must survive the same damage that killed the xref)
    lazy val rootDict: Map[String, PObj] = {
      val root = trailer.get("Root").map(resolve).getOrElse {
        index.keys.toSeq.sorted.iterator
          .map(n => scala.util.Try(fetch(n)).getOrElse(PNull))
          .collectFirst {
            case d @ PDict(m) if m.get("Type").contains(PName("Catalog")) => d
          }.getOrElse(sys.error(s"pdfextract: no document catalog in $what"))
      }
      val m = root match {
        case PDict(mm) => mm
        case o => sys.error(s"pdfextract: /Root is $o, not a catalog, in $what")
      }
      if (m.contains("Encrypt"))
        sys.error(s"pdfextract: encrypted PDF in $what (subset does not decrypt)")
      m
    }
  }

  /** Extract per-page text from real PDF bytes. Returns one string per
    * page, in page-tree order. Typed errors name the failing media id. */
  def extractPages(id: Long, bytes: Array[Byte]): Seq[String] = {
    val doc = new Doc(id, bytes)
    val what = doc.what
    def resolve(o: PObj): PObj = doc.resolve(o)
    val rootDict = doc.rootDict

    // page tree walk
    val pages = mutable.ArrayBuffer.empty[Map[String, PObj]]
    val seen = mutable.Set.empty[PObj]
    def walk(node: PObj): Unit = {
      if (!seen.add(node)) sys.error(s"pdfextract: cyclic page tree in $what")
      resolve(node) match {
        case PDict(m) => m.get("Type") match {
          case Some(PName("Pages")) | None if m.contains("Kids") =>
            resolve(m("Kids")) match {
              case PArr(kids) => kids.foreach(walk)
              case o => sys.error(s"pdfextract: /Kids is $o in $what")
            }
          case Some(PName("Page")) => pages += m
          case other => sys.error(s"pdfextract: page-tree node of type $other in $what")
        }
        case o => sys.error(s"pdfextract: page-tree node is $o in $what")
      }
    }
    walk(rootDict.getOrElse("Pages",
      sys.error(s"pdfextract: catalog without /Pages in $what")))

    pages.toSeq.map { page =>
      val streams: Seq[Array[Byte]] = page.get("Contents").map(resolve) match {
        case None => Nil
        case Some(s: PStream) => Seq(decodeStream(s, what))
        case Some(PArr(items)) => items.map(resolve).map {
          case s: PStream => decodeStream(s, what)
          case o => sys.error(s"pdfextract: /Contents element is $o in $what")
        }
        case Some(o) => sys.error(s"pdfextract: /Contents is $o in $what")
      }
      // multiple streams form ONE logical stream (§7.8.2): join with a
      // newline so a token can never fuse across stream boundaries
      val content =
        if (streams.length == 1) streams.head
        else streams.flatMap(s => s ++ Array[Byte]('\n')).toArray
      contentText(content, what)
    }
  }

  final case class PdfMeta(media_id: Long, title: Option[String],
                           author: Option[String], subject: Option[String])

  /** Document metadata from the trailer's `/Info` dictionary —
    * Title/Author/Subject text strings (WinAnsi or BOM'd UTF-16BE, the
    * §7.9.2 text-string rule), the dedup/attribution keys of a PDF
    * corpus (the [[AudioCodec.id3Text]]/htmlmeta analogue). A document
    * without `/Info` (or one recovered through the dead-xref object
    * scan, which has no trailer) yields all-None — metadata is
    * best-effort by nature; the text walk never depends on it. */
  def extractInfo(id: Long, bytes: Array[Byte]): PdfMeta = {
    val doc = new Doc(id, bytes)
    doc.trailer.get("Info").map(doc.resolve) match {
      case Some(PDict(m)) =>
        def str(k: String): Option[String] = m.get(k).map(doc.resolve).flatMap {
          case PStr(b) => Some(decodeShown(b))
          case _ => None
        }
        PdfMeta(id, str("Title"), str("Author"), str("Subject"))
      case _ => PdfMeta(id, None, None, None)
    }
  }

  /** Extract the embedded image XObjects of a PDF — the figure-mining
    * pass a document corpus runs next to text extraction. Walks EVERY
    * indexed object (ascending object number — document order for
    * appended objects; unparsable ones skipped, the same leniency as
    * the catalog recovery) and keeps streams whose dict says
    * `/Subtype /Image`. DCTDecode streams pass through VERBATIM (the
    * stream data IS a JFIF/JPEG payload — feed it straight to
    * `mm_decode`); FlateDecode inflates to raw samples; other filters
    * fail loud by name. Declared `/Width`/`/Height` ride along so a
    * downstream real decode can cross-check them. */
  def extractImages(id: Long, bytes: Array[Byte]): Seq[PdfImage] = {
    val doc = new Doc(id, bytes)
    val imgs = mutable.ArrayBuffer.empty[PdfImage]
    doc.index.keys.toSeq.sorted.foreach { num =>
      scala.util.Try(doc.fetch(num)).toOption match {
        case Some(s @ PStream(PDict(m), data))
            if m.get("Subtype").contains(PName("Image")) =>
          def intOf(k: String): Int = doc.resolve(m.getOrElse(k,
            sys.error(s"pdfextract: image object $num missing /$k in ${doc.what}"))) match {
            case PNum(v) => v.toInt
            case o => sys.error(s"pdfextract: image /$k is $o in ${doc.what}")
          }
          val filters = m.get("Filter") match {
            case None => Nil
            case Some(PName(n)) => Seq(n)
            case Some(PArr(items)) => items.collect { case PName(n) => n }
            case Some(o) => sys.error(
              s"pdfextract: image /Filter is $o in ${doc.what}")
          }
          val (fname, payload) = filters match {
            case Seq("DCTDecode") | Seq("DCT") => ("DCTDecode", data)
            case Nil => ("none", data)
            case Seq("FlateDecode") | Seq("Fl") =>
              ("FlateDecode", inflate(data, doc.what))
            case other => sys.error(s"pdfextract: image filter chain " +
              s"${other.mkString("/")} not in the subset (DCTDecode " +
              s"passthrough, FlateDecode, none) in ${doc.what}")
          }
          imgs += PdfImage(id, imgs.length, intOf("Width"), intOf("Height"),
            fname, payload)
        case _ => ()
      }
    }
    imgs.toSeq
  }

  // ---------------------------------------------------- fixture builder

  /** Build REAL PDF bytes: header, catalog, page tree, font (WinAnsi
    * Helvetica), per-page content streams, xref table, trailer.
    * `variant` exercises the parser's paths while producing IDENTICAL
    * text (one oracle expression for all):
    *  - 0 — raw (unfiltered) streams, `Tj` shows, `Td` line moves, an
    *    octal escape in the literal;
    *  - 1 — FlateDecode streams, `'` next-line show, `T*`, and a TJ
    *    array whose −250 kern renders the word space;
    *  - 2 — FlateDecode + hex strings + the `"` show operator.
    * Each page's lines come from `pageLines(page)` (1-based).
    * `jpegImage = Some((jpegBytes, w, h))` embeds a REAL image XObject
    * (DCTDecode) on page 1 — drawn via `cm /Im0 Do`, which the text
    * walk must ignore and [[extractImages]] must recover verbatim.
    * `info` adds an `/Info` dictionary (Title/Author) to the trailer. */
  def encodePdf(pageLines: Int => Seq[String], nPages: Int, variant: Int,
                jpegImage: Option[(Array[Byte], Int, Int)] = None,
                info: Option[(String, String)] = None,
                xref15: Boolean = false): Array[Byte] = {
    require(nPages >= 1, "encodePdf: nPages >= 1")
    def escLit(s: String): String = {
      val sb = new java.lang.StringBuilder
      s.foreach {
        case '(' => sb.append("\\(")
        case ')' => sb.append("\\)")
        case '\\' => sb.append("\\\\")
        case c => sb.append(c)
      }
      sb.toString
    }
    def hexOf(s: String): String =
      s.getBytes(Cp1252).map(b => f"${b & 0xff}%02X").mkString

    def contentFor(p: Int): String = {
      val lines = pageLines(p)
      val sb = new java.lang.StringBuilder("BT\n/F1 12 Tf\n72 720 Td\n")
      variant match {
        case 0 =>
          lines.zipWithIndex.foreach { case (l, k) =>
            if (k > 0) sb.append("0 -14 Td\n")
            // one deliberate octal escape: the first space (if any)
            val e = escLit(l)
            val sp = e.indexOf(' ')
            val lit = if (sp >= 0) e.substring(0, sp) + "\\040" + e.substring(sp + 1) else e
            sb.append(s"($lit) Tj\n")
          }
        case 1 =>
          lines.zipWithIndex.foreach { case (l, k) =>
            if (k == 0) sb.append(s"(${escLit(l)}) Tj\n")
            else if (k == lines.length - 1 && l.contains(' ')) {
              // word gap via TJ kerning
              val cut = l.indexOf(' ')
              sb.append("T*\n")
              sb.append(s"[ (${escLit(l.substring(0, cut))}) -250 " +
                s"(${escLit(l.substring(cut + 1))}) ] TJ\n")
            } else sb.append(s"(${escLit(l)}) '\n")
          }
        case _ =>
          lines.zipWithIndex.foreach { case (l, k) =>
            if (k == 0) sb.append(s"<${hexOf(l)}> Tj\n")
            else sb.append(s"0 0 (${escLit(l)}) \"\n")
          }
      }
      sb.append("ET")
      sb.toString
    }

    val imgObj = if (jpegImage.isDefined) Some(4 + 2 * nPages) else None
    val infoObj = if (info.isDefined) Some(4 + 2 * nPages + imgObj.size) else None
    // catalog, pages, font, n×(page, stream) [, image] [, info]
    val nObjs = 3 + 2 * nPages + imgObj.size + infoObj.size
    val objStmNum = nObjs + 1 // xref15 layout only
    val xrefNum = nObjs + 2
    val chunks = mutable.ArrayBuffer.empty[Array[Byte]]
    var size = 0
    def emit(s: Array[Byte]): Unit = { chunks += s; size += s.length }
    def emitStr(s: String): Unit = emit(s.getBytes(Cp1252))
    val offsets = new Array[Int](xrefNum + 1)
    def deflate(raw: Array[Byte]): Array[Byte] = graft.sources.Flate.deflate(raw)
    // dict-only objects: top-level in the classic layout, collected
    // into a compressed /ObjStm in the 1.5 layout (the modern form)
    val stash = mutable.ArrayBuffer.empty[(Int, String)]
    def plain(num: Int, body: String): Unit =
      if (xref15) stash += ((num, body))
      else { offsets(num) = size; emitStr(s"$num 0 obj\n$body\nendobj\n") }

    emitStr(if (xref15) "%PDF-1.5\n%âãÏÓ\n" else "%PDF-1.4\n%âãÏÓ\n")
    plain(1, "<< /Type /Catalog /Pages 2 0 R >>")
    val kids = (0 until nPages).map(p => s"${4 + 2 * p} 0 R").mkString(" ")
    plain(2, s"<< /Type /Pages /Kids [ $kids ] /Count $nPages >>")
    plain(3, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
      "/Encoding /WinAnsiEncoding >>")
    for (p <- 0 until nPages) {
      val pageObj = 4 + 2 * p
      val streamObj = pageObj + 1
      val xobj = imgObj.filter(_ => p == 0)
        .map(o => s"/XObject << /Im0 $o 0 R >> ").getOrElse("")
      plain(pageObj, "<< /Type /Page /Parent 2 0 R " +
        "/MediaBox [ 0 0 612 792 ] " +
        s"/Resources << /Font << /F1 3 0 R >> $xobj>> /Contents $streamObj 0 R >>")
      offsets(streamObj) = size
      val drawOp = if (p == 0 && imgObj.isDefined)
        "\nq 96 0 0 96 36 36 cm /Im0 Do Q" else ""
      val raw = (contentFor(p + 1) + drawOp).getBytes(Cp1252)
      val (data, filter) =
        if (variant == 0) (raw, "")
        else (deflate(raw), " /Filter /FlateDecode")
      emitStr(s"$streamObj 0 obj\n<< /Length ${data.length}$filter >>\nstream\n")
      emit(data)
      emitStr("\nendstream\nendobj\n")
    }
    for ((o, (jpg, w, h)) <- imgObj.zip(jpegImage)) {
      offsets(o) = size
      emitStr(s"$o 0 obj\n<< /Type /XObject /Subtype /Image /Width $w " +
        s"/Height $h /ColorSpace /DeviceRGB /BitsPerComponent 8 " +
        s"/Filter /DCTDecode /Length ${jpg.length} >>\nstream\n")
      emit(jpg)
      emitStr("\nendstream\nendobj\n")
    }
    for ((o, (title, author)) <- infoObj.zip(info)) {
      def lit(s: String) = "(" + s.flatMap {
        case '(' => "\\("; case ')' => "\\)"; case '\\' => "\\\\"
        case c => c.toString } + ")"
      plain(o, s"<< /Title ${lit(title)} /Author ${lit(author)} >>")
    }
    if (!xref15) {
      val xrefOff = size
      val sb = new java.lang.StringBuilder
      sb.append(s"xref\n0 ${nObjs + 1}\n")
      sb.append("0000000000 65535 f \n")
      for (o <- 1 to nObjs) sb.append(f"${offsets(o)}%010d 00000 n \n")
      sb.append(s"trailer\n<< /Size ${nObjs + 1} /Root 1 0 R" +
        infoObj.map(o => s" /Info $o 0 R").getOrElse("") + " >>\n")
      sb.append(s"startxref\n$xrefOff\n%%EOF\n")
      emitStr(sb.toString)
    } else {
      // ---- /ObjStm holding every dict-only object (§7.5.7)
      val bodies = stash.map { case (n, b) => (n, b + "\n") }
      val rels = bodies.scanLeft(0)(_ + _._2.length).init
      val header = bodies.zip(rels)
        .map { case ((n, _), r) => s"$n $r" }.mkString(" ") + "\n"
      val stmRaw = (header + bodies.map(_._2).mkString).getBytes(Cp1252)
      val stmData = deflate(stmRaw)
      offsets(objStmNum) = size
      emitStr(s"$objStmNum 0 obj\n<< /Type /ObjStm /N ${bodies.size} " +
        s"/First ${header.length} /Filter /FlateDecode " +
        s"/Length ${stmData.length} >>\nstream\n")
      emit(stmData)
      emitStr("\nendstream\nendobj\n")
      // ---- cross-reference STREAM (§7.5.8): W [1 4 2], PNG Up predictor
      offsets(xrefNum) = size
      val idxOf = stash.zipWithIndex.map { case ((n, _), k) => n -> k }.toMap
      val cols = 7
      val rowsRaw = (0 to xrefNum).map { n =>
        val (t, f2, f3) =
          if (n == 0) (0L, 0L, 0xFFL)
          else idxOf.get(n) match {
            case Some(k) => (2L, objStmNum.toLong, k.toLong)
            case None => (1L, offsets(n).toLong, 0L)
          }
        Array[Byte](t.toByte,
          ((f2 >> 24) & 0xff).toByte, ((f2 >> 16) & 0xff).toByte,
          ((f2 >> 8) & 0xff).toByte, (f2 & 0xff).toByte,
          ((f3 >> 8) & 0xff).toByte, (f3 & 0xff).toByte)
      }
      val predicted = new java.io.ByteArrayOutputStream()
      var prev = new Array[Byte](cols)
      rowsRaw.foreach { row =>
        predicted.write(2) // Up
        var c = 0
        while (c < cols) {
          predicted.write(((row(c) & 0xff) - (prev(c) & 0xff)) & 0xff)
          c += 1
        }
        prev = row
      }
      val xrefData = deflate(predicted.toByteArray)
      emitStr(s"$xrefNum 0 obj\n<< /Type /XRef /Size ${xrefNum + 1} " +
        s"/W [ 1 4 2 ] /Root 1 0 R" +
        infoObj.map(o => s" /Info $o 0 R").getOrElse("") +
        s" /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns $cols >> " +
        s"/Length ${xrefData.length} >>\nstream\n")
      emit(xrefData)
      emitStr("\nendstream\nendobj\n")
      emitStr(s"startxref\n${offsets(xrefNum)}\n%%EOF\n")
    }

    val out = new Array[Byte](size)
    var pos = 0
    chunks.foreach { c => System.arraycopy(c, 0, out, pos, c.length); pos += c.length }
    out
  }
}
