package graft.sources

import graft.spec.ComponentSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** XML extractor — record-oriented XML files (the Wikipedia-dump /
  * PubMed shape: one repeated `rowTag` element per record) compiled to
  * a DataFrame. The reference has no XML surface (its extractors are
  * row/json/jdbc, OETLComponentFactory.java:204-215); this is the
  * Spark-first extension for the XML corpora an LLM pipeline actually
  * ingests (enwiki `<page>` dumps, PubMed `<PubmedArticle>`).
  *
  * Model: each `rowTag` element becomes a row; its attributes become
  * columns (prefixed `_`), each DIRECT child element becomes a string
  * column — entity-decoded text for leaf children, the raw inner XML
  * for children with element content (drill further with a second
  * pass or SQL). `rowTag` elements must not nest (true for the dump
  * formats this targets; nesting fails loud). Columns are the UNION of
  * fields seen in the first `inferRecords` records of the first file
  * (the CSV header-learning pattern) unless `fields` pins them.
  *
  * Parallelism: one task per FILE (`binaryFile`), shards packed by
  * Spark's openCost binning — the layout of real dump mirrors (enwiki
  * ships ~200 MB multistream shards). Gzipped shards are detected by the
  * 1f 8b magic, never by the file name, and decompressed in-task through
  * [[Flate]] (multi-member tolerated).
  */
object Xml {

  /** Quote-aware scan from an attribute region to the tag-closing '>'.
    * Returns (indexAfterGt, selfClosing, attrs). */
  private def attrs(s: String, start: Int): (Int, Boolean, Map[String, String]) = {
    val out = scala.collection.mutable.HashMap.empty[String, String]
    var i = start
    var selfClosing = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '>') {
        return (i + 1, selfClosing, out.toMap)
      } else if (c == '/') { selfClosing = true; i += 1 }
      else if (Character.isWhitespace(c)) i += 1
      else {
        val eq = s.indexOf('=', i)
        val gt = s.indexOf('>', i)
        if (eq < 0 || (gt >= 0 && eq > gt)) {
          // bare attribute (no value) — skip the token
          var j = i
          while (j < s.length && !Character.isWhitespace(s.charAt(j)) &&
                 s.charAt(j) != '>' && s.charAt(j) != '/') j += 1
          i = j
        } else {
          val name = s.substring(i, eq).trim
          var j = eq + 1
          while (j < s.length && Character.isWhitespace(s.charAt(j))) j += 1
          if (j < s.length && (s.charAt(j) == '"' || s.charAt(j) == '\'')) {
            val q = s.charAt(j)
            val end = s.indexOf(q, j + 1)
            val v = if (end < 0) s.substring(j + 1) else s.substring(j + 1, end)
            if (name.nonEmpty) out(name) = decode(v)
            i = if (end < 0) s.length else end + 1
          } else i = j
        }
      }
    }
    (s.length, selfClosing, out.toMap)
  }

  /** XML 1.0 predefined entities + numeric references, one pass. */
  def decode(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi < 0 || semi - i > 12) { sb.append('&'); i += 1 }
        else {
          s.substring(i + 1, semi) match {
            case "amp" => sb.append('&'); i = semi + 1
            case "lt" => sb.append('<'); i = semi + 1
            case "gt" => sb.append('>'); i = semi + 1
            case "quot" => sb.append('"'); i = semi + 1
            case "apos" => sb.append('\''); i = semi + 1
            case n if n.length > 1 && n.charAt(0) == '#' =>
              try {
                val code = if (n.charAt(1) == 'x' || n.charAt(1) == 'X')
                  Integer.parseInt(n.substring(2), 16)
                else Integer.parseInt(n.substring(1), 10)
                if (Character.isValidCodePoint(code)) sb.appendCodePoint(code)
                i = semi + 1
              } catch { case _: NumberFormatException => sb.append('&'); i += 1 }
            case _ => sb.append('&'); i += 1
          }
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** One record's fields: row-tag attributes (as `_name`) + direct
    * children. Leaf child → decoded text; element-content child → raw
    * inner XML. Repeated child names concatenate with `\n` (dump
    * formats rarely repeat; losing structure beats losing data). */
  def recordFields(rec: String, rowTag: String): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val (bodyStart, selfC, rowAttrs) = attrs(rec, rec.indexOf(rowTag) + rowTag.length)
    rowAttrs.foreach { case (k, v) => out("_" + k) = v }
    if (selfC) return out.toMap
    val body = rec.substring(bodyStart, rec.lastIndexOf("</"))
    var i = 0
    while (i < body.length) {
      val lt = body.indexOf('<', i)
      if (lt < 0) i = body.length
      else if (body.regionMatches(lt, "<!--", 0, 4)) {
        val e = body.indexOf("-->", lt); i = if (e < 0) body.length else e + 3
      } else {
        var j = lt + 1
        while (j < body.length && isNameChar(body.charAt(j))) j += 1
        val name = body.substring(lt + 1, j)
        if (name.isEmpty) { i = lt + 1 }
        else {
          val (afterGt, selfClosing, _) = attrs(body, j)
          if (selfClosing) { put(out, name, ""); i = afterGt }
          else {
            // find the MATCHING close tag, honoring same-name nesting
            val open = "<" + name
            val close = "</" + name + ">"
            var depth = 1
            var k = afterGt
            var closeAt = -1
            while (closeAt < 0 && k < body.length) {
              val nextOpen = body.indexOf(open, k)
              val nextClose = body.indexOf(close, k)
              if (nextClose < 0) k = body.length
              // name-boundary rule MUST match the tag-name scan above:
              // `<id_x>` inside `<id>` is a DIFFERENT element, not a
              // nested <id> open — '_'/':'/'-' continue a name too. A
              // false open (name continues) is SKIPPED and the scan
              // resumes: a true open may still sit before nextClose.
              else if (nextOpen >= 0 && nextOpen < nextClose) {
                if (nextOpen + open.length < body.length &&
                    isNameChar(body.charAt(nextOpen + open.length)))
                  k = nextOpen + open.length // false open: rescan
                else { depth += 1; k = nextOpen + open.length }
              } else {
                depth -= 1
                if (depth == 0) closeAt = nextClose
                k = nextClose + close.length
              }
            }
            if (closeAt < 0)
              sys.error(s"xml: unterminated <$name> inside a <$rowTag> record")
            val inner = body.substring(afterGt, closeAt)
            put(out, name, if (inner.indexOf('<') >= 0) inner.trim else decode(inner).trim)
            i = closeAt + close.length
          }
        }
      }
    }
    out.toMap
  }

  private def put(m: scala.collection.mutable.LinkedHashMap[String, String],
                  k: String, v: String): Unit =
    m(k) = m.get(k).map(_ + "\n" + v).getOrElse(v)

  /** The ONE name-continuation rule (tag-name scan, matching-close depth
    * scan, records() opener/nesting probes all share it): a char that
    * extends an element name, so `<id_x>` is never mistaken for `<id>`. */
  private def isNameChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_' || c == ':' || c == '-'

  /** Slice a document into its `<rowTag …>…</rowTag>` records. */
  def records(doc: String, rowTag: String): Iterator[String] = {
    val open = "<" + rowTag
    val close = "</" + rowTag + ">"
    new Iterator[String] {
      private var i = 0
      private var nxt: String = advance()
      private def advance(): String = {
        var at = doc.indexOf(open, i)
        // the tag name must END here (reject <pageX when rowTag=page)
        while (at >= 0 && at + open.length < doc.length &&
               isNameChar(doc.charAt(at + open.length)))
          at = doc.indexOf(open, at + 1)
        if (at < 0) return null
        val end = doc.indexOf(close, at)
        if (end < 0) sys.error(s"xml: unterminated <$rowTag> record at char $at")
        // nested-record probe needs the SAME name-boundary rule as the
        // opener scan: a child named <pageX> inside a <page> is legal
        var inner = doc.indexOf(open, at + open.length)
        while (inner >= 0 && inner < end &&
               inner + open.length < doc.length &&
               isNameChar(doc.charAt(inner + open.length)))
          inner = doc.indexOf(open, inner + 1)
        if (inner >= 0 && inner < end)
          sys.error(s"xml: nested <$rowTag> at char $inner — rowTag records must not nest")
        i = end + close.length
        doc.substring(at, i)
      }
      override def hasNext: Boolean = nxt != null
      override def next(): String = { val r = nxt; nxt = advance(); r }
    }
  }

  /** One file's document text, gunzipped first when it is gzipped. */
  private def document(path: String, raw: Array[Byte]): String =
    new String(Flate.gunzipIfGzip(raw, m => sys.error(s"xml: $m in $path")),
      java.nio.charset.StandardCharsets.UTF_8)

  /** Extractor entry. Options: `rowTag` (required), `fields` (explicit
    * column list; absent = learned from the first `inferRecords`
    * records of the lexicographically first file, default 20). */
  def read(spark: SparkSession, path: String, spec: ComponentSpec): DataFrame = {
    val rowTag = spec.str("rowTag").getOrElse(sys.error("xml extractor: rowTag required"))
    val explicit = spec.strList("fields")
    val cols: Seq[String] =
      if (explicit.nonEmpty) explicit
      else {
        // plan-time peek, driver-side: first file only (the CSV
        // header-learning pattern — bounded, never a full-scan job)
        val inferN = spec.int("inferRecords", 20)
        Container.firstFile(spark, path) { (first, in) =>
          val seen = scala.collection.mutable.LinkedHashSet.empty[String]
          records(document(first.toString, in.readAllBytes()), rowTag).take(inferN)
            .foreach(r => recordFields(r, rowTag).keys.foreach(seen += _))
          if (seen.isEmpty) sys.error(s"xml: no <$rowTag> records in ${first.getName}")
          seen.toSeq
        }.getOrElse(sys.error(s"xml: no files under $path"))
      }
    val schema = StructType(cols.map(StructField(_, StringType, nullable = true)))
    val files = Container.files(spark, path)
    val colArr = cols.toArray
    val rows = files.flatMap { case (p, raw) =>
      records(document(p, raw), rowTag).map { rec =>
        val f = recordFields(rec, rowTag)
        Row.fromSeq(colArr.map(c => f.get(c).orNull).toSeq)
      }
    }(org.apache.spark.sql.Encoders.row(schema))
    rows.toDF()
  }
}
