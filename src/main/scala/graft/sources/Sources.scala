package graft.sources

import graft.engine.EtlContext
import graft.spec.ComponentSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources + extractors, compiled to DataFrameReader plans.
  *
  * Reference shape: a Source yields a character Reader (file/http/stdin —
  * source/OFileSource.java, OHttpSource.java, OInputSource.java) and an
  * Extractor frames records out of it (row/json/jdbc —
  * extractor/ORowExtractor.java, OJsonExtractor.java, OJDBCExtractor.java);
  * CSV parsing is a *transformer* in the reference (OCSVTransformer.java).
  *
  * Spark-first inversion (SURVEY.md §2.1-2.2): source+extractor collapse
  * into ONE distributed scan — `spark.read.{text,json,csv,jdbc}` — so
  * splitting, decompression (gzip via Hadoop codecs, cf.
  * OFileSource.java:135-136) and parallelism come from the data source
  * framework instead of a single-threaded Reader loop.
  */
object Sources {

  /** Glob → anchored Java regex for member-name filters — the ONE
    * translation shared by the archive extractors (Zip/Tar); `*` spans
    * path separators (archive members are flat names, not paths). */
  private[sources] def memberGlobRegex(g: String): String =
    "^" + java.util.regex.Pattern.quote(g)
      .replace("*", "\\E.*\\Q").replace("?", "\\E.\\Q") + "$"

  /** Text scan: the `file` source + `row` extractor pair.
    *
    * `skipFirst`/`skipLast` implement the reference's *documented intent*
    * (OFileSource.java:67-74 parses both but never applies them — a
    * reference bug we do not replicate; SURVEY.md §7.5).
    *
    * Scale posture: the FAST PATH (`needRowNumbers=false`, no skips) is a
    * plain `spark.read.text` — one vectorized scan, full codegen, no RDD
    * conversion. Line-number semantics (`_row_num` = `extractedNum`,
    * OETLPipeline.java:104-105) cost one zipWithIndex partition-count job
    * and are paid ONLY when a downstream stage genuinely consumes them
    * (header learning / skipFrom/skipTo — the engine computes that from
    * the spec, see [[graft.engine.Engine.run]]). `skipLast` adds one
    * `count` pass, only when requested.
    */
  def textLines(spark: SparkSession, path: String,
                skipFirst: Long = 0, skipLast: Long = 0,
                needRowNumbers: Boolean = false): DataFrame = {
    if (skipFirst == 0 && skipLast == 0 && !needRowNumbers)
      return spark.read.text(path).withColumnRenamed("value", "value")
    val rdd = spark.sparkContext.textFile(path)
    val numbered = rdd.zipWithIndex().map { case (l, i) => Row(l, i) }
    val schema = StructType(Seq(
      StructField("value", StringType), StructField("_row_num", LongType)))
    val df = spark.createDataFrame(numbered, schema)
    val afterFirst = if (skipFirst > 0) df.filter(col("_row_num") >= skipFirst) else df
    val trimmed = if (skipLast > 0) {
      val total = rdd.count() // one extra pass, only when skipLast requested
      afterFirst.filter(col("_row_num") < total - skipLast)
    } else afterFirst
    // renumber so downstream header/skip arithmetic sees 0-based lines
    if (skipFirst > 0) trimmed.withColumn("_row_num", col("_row_num") - skipFirst)
    else trimmed
  }

  /** `http` source: driver-side fetch (OHttpSource.java:36-117) → a
    * parallelized dataset of lines. Bounded payloads only — the reference
    * buffers the whole response on one thread too. */
  def httpLines(spark: SparkSession, url: String, method: String = "GET",
                headers: Map[String, String] = Map.empty,
                needRowNumbers: Boolean = false): DataFrame = {
    import java.net.{HttpURLConnection, URL}
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method.toUpperCase)
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    val src = scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8")
    val lines = try src.getLines().toVector finally { src.close(); conn.disconnect() }
    driverLines(spark, lines, needRowNumbers)
  }

  /** `input` source (stdin, OInputSource.java:30-51). */
  def stdinLines(spark: SparkSession, needRowNumbers: Boolean = false): DataFrame = {
    val lines = scala.io.Source.stdin.getLines().toVector
    driverLines(spark, lines, needRowNumbers)
  }

  /** Driver-held lines → DataFrame, with `_row_num` when a downstream
    * stage consumes line numbers (header/skip arithmetic) — without it,
    * csv skipFrom/skipTo over http/stdin sources would silently no-op. */
  private def driverLines(spark: SparkSession, lines: Vector[String],
                          needRowNumbers: Boolean): DataFrame = {
    import spark.implicits._
    if (!needRowNumbers) lines.toDF("value")
    else lines.zipWithIndex.map { case (l, i) => (l, i.toLong) }
      .toDF("value", "_row_num")
  }

  /** `json` extractor (OJsonExtractor.java:28-101): accepts a JSON array
    * of objects or a single object; we additionally accept JSON-lines
    * (the scalable layout). */
  def json(spark: SparkSession, path: String, multiLine: Boolean = false,
           schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("multiLine", multiLine.toString)
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** CSV scan with the reference transformer's option surface
    * (OCSVTransformer.java:54-91): separator, columnsOnFirstLine,
    * declared `name:type` columns, nullValue token, quote char. */
  def csv(spark: SparkSession, path: String, spec: ComponentSpec): DataFrame = {
    val sep = spec.strOr("separator", ",")
    val header = spec.bool("columnsOnFirstLine", dflt = true)
    val quote = spec.strOr("stringCharacter", "\"")
    var r = spark.read
      .option("sep", sep).option("header", header.toString).option("quote", quote)
    spec.str("nullValue").foreach(nv => r = r.option("nullValue", nv))
    val declared = spec.strList("columns")
    if (declared.nonEmpty) {
      r = r.schema(schemaFromColumns(declared)).option("header", header.toString)
      r.csv(path)
    } else r.option("inferSchema", "true").csv(path)
  }

  /** `columns: ["id:integer", "name:string", …]` → StructType
    * (OCSVTransformer.java:62-75 `name:type` syntax, OType names). */
  def schemaFromColumns(cols: Seq[String]): StructType =
    StructType(cols.map { c =>
      val (name, tpe) = c.indexOf(':') match {
        case -1 => (c, "string")
        case i => (c.substring(0, i), c.substring(i + 1))
      }
      StructField(name, oTypeToSpark(tpe))
    })

  /** OrientDB OType name → Spark type (SURVEY.md §1.2/§1.3 mapping;
    * JDBC-side equivalences at OJDBCExtractor.java:126-171). */
  def oTypeToSpark(t: String): DataType = t.trim.toLowerCase match {
    case "boolean" => BooleanType
    case "byte" => ByteType
    case "short" => ShortType
    case "integer" | "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "decimal" => DecimalType(38, 10)
    case "string" | "any" | "" => StringType
    case "binary" => BinaryType
    case "date" => DateType
    case "datetime" | "timestamp" => TimestampType
    case other => throw new IllegalArgumentException(s"unknown OType $other")
  }

  /** `fixedwidth` extractor: classic mainframe/export fixed-width text —
    * the column layout the reference's row/CSV pair doesn't cover but
    * the same file-ETL audience uses daily. Operates on the source's
    * line stream, so gzip/skipFirst/skipLast compose for free. Each
    * `columns` entry is `name:start:len[:type]` (1-based start, OType
    * names — the `csv` transformer's type vocabulary). Options: `trim`
    * (default true — strip the pad spaces), `nullOnBlank` (default true
    * — an all-blank cell is null, the fixed-width missing-value
    * convention). A short line yields short/empty cells (→ null under
    * nullOnBlank), never an error — trailing-column truncation is the
    * format's normal encoding.
    *
    * Scale shape: a pure per-line projection (substring/trim/cast are
    * codegen'd) over the distributed text scan — no shuffle, splittable
    * wherever the underlying file is. */
  def fixedWidth(lines: DataFrame, spec: ComponentSpec): DataFrame = {
    val colSpecs = spec.strList("columns")
    require(colSpecs.nonEmpty,
      "fixedwidth: `columns` required — entries 'name:start:len[:type]' (1-based start)")
    val trimCells = spec.bool("trim", dflt = true)
    val nullBlank = spec.bool("nullOnBlank", dflt = true)
    val parsed = colSpecs.map { c =>
      def num(x: String) =
        try x.toInt catch { case _: NumberFormatException => sys.error(
          s"fixedwidth: bad column spec '$c' — '$x' is not an integer " +
          "(want name:start:len[:type], 1-based)") }
      c.split(":") match {
        case Array(n, s, l) => (n, num(s), num(l), "string")
        case Array(n, s, l, t) => (n, num(s), num(l), t)
        case _ => sys.error(
          s"fixedwidth: bad column spec '$c' — want name:start:len[:type]")
      }
    }
    parsed.foreach { case (n, s, l, _) =>
      require(s >= 1 && l >= 1,
        s"fixedwidth: column '$n' start/len must be >= 1 (1-based offsets)") }
    val out = parsed.map { case (n, s, l, t) =>
      val cell = substring(col("value"), s, l)
      val v = if (trimCells) trim(cell) else cell
      val nulled = if (nullBlank) when(trim(cell) === "", lit(null)).otherwise(v) else v
      (if (t.trim.toLowerCase == "string") nulled
       else nulled.cast(oTypeToSpark(t))).as(n)
    }
    lines.select(out: _*)
  }

  /** `jdbc` extractor (OJDBCExtractor.java:47-314): arbitrary SQL pushed
    * to the remote DB as a subquery; `fetchSize` honored; partitioned
    * parallel reads available via partitionColumn options (free in Spark,
    * absent in the reference's single forward-only cursor). */
  def jdbc(spark: SparkSession, spec: ComponentSpec): DataFrame = {
    val url = spec.str("url").getOrElse(sys.error("jdbc: url required"))
    val query = spec.str("query").getOrElse(sys.error("jdbc: query required"))
    val partitioned = spec.str("partitionColumn").isDefined &&
      spec.str("lowerBound").isDefined && spec.str("upperBound").isDefined
    var r = spark.read.format("jdbc")
      .option("url", url)
      .option("fetchsize", spec.int("fetchSize", 10000).toString)
    // Spark rejects `query` + `partitionColumn` together — partitioned
    // reads must wrap the query as a dbtable subquery instead
    // alias must start with a letter — Derby (and the SQL standard)
    // reject leading-underscore identifiers
    r = if (partitioned) r.option("dbtable", s"($query) graft_q")
        else r.option("query", query)
    spec.str("driver").foreach(d => r = r.option("driver", d))
    spec.str("userName").foreach(u => r = r.option("user", u))
    spec.str("userPassword").foreach(p => r = r.option("password", p))
    for (pc <- spec.str("partitionColumn"); lb <- spec.str("lowerBound");
         ub <- spec.str("upperBound")) {
      r = r.option("partitionColumn", pc).option("lowerBound", lb)
        .option("upperBound", ub)
        .option("numPartitions", spec.int("numPartitions", 8).toString)
    }
    r.load()
  }

  /** Build the extraction DataFrame for a (source, extractor) spec pair —
    * the engine's entry scan.
    *
    * @param needRowNumbers true when a downstream stage consumes
    *   `_row_num` (header learning, skipFrom/skipTo) — computed by the
    *   engine from the transformer specs so the common path stays a plain
    *   vectorized text scan.
    */
  def build(ctx: EtlContext, source: Option[ComponentSpec],
            extractor: Option[ComponentSpec],
            needRowNumbers: Boolean = false): DataFrame = {
    val spark = ctx.spark
    def sourcePath: String = {
      val s = source.getOrElse(sys.error("extractor requires a source with a path/url"))
      s.name match {
        case "file" => ctx.resolved(s, "path").getOrElse(sys.error("file source: path required"))
        case "http" => ctx.resolved(s, "url").getOrElse(sys.error("http source: url required"))
        case other => sys.error(s"source $other provides no path")
      }
    }
    val isHttp = source.exists(_.name == "http")
    def lines: DataFrame = source.map(_.name) match {
      case Some("file") | None =>
        val s = source.getOrElse(sys.error(
          "row/csv extraction requires a source section (file/http/input)"))
        val skipFirst = s.long("skipFirst").getOrElse(0L)
        // remember the scan path so plan-time header learning can read
        // the first line driver-side instead of running a full-scan job.
        // ONLY valid when no leading lines are skipped: after skipFirst
        // the renumbered line 0 is NOT the file's raw first line
        if (skipFirst == 0L) ctx.vars.put("__lastSourcePath", sourcePath)
        textLines(spark, sourcePath, skipFirst,
          s.long("skipLast").getOrElse(0L), needRowNumbers)
      case Some("http") =>
        val s = source.get
        httpLines(spark, sourcePath, s.strOr("method", "GET"),
          s.map("headers").map { case (k, v) => k -> v.toString },
          needRowNumbers)
      case Some("input") => stdinLines(spark, needRowNumbers)
      case Some(other) => sys.error(s"unknown source $other")
    }
    extractor.map(e => (e.name, e)) match {
      case None | Some(("row", _)) => lines
      case Some(("json", e)) if isHttp =>
        // http payload is already on the driver — collect() of the
        // parallelized local relation preserves element order (an
        // aggregate with collect_list would not: its merge order is
        // shuffle-fetch order) and runs no shuffle
        val body = lines.select("value").collect().map(_.getString(0))
          .mkString("\n")
        val ds = spark.createDataset(Seq(body))(org.apache.spark.sql.Encoders.STRING)
        spark.read.json(ds)
      case Some(("json", e)) =>
        // array-of-objects and single-object forms need multiLine
        json(spark, sourcePath, multiLine = e.bool("multiLine", dflt = true))
      case Some(("jsonl", _)) => json(spark, sourcePath)
      case Some(("csv", e)) => csv(spark, sourcePath, e)
      case Some(("fixedwidth", e)) => fixedWidth(lines, e)
      case Some(("jdbc", e)) => jdbc(spark, e)
      // fixture paths reuse the session's cached raw plan (r19: file
      // listing + footer read were ~100 ms of driver latency per query);
      // any other path builds fresh — Tables.rawByPath only ever holds
      // the immutable sf fixture files, so staleness is impossible
      case Some(("parquet", _)) =>
        Tables.rawByPath(spark, sourcePath)
          .getOrElse(spark.read.parquet(sourcePath))
      case Some(("orc", _)) => spark.read.orc(sourcePath)
      case Some(("warc", e)) => Warc.read(spark, sourcePath, e)
      case Some(("zip", e)) => Zip.read(spark, sourcePath, e)
      case Some(("tar", e)) => Tar.read(spark, sourcePath, e)
      case Some(("mbox", e)) => Mbox.read(spark, sourcePath, e)
      case Some(("eml", e)) => Mbox.readEml(spark, sourcePath, e)
      case Some(("xml", e)) => Xml.read(spark, sourcePath, e)
      case Some(("avro", e)) => Avro.read(spark, sourcePath, e)
      case Some((other, _)) => sys.error(s"unknown extractor $other")
    }
  }

  /** Plan-time read of the first line of a path (the first file a
    * read sees, [[Container.firstFile]]) — used for CSV header learning
    * at plan time, replacing a full-scan `orderBy.head` job. Hadoop
    * codecs decompress by extension, as the text read does. */
  def firstLine(spark: SparkSession, path: String): Option[String] =
    try Container.firstFile(spark, path) { (f, raw) =>
      val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(
        spark.sparkContext.hadoopConfiguration).getCodec(f)
      val in = if (codec != null) codec.createInputStream(raw) else raw
      val br = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      try Option(br.readLine()) finally br.close()
    }.flatten
    catch { case _: Exception => None }
}
