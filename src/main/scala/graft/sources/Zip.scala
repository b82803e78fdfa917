package graft.sources

import graft.spec.ComponentSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** ZIP container extractor — real dumps and document corpora ship
  * zipped (docx/epub/jar are ZIP families), and the reference has no
  * archive surface at all (its `file` source is line-oriented,
  * OETLFileSource.java). One row per archive MEMBER: `{"source":
  * {"file": {"path": "<dir-of-zips>"}}, "extractor": {"zip": {}}}`.
  *
  * Format (public: PKWARE APPNOTE.TXT / ISO 21320-1): the walk starts
  * at the End Of Central Directory record (`PK\x05\x06`, scanned
  * backwards through the ≤64 KiB trailing comment), reads the central
  * directory offset/count, then walks the central entries
  * (`PK\x01\x02`) — the AUTHORITATIVE member list — and slices each
  * member's data after its local header (`PK\x03\x04`, whose name/extra
  * lengths may legitimately differ from the central copy, so both are
  * read). Methods: 0 (stored) and 8 (raw deflate through [[Flate]]);
  * anything else, encryption (general-purpose bit 0), and ZIP64
  * markers fail LOUD by name. Every member's CRC-32 is verified — a
  * corrupt archive must surface, not silently truncate a corpus.
  *
  * Parallelism model: one task per archive FILE (`binaryFile` source,
  * Spark packs small files by openCost) — the central directory is not
  * splittable, and per-member work parallelizes across archives exactly
  * like [[Warc]]'s record walk. Directory entries (names ending `/`)
  * are skipped.
  */
object Zip {

  /** Loader: export `(name, body)` rows as ZIP shards — the export
    * twin of [[Tar.write]] (one rolling shard sequence per partition,
    * executor-side, shard closes past `maxShardBytes` UNCOMPRESSED
    * payload; append runs get a run-unique filename tag so
    * deterministic names never truncate an earlier run's shards).
    * Members are deflated via `java.util.zip.ZipOutputStream` — an
    * INDEPENDENT writer from this file's own central-directory walk,
    * so loader→extractor roundtrips cross-check two implementations.
    * Options: `path` (required), `nameField` (default `member`),
    * `bodyField` (default `body`; strings write as UTF-8),
    * `maxShardBytes` (default 1 GiB), `mode` overwrite (default) |
    * append. */
  def write(df: DataFrame, path: String, spec: ComponentSpec): Unit = {
    val nameF = spec.strOr("nameField", "member")
    val bodyF = spec.strOr("bodyField", "body")
    Seq(nameF, bodyF).foreach(c => require(df.columns.contains(c),
      s"zip loader: no column '$c'"))
    def body(r: Row) = if (r.isNullAt(1)) Array.emptyByteArray else r.getAs[Array[Byte]](1)
    Container.writeShards("zip", df.select(col(nameF).cast("string"), col(bodyF).cast("binary")),
      path, spec, new Container.ShardFormat(".zip") {
        def open(file: java.io.OutputStream): Container.Shard = new Container.Shard {
          private val zos = new java.util.zip.ZipOutputStream(
            new java.io.BufferedOutputStream(file, 64 * 1024))
          def add(r: Row): Unit = {
            if (r.isNullAt(0)) sys.error(s"zip loader: null $nameF")
            zos.putNextEntry(new java.util.zip.ZipEntry(r.getString(0)))
            zos.write(body(r))
            zos.closeEntry()
          }
          def close(): Unit = zos.close()
        }
        // + headers and the member's central-directory share
        override def cost(r: Row): Long = body(r).length + 128L
        override def reserve: Long = 384L // the end-of-central-directory record and slack
      }, rolling = true)
  }

  /** One archive member. `size`/`compressed` come from the central
    * directory; `body` is the decompressed bytes (CRC-verified). */
  final case class ZipRow(
      zip_file: String,
      member: String,
      size: Long,
      compressed: Long,
      method: String,
      crc32: Long,
      body: Array[Byte])

  /** APPNOTE D.1 name encoding when the UTF-8 flag is unset; latin-1
    * fallback on minimal JREs without the IBM437 charset. */
  private lazy val Cp437: java.nio.charset.Charset =
    try java.nio.charset.Charset.forName("IBM437")
    catch { case _: Exception => java.nio.charset.StandardCharsets.ISO_8859_1 }

  private def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], i: Int): Long =
    (u16(b, i).toLong) | (u16(b, i + 2).toLong << 16)

  /** Walk every member of one archive. */
  def parseFile(path: String, b: Array[Byte], verifyCrc: Boolean): Iterator[ZipRow] = {
    def fail(msg: String): Nothing = sys.error(s"zip: $msg in $path")
    // EOCD: PK\x05\x06 + 18 fixed bytes + comment — scan back ≤ 64 KiB
    val minEocd = 22
    if (b.length < minEocd) fail("file shorter than an EOCD record")
    var e = b.length - minEocd
    val stop = math.max(0, b.length - minEocd - 0xFFFF)
    while (e >= stop && !(b(e) == 'P' && b(e + 1) == 'K' && b(e + 2) == 5 && b(e + 3) == 6))
      e -= 1
    if (e < stop) fail("no end-of-central-directory record")
    val nEntries = u16(b, e + 10)
    val cdSize = u32(b, e + 12)
    val cdOff = u32(b, e + 16)
    if (nEntries == 0xFFFF || cdOff == 0xFFFFFFFFL || cdSize == 0xFFFFFFFFL)
      fail("ZIP64 archive (not in the subset — re-shard below 4 GiB / 65535 members)")
    if (u16(b, e + 4) != u16(b, e + 6))
      fail("multi-disk archive (not in the subset)")
    if (cdOff + cdSize > b.length) fail("central directory overruns the file")

    val rows = Vector.newBuilder[ZipRow]
    var p = cdOff.toInt
    var k = 0
    while (k < nEntries) {
      if (!(p + 46 <= b.length && b(p) == 'P' && b(p + 1) == 'K' && b(p + 2) == 1 && b(p + 3) == 2))
        fail(s"bad central-directory entry $k at byte $p")
      val flags = u16(b, p + 8)
      val method = u16(b, p + 10)
      val crc = u32(b, p + 16)
      val csize = u32(b, p + 20)
      val usize = u32(b, p + 24)
      val nameLen = u16(b, p + 28)
      val extraLen = u16(b, p + 30)
      val commentLen = u16(b, p + 32)
      val localOff = u32(b, p + 42)
      if (csize == 0xFFFFFFFFL || usize == 0xFFFFFFFFL || localOff == 0xFFFFFFFFL)
        fail(s"ZIP64 member sizes at entry $k (not in the subset)")
      val name = new String(b, p + 46, nameLen,
        if ((flags & 0x800) != 0) java.nio.charset.StandardCharsets.UTF_8
        else Cp437) // APPNOTE D.1: non-UTF8 names are IBM code page 437
      if ((flags & 0x1) != 0) fail(s"encrypted member '$name' (subset does not decrypt)")
      p += 46 + nameLen + extraLen + commentLen
      k += 1
      if (!name.endsWith("/")) {
        // local header: its OWN name/extra lengths govern the data start
        val lp = localOff.toInt
        if (!(lp + 30 <= b.length && b(lp) == 'P' && b(lp + 1) == 'K' && b(lp + 2) == 3 && b(lp + 3) == 4))
          fail(s"bad local header for '$name' at byte $lp")
        val dataStart = lp + 30 + u16(b, lp + 26) + u16(b, lp + 28)
        if (dataStart + csize > b.length)
          fail(s"member '$name' data overruns the file")
        val comp = java.util.Arrays.copyOfRange(b, dataStart, dataStart + csize.toInt)
        val body = method match {
          case 0 =>
            if (csize != usize) fail(s"stored member '$name' with csize != usize")
            comp
          case 8 => Flate.inflate(comp, m => fail(s"$m in member '$name'"), raw = true)
          case other =>
            fail(s"member '$name' uses compression method $other " +
              "(subset: 0 stored, 8 deflate)")
        }
        if (body.length != usize)
          fail(s"member '$name' inflated to ${body.length} bytes, central directory says $usize")
        if (verifyCrc) {
          val c = new java.util.zip.CRC32()
          c.update(body)
          if (c.getValue != crc)
            fail(f"member '$name' CRC mismatch (got ${c.getValue}%08x, header ${crc}%08x)")
        }
        rows += ZipRow(path, name, usize, csize,
          if (method == 0) "stored" else "deflate", crc, body)
      }
    }
    rows.result().iterator
  }

  /** Extractor entry: a DataFrame of archive members from a path (file,
    * directory, or glob). Options: `glob` (pathGlobFilter), `verifyCrc`
    * (default true), `memberGlob` — keep only member names matching the
    * glob (e.g. `*.txt`; filters AFTER parsing, the central walk is one
    * pass regardless). */
  def read(spark: SparkSession, path: String, spec: ComponentSpec): DataFrame = {
    val verifyCrc = spec.bool("verifyCrc", dflt = true)
    import spark.implicits._
    val files = Container.files(spark, path, spec.strOr("glob", "*"))
    val df = files.flatMap { case (p, c) => parseFile(p, c, verifyCrc) }.toDF()
    spec.str("memberGlob") match {
      case Some(g) => df.where(col("member").rlike(Sources.memberGlobRegex(g)))
      case None => df
    }
  }
}
