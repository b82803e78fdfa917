package graft.sources

import graft.spec.ComponentSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** TAR container extractor — dataset dumps and doc corpora ship as
  * `.tar` / `.tar.gz` at least as often as ZIP, and the reference has
  * no archive surface at all (its `file` source is line-oriented,
  * OETLFileSource.java). One row per archive MEMBER: `{"source":
  * {"file": {"path": "<dir-of-tars>"}}, "extractor": {"tar": {}}}`.
  *
  * Format (public: POSIX.1-1988 ustar + the PAX/GNU extensions from
  * POSIX.1-2001 and the GNU tar manual): a sequence of 512-byte header
  * blocks, each followed by the member's data rounded up to 512-byte
  * blocks, terminated by two zero blocks (or EOF — both accepted, GNU
  * tolerates either). Per header: name(100) … size(12, octal)
  * mtime(12) chksum(8) typeflag(1) … magic(6) … prefix(155). The
  * header CHECKSUM is verified on every block (sum of header bytes
  * with the chksum field read as spaces) — a corrupt or misaligned
  * archive must surface, not silently truncate a corpus.
  *
  * Long names arrive via the GNU 'L' pseudo-entry (data = the real
  * name) or a PAX 'x' extended header (`len key=value\n` records;
  * `path` and `size` are honored, others ignored); 'g' globals are
  * consumed without effect on the subset. Regular files ('0'/NUL,
  * plus '7' contiguous — reserved-as-regular per POSIX) become rows;
  * directories, links, FIFOs and devices are skipped. Base-256
  * (GNU >8 GiB) sizes fail LOUD by name — re-shard such members.
  *
  * Gzipped archives (`.tar.gz`/`.tgz`, detected by the 1f 8b magic —
  * never by extension) are inflated in-memory per file first; tar has
  * no internal index, so whole-file gunzip is the honest unit of work.
  *
  * Parallelism model: one task per archive FILE (`binaryFile` source,
  * Spark packs small files by openCost) — tar is not splittable
  * without an index, and per-member work parallelizes across archives
  * exactly like [[Zip]]/[[Warc]].
  */
object Tar {

  /** One archive member: `size`/`mtime` from the (PAX-overridden)
    * header, `body` the exact `size` bytes. */
  final case class TarRow(
      tar_file: String,
      member: String,
      size: Long,
      mtime: Long,
      body: Array[Byte])

  /** Octal numeric field: ASCII octal digits, space/NUL padded either
    * side (pre-POSIX writers space-pad). High-bit-set first byte is
    * GNU base-256 — out of subset, loud. Empty fields read as 0. */
  private def octal(b: Array[Byte], off: Int, len: Int,
                    what: String, fail: String => Nothing): Long = {
    if ((b(off) & 0x80) != 0)
      fail(s"GNU base-256 $what field (member over 8 GiB — out of the " +
        "subset; re-shard the archive)")
    var i = off
    val end = off + len
    while (i < end && (b(i) == ' ' || b(i) == 0)) i += 1
    var v = 0L
    var seen = false
    while (i < end && b(i) >= '0' && b(i) <= '7') {
      v = (v << 3) | (b(i) - '0'); i += 1; seen = true
    }
    while (i < end && (b(i) == ' ' || b(i) == 0)) i += 1
    if (i < end || (!seen && b(off) != 0))
      fail(s"malformed octal $what field")
    v
  }

  private def cString(b: Array[Byte], off: Int, len: Int): String = {
    var n = 0
    while (n < len && b(off + n) != 0) n += 1
    new String(b, off, n, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** PAX extended header body: repeated `<decimal len> <key>=<value>\n`
    * records, where len counts the WHOLE record including itself. */
  private def paxRecords(data: Array[Byte], fail: String => Nothing): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var p = 0
    while (p < data.length) {
      var q = p
      while (q < data.length && data(q) != ' ') q += 1
      if (q >= data.length) fail("malformed PAX record (no length delimiter)")
      val len = new String(data, p, q - p, java.nio.charset.StandardCharsets.US_ASCII).toInt
      if (len <= 0 || p + len > data.length || data(p + len - 1) != '\n')
        fail("malformed PAX record (bad length)")
      val kv = new String(data, q + 1, p + len - 1 - (q + 1),
        java.nio.charset.StandardCharsets.UTF_8)
      val eq = kv.indexOf('=')
      if (eq < 0) fail("malformed PAX record (no '=')")
      out += kv.substring(0, eq) -> kv.substring(eq + 1)
      p += len
    }
    out.result()
  }

  /** Walk every member of one archive (gunzipping first if gzipped). */
  def parseFile(path: String, raw: Array[Byte], verifyChecksum: Boolean): Iterator[TarRow] = {
    def fail(msg: String): Nothing = sys.error(s"tar: $msg in $path")
    val b = Flate.gunzipIfGzip(raw, fail)
    if (b.length % 512 != 0)
      fail(s"archive length ${b.length} is not a multiple of 512")
    val rows = Vector.newBuilder[TarRow]
    var p = 0
    var gnuLongName: Option[String] = None
    var pax: Map[String, String] = Map.empty
    var entry = 0
    while (p + 512 <= b.length) {
      // end marker: a zero block (POSIX wants two; EOF after one is
      // accepted, as GNU tar does)
      var allZero = true
      var z = 0
      while (allZero && z < 512) { if (b(p + z) != 0) allZero = false; z += 1 }
      if (allZero) {
        p = b.length // done
      } else {
        if (verifyChecksum) {
          var sum = 0L
          var i = 0
          while (i < 512) {
            sum += (if (i >= 148 && i < 156) ' '.toLong else (b(p + i) & 0xff).toLong)
            i += 1
          }
          val stored = octal(b, p + 148, 8, "chksum", fail)
          if (sum != stored)
            fail(s"header checksum mismatch at entry $entry (got $sum, header $stored)")
        }
        val size0 = octal(b, p + 124, 12, "size", fail)
        val mtime = octal(b, p + 136, 12, "mtime", fail)
        val typeflag = b(p + 156).toChar
        val magic = cString(b, p + 257, 6)
        val nameRaw = {
          // ustar prefix field reassembles long paths: prefix "/" name
          val prefix = if (magic == "ustar") cString(b, p + 345, 155) else ""
          val n = cString(b, p, 100)
          if (prefix.nonEmpty) prefix + "/" + n else n
        }
        val dataStart = p + 512
        // PAX size overrides apply ONLY to the next REGULAR file
        // (POSIX.1-2001): a metadata entry ('L'/'g'/a second 'x')
        // between the 'x' header and the file advances by its OWN
        // header size, or the walk desyncs onto a data block
        val isRegular = typeflag == '0' || typeflag == '\u0000' || typeflag == '7'
        val size = if (isRegular) pax.get("size").map(_.toLong).getOrElse(size0)
                   else size0
        val blocks = ((size + 511) / 512).toInt
        if (dataStart + size > b.length)
          fail(s"member '$nameRaw' data overruns the archive")
        typeflag match {
          case 'L' => // GNU long name: data is the real name (NUL-ended)
            val d = java.util.Arrays.copyOfRange(b, dataStart, dataStart + size.toInt)
            gnuLongName = Some(cString(d, 0, d.length))
          case 'x' => // PAX per-file records override the NEXT entry
            pax = paxRecords(
              java.util.Arrays.copyOfRange(b, dataStart, dataStart + size.toInt), fail)
          case 'g' => // PAX globals: consumed, no effect on the subset
            ()
          case '0' | '\u0000' | '7' => // regular (7 = reserved contiguous)
            val name = pax.get("path").orElse(gnuLongName).getOrElse(nameRaw)
            val body = java.util.Arrays.copyOfRange(b, dataStart, dataStart + size.toInt)
            rows += TarRow(path, name,
              size, pax.get("mtime").map(_.toDouble.toLong).getOrElse(mtime), body)
            gnuLongName = None; pax = Map.empty
          case '5' | '1' | '2' | '3' | '4' | '6' | 'K' =>
            // dirs, hard/symlinks, devices, FIFOs, GNU long LINK names:
            // no corpus payload — skipped (their data blocks consumed)
            gnuLongName = None; pax = Map.empty
          case other =>
            fail(s"unsupported typeflag '$other' at entry $entry ('$nameRaw')")
        }
        p = dataStart + blocks * 512
        entry += 1
      }
    }
    rows.result().iterator
  }

  // ------------------------------------------------------------ builder
  // Minimal ustar WRITER (fixtures and specs only): regular members —
  // with a PAX 'x' long-name record when a name overflows the 100-byte
  // field — plus directory entries and the two-zero-block terminator.
  // The parser above must round-trip its output byte-exactly, and the
  // output is plain POSIX ustar/pax, so a system GNU/BSD tar reads it
  // too (spec-cross-checked when a system tar exists).

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  private[graft] def header(nameBytes: Array[Byte], size: Long, mtime: Long,
                            typeflag: Char): Array[Byte] = {
    val h = new Array[Byte](512)
    System.arraycopy(nameBytes, 0, h, 0, math.min(100, nameBytes.length))
    def oct(v: Long, off: Int, len: Int): Unit = {
      val s = java.lang.Long.toOctalString(v)
      val pad = ("0" * (len - 1 - s.length)) + s
      System.arraycopy(pad.getBytes(Utf8), 0, h, off, len - 1) // + NUL
    }
    oct(420, 100, 8) // mode 0644
    oct(0, 108, 8); oct(0, 116, 8) // uid, gid
    oct(size, 124, 12)
    oct(mtime, 136, 12)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum as spaces
    h(156) = typeflag.toByte
    System.arraycopy("ustar".getBytes(Utf8), 0, h, 257, 5) // NUL at 262
    h(263) = '0'; h(264) = '0' // version "00"
    var sum = 0L; var i = 0
    while (i < 512) { sum += (h(i) & 0xff); i += 1 }
    val cs = java.lang.Long.toOctalString(sum)
    System.arraycopy((("0" * (6 - cs.length)) + cs).getBytes(Utf8), 0, h, 148, 6)
    h(154) = 0; h(155) = ' ' // POSIX chksum termination: NUL + space
    h
  }

  /** Stream one regular member to `out` (a PAX 'x' long-name record is
    * emitted automatically past 100 name bytes); returns bytes
    * written. Shared by [[archive]] and the shard-rolling loader
    * [[write]]. */
  private[graft] def writeMember(out: java.io.OutputStream, name: String,
      mtime: Long, body: Array[Byte]): Long = {
    require(mtime >= 0,
      s"tar: negative mtime $mtime for '$name' is outside the ustar octal subset")
    var written = 0L
    def pad(n: Long): Unit = {
      val r = ((512 - (n % 512)) % 512).toInt
      if (r > 0) { out.write(new Array[Byte](r), 0, r); written += r }
    }
    val nb = name.getBytes(Utf8)
    if (nb.length > 100) {
      val rec = paxPathRecord(name)
      out.write(header(("PaxHeaders/" + new String(nb, 0, math.min(80, nb.length), Utf8))
        .getBytes(Utf8), rec.length.toLong, mtime, 'x'))
      written += 512
      out.write(rec); written += rec.length; pad(rec.length.toLong)
    }
    out.write(header(nb, body.length.toLong, mtime, '0')); written += 512
    out.write(body); written += body.length; pad(body.length.toLong)
    written
  }

  /** PAX long-name record: "<len> path=<name>\n" where len counts the
    * WHOLE record including its own decimal digits — fixed point on
    * the digit width. */
  private def paxPathRecord(name: String): Array[Byte] = {
    val base = (" path=" + name + "\n").getBytes(Utf8).length
    var len = base + 1
    while (len.toString.length + base != len) len = len.toString.length + base
    (s"$len path=$name\n").getBytes(Utf8)
  }

  /** Exact on-disk byte count [[writeMember]] will emit for a member —
    * the shard-roll check must budget the PAX long-name record too, or
    * long-named members overshoot `maxShardBytes`. */
  private[graft] def memberBytes(name: String, bodyLen: Long): Long = {
    val pax = if (name.getBytes(Utf8).length > 100) {
      val rec = paxPathRecord(name).length.toLong
      512L + ((rec + 511) / 512) * 512
    } else 0L
    pax + 512L + ((bodyLen + 511) / 512) * 512
  }

  /** Build a ustar archive of `(name, mtime, body)` members (PAX
    * long-name records emitted automatically past 100 name bytes) and
    * optional directory entries, ended by two zero blocks. */
  def archive(members: Seq[(String, Long, Array[Byte])],
              dirs: Seq[String] = Nil): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64 * 1024)
    dirs.foreach { d0 =>
      val d = if (d0.endsWith("/")) d0 else d0 + "/"
      out.write(header(d.getBytes(Utf8), 0, 0, '5'))
    }
    members.foreach { case (name, mtime, body) =>
      writeMember(out, name, mtime, body); ()
    }
    out.write(new Array[Byte](1024)) // two terminator blocks
    out.toByteArray
  }

  /** Loader: export `(name, body[, mtime])` rows as ustar shards — the
    * WebDataset convention (training corpora ship as tar shards whose
    * members pair by basename: `<id>.jpg` + `<id>.txt` + …). One
    * rolling shard sequence per PARTITION, written executor-side (the
    * Avro loader shape — no driver collect); a shard closes and the
    * next opens when the UNCOMPRESSED payload passes `maxShardBytes`
    * (default 1 GiB — the WebDataset-recommended order), so shards
    * stay individually whole, system-tar-readable archives.
    *
    * Options: `path` (required), `nameField` (default `member`),
    * `bodyField` (default `body`; binary or string — strings write as
    * UTF-8), `mtimeField` (optional; default 0 — deterministic output
    * byte-for-byte), `gzip` (default false), `maxShardBytes`,
    * `mode` overwrite (default) | append. Append runs get a
    * run-unique filename tag — shard names are deterministic per
    * partition otherwise, and a second run would silently truncate
    * the first run's shards of the same name. */
  def write(df: DataFrame, path: String, spec: ComponentSpec): Unit = {
    import org.apache.spark.sql.functions.lit
    val nameF = spec.strOr("nameField", "member")
    val bodyF = spec.strOr("bodyField", "body")
    Seq(nameF, bodyF).foreach(c => require(df.columns.contains(c),
      s"tar loader: no column '$c'"))
    val mtimeSel = spec.str("mtimeField") match {
      case Some(m) =>
        require(df.columns.contains(m), s"tar loader: no column '$m'")
        col(m).cast("long")
      case None => lit(0L)
    }
    val gzip = spec.bool("gzip", dflt = false)
    def body(r: Row) = if (r.isNullAt(1)) Array.emptyByteArray else r.getAs[Array[Byte]](1)
    Container.writeShards("tar",
      df.select(col(nameF).cast("string"), col(bodyF).cast("binary"), mtimeSel),
      path, spec, new Container.ShardFormat(if (gzip) ".tar.gz" else ".tar") {
        def open(file: java.io.OutputStream): Container.Shard = new Container.Shard {
          private val out =
            if (gzip) new java.util.zip.GZIPOutputStream(file, 64 * 1024)
            else new java.io.BufferedOutputStream(file, 64 * 1024)
          def add(r: Row): Unit = {
            if (r.isNullAt(0)) sys.error(s"tar loader: null $nameF")
            writeMember(out, r.getString(0), if (r.isNullAt(2)) 0L else r.getLong(2), body(r))
          }
          def close(): Unit = {
            out.write(new Array[Byte](1024)) // two terminator blocks
            out.close()
          }
        }
        override def cost(r: Row): Long =
          memberBytes(if (r.isNullAt(0)) "" else r.getString(0), body(r).length.toLong)
        override def reserve: Long = 1024L
      }, rolling = true)
  }

  /** Gzip an archive (the `.tar.gz` form — the reader detects the 1f 8b
    * magic, never the extension). */
  def gzipBytes(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  /** Extractor entry: a DataFrame of archive members from a path (file,
    * directory, or glob). Options: `glob` (pathGlobFilter),
    * `verifyChecksum` (default true), `memberGlob` — keep only member
    * names matching the glob (filters AFTER parsing; the block walk is
    * one pass regardless). Gzip is detected per file by magic. */
  def read(spark: SparkSession, path: String, spec: ComponentSpec): DataFrame = {
    val verify = spec.bool("verifyChecksum", dflt = true)
    import spark.implicits._
    val files = Container.files(spark, path, spec.strOr("glob", "*"))
    val df = files.flatMap { case (p, c) => parseFile(p, c, verify) }.toDF()
    spec.str("memberGlob") match {
      case Some(g) => df.where(col("member").rlike(Sources.memberGlobRegex(g)))
      case None => df
    }
  }
}
