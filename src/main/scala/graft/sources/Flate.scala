package graft.sources

/** The one deflate/gzip path of the in-house codecs: zip members (raw
  * deflate), PDF FlateDecode streams and PNG zTXt/iTXt text (zlib), and
  * the gzipped warc, tar, mbox, eml and xml inputs. Every failure goes
  * through the caller's `fail`, so the message names the codec and the
  * file; no output buffer is sized from a length the input declares.
  */
object Flate {

  /** Output buffer: grows from at most 1 MiB, never from a declared or
    * multiplied length. */
  private def sink(inputLen: Int) =
    new java.io.ByteArrayOutputStream(math.max(64, math.min(inputLen, 1 << 20)))

  /** Inflate a zlib (RFC 1950) stream, or a raw deflate (RFC 1951) one
    * when `raw`. Every stall mode fails by name: a preset dictionary
    * (FDICT), truncated input, or no progress with input left — a bare
    * `needsInput` check would spin forever on an FDICT stream. */
  def inflate(data: Array[Byte], fail: String => Nothing,
              raw: Boolean = false): Array[Byte] = {
    val inf = new java.util.zip.Inflater(raw)
    val out = sink(data.length)
    val buf = new Array[Byte](16 * 1024)
    try {
      inf.setInput(data)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        // n == 0 with finished() is normal completion (an empty stream)
        if (n == 0 && !inf.finished()) {
          if (inf.needsDictionary())
            fail("deflate stream declares a preset dictionary (FDICT), not in the subset")
          if (inf.needsInput()) fail("truncated deflate stream")
          fail("stalled deflate stream")
        }
        out.write(buf, 0, n)
      }
    } catch {
      case e: java.util.zip.DataFormatException =>
        fail(s"corrupt deflate stream: ${e.getMessage}")
    } finally inf.end()
    out.toByteArray
  }

  /** zlib-deflate `raw` at the default level. */
  def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    val out = sink(raw.length)
    val buf = new Array[Byte](16 * 1024)
    try {
      d.setInput(raw); d.finish()
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    } finally d.end()
    out.toByteArray
  }

  /** Gunzip `b` (concatenated members too) when it starts with the
    * `1f 8b` magic — never chosen by a file name — else return it as is. */
  def gunzipIfGzip(b: Array[Byte], fail: String => Nothing): Array[Byte] =
    if (b.length <= 2 || (b(0) & 0xff) != 0x1f || (b(1) & 0xff) != 0x8b) b
    else {
      val out = sink(b.length)
      val buf = new Array[Byte](64 * 1024)
      var in: java.util.zip.GZIPInputStream = null
      try {
        // the constructor reads the header: a bad method byte after the
        // magic must surface as the named failure too
        in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b), 64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      } catch {
        case _: java.io.EOFException => fail("corrupt gzip stream: truncated")
        case ex: java.io.IOException => fail(s"corrupt gzip stream: ${ex.getMessage}")
      } finally if (in != null) in.close()
      out.toByteArray
    }
}
