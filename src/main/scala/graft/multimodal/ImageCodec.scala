package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/** Real image codec on the JDK's `javax.imageio` — PNG/JPEG/BMP/GIF
  * decode (dimensions, channel count, GIF frame count) and pixel
  * resample, with zero external dependencies. This is the production
  * body behind the `mm_decode`/`mm_resize` `mapPartitions` seam; the
  * deterministic [[MultimodalStages.StubDecoder]] remains only for
  * media ImageIO cannot read (video/audio containers).
  *
  * Executor-side notes: `ImageIO` instance methods are obtained fresh
  * per call (reader/writer instances are NOT thread-safe; the static
  * lookups are), and the disk-backed stream cache is disabled once per
  * JVM — a 100 TB decode must not funnel through temp-file creation.
  */
object ImageCodec {

  // one-time per JVM (executor or driver): keep image streams on-heap
  ImageIO.setUseCache(false)

  /** Decode payload metadata: real width/height/channels and — for
    * multi-frame formats (GIF) — the real frame count. Throws a typed
    * error naming the row for an undecodable payload (callers choose
    * the skip/stub policy). */
  def decode(id: Long, payload: Array[Byte]): MultimodalStages.MediaMeta = {
    if (payload == null || payload.isEmpty)
      fail(id, "empty payload")
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
    try {
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext) fail(id, "no ImageIO reader for payload " +
        "(supported: png/jpeg/bmp/gif; route video/audio to decoder: \"stub\")")
      val reader = readers.next()
      reader.setInput(iis, false, false)
      try {
        val nFrames = reader.getNumImages(true) // forces a full scan: exact
        // channel count from the reader's image-type METADATA — a full
        // reader.read(0) pixel decode just for getNumComponents would
        // dominate a metadata pass over a 100 TB corpus
        val types = reader.getImageTypes(0)
        val cm = if (types.hasNext) types.next().getColorModel
                 else reader.read(0).getColorModel // defensive fallback
        MultimodalStages.MediaMeta(
          media_id = id,
          byte_len = payload.length.toLong,
          width = reader.getWidth(0),
          height = reader.getHeight(0),
          channels = cm.getNumComponents,
          n_frames = nFrames)
      } finally reader.dispose()
    } catch {
      case e: javax.imageio.IIOException => fail(id, e.getMessage)
    } finally iis.close()
  }

  /** Resampled payload plus its output dimensions — computed during the
    * resample itself, so callers never pay a second pixel decode of the
    * just-encoded bytes only to learn dimensions they already imply. */
  final case class Resampled(payload: Array[Byte], width: Int, height: Int)

  /** Test seam: counts full pixel decodes (`ImageIO.read`) performed by
    * [[resample]]. Local-mode specs assert exactly one decode per row,
    * guarding against reintroducing the output re-decode this replaced. */
  private[graft] val pixelDecodes = new java.util.concurrent.atomic.AtomicLong(0)

  /** Resample the (first frame of the) payload to fit a `maxW`×`maxH`
    * bounding box preserving aspect ratio (scale capped at 1 — never
    * upscale), re-encoded as PNG. Returns the new payload with its
    * dimensions `floor(w*s)`×`floor(h*s)`, `s = min(maxW/w, maxH/h,
    * 1)` — the arithmetic an oracle can recompute without decoding. */
  def resample(id: Long, payload: Array[Byte], maxW: Int, maxH: Int): Resampled = {
    if (payload == null || payload.isEmpty) fail(id, "empty payload")
    pixelDecodes.incrementAndGet()
    val src =
      try ImageIO.read(new ByteArrayInputStream(payload))
      catch { case e: javax.imageio.IIOException => fail(id, e.getMessage) }
    if (src == null) fail(id, "no ImageIO reader for payload")
    val s = math.min(math.min(maxW.toDouble / src.getWidth,
      maxH.toDouble / src.getHeight), 1.0)
    val ow = math.max(1, math.floor(src.getWidth * s).toInt)
    val oh = math.max(1, math.floor(src.getHeight * s).toInt)
    // preserve the channel structure (a grayscale corpus must not
    // silently triple its training bytes); palette types flatten to RGB
    val outType = src.getType match {
      case BufferedImage.TYPE_BYTE_GRAY | BufferedImage.TYPE_USHORT_GRAY => src.getType
      case BufferedImage.TYPE_INT_ARGB | BufferedImage.TYPE_4BYTE_ABGR => BufferedImage.TYPE_INT_ARGB
      case _ => BufferedImage.TYPE_INT_RGB
    }
    val dst = new BufferedImage(ow, oh, outType)
    val g = dst.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(src, 0, 0, ow, oh, null)
    } finally g.dispose()
    Resampled(encode(dst, "png"), ow, oh)
  }

  /** Full pixel decode of a self-contained image payload →
    * (width, height, mean Rec.601 luminance in [0, 255]). The body
    * behind `mm_frame_decode`'s per-frame decode: a wrong byte slice
    * upstream either fails to decode or yields the wrong stats. */
  def pixelStats(id: Long, payload: Array[Byte]): (Int, Int, Double) = {
    if (payload == null || payload.isEmpty) fail(id, "empty payload")
    val img =
      try ImageIO.read(new ByteArrayInputStream(payload))
      catch { case e: javax.imageio.IIOException => fail(id, e.getMessage) }
    if (img == null) fail(id, "no ImageIO reader for payload")
    val w = img.getWidth; val h = img.getHeight
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sum += 299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF) +
          114L * (rgb & 0xFF)
        x += 1
      }
      y += 1
    }
    (w, h, sum.toDouble / (1000.0 * w * h))
  }

  /** Encode one frame as `fmt` (png/jpeg/bmp/gif). */
  def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    if (!ImageIO.write(img, fmt, bos))
      sys.error(s"ImageCodec: no ImageIO writer for format '$fmt'")
    bos.toByteArray
  }

  /** Encode an animated multi-frame GIF (used by the fixture generator
    * and available to pipelines packing frame sequences). */
  def encodeGif(frames: Seq[BufferedImage]): Array[Byte] = {
    require(frames.nonEmpty, "ImageCodec.encodeGif: no frames")
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { f =>
        writer.writeToSequence(new IIOImage(f, null, null),
          writer.getDefaultWriteParam.asInstanceOf[ImageWriteParam])
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** 64-bit average-hash (aHash — the entry member of the public
    * pHash family of perceptual fingerprints) of the payload's first
    * frame: full pixel decode → 8×8 area-average luminance grid → bit
    * `c` set iff cell `c` is brighter than the whole-image mean.
    * Integer arithmetic end-to-end — Rec.601 luminance ×1000 and
    * cross-multiplied mean comparisons, no float thresholds — so the
    * hash is bit-identical across JVMs for lossless inputs. Long
    * arithmetic holds to ~4k×4k images (lum ≤ 255e3 · px; the cross
    * product stays under 2^63); a larger corpus should `mm_resize`
    * first, which a real pipeline does anyway. */
  def averageHash(id: Long, payload: Array[Byte]): Long = {
    if (payload == null || payload.isEmpty) fail(id, "empty payload")
    val img =
      try ImageIO.read(new ByteArrayInputStream(payload))
      catch { case e: javax.imageio.IIOException => fail(id, e.getMessage) }
    if (img == null) fail(id, "no ImageIO reader for payload")
    val w = img.getWidth; val h = img.getHeight
    val cellSum = new Array[Long](64)
    val cellCnt = new Array[Long](64)
    var y = 0
    while (y < h) {
      val cy = math.min(y * 8 / h, 7)
      var x = 0
      while (x < w) {
        val cx = math.min(x * 8 / w, 7)
        val rgb = img.getRGB(x, y)
        val lum = 299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF) +
          114L * (rgb & 0xFF)
        val c = cy * 8 + cx
        cellSum(c) += lum
        cellCnt(c) += 1
        x += 1
      }
      y += 1
    }
    val total = cellSum.sum
    val totalCnt = w.toLong * h
    var hash = 0L
    var c = 0
    while (c < 64) {
      // cellAvg > globalAvg without division: sum_c/cnt_c > total/totalCnt
      if (cellCnt(c) > 0 && cellSum(c) * totalCnt > total * cellCnt(c))
        hash |= 1L << c
      c += 1
    }
    hash
  }

  private def fail(id: Long, why: String): Nothing =
    sys.error(s"mm_decode: media_id=$id: $why")

  // ---- PNG textual metadata (tEXt / zTXt / iTXt chunks) ----
  // Chunk grammar is the public PNG spec (ISO 15948 §11.3.4): length(4BE)
  // + type(4) + data + crc32(4); textual chunks carry key\0… payloads.

  private val PngSig: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  def isPng(b: Array[Byte]): Boolean =
    b.length > 8 && PngSig.indices.forall(i => b(i) == PngSig(i))

  private def beInt(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

  /** All textual key→value entries of a PNG, in chunk order. */
  def pngText(id: Long, bytes: Array[Byte]): Seq[(String, String)] = {
    if (!isPng(bytes))
      fail(id, "not a PNG — textual metadata chunks are a PNG surface " +
        "(tEXt/zTXt/iTXt); other formats report none")
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = 8
    var done = false
    while (!done && i + 8 <= bytes.length) {
      val len = beInt(bytes, i)
      // Long arithmetic: a corrupt length near Int.MaxValue would wrap
      // the Int sum negative, pass the guard, and surface as a raw
      // ArrayIndexOutOfBounds instead of this typed decode error
      if (len < 0 || i.toLong + 8 + len + 4 > bytes.length)
        fail(id, s"png: chunk at byte $i overruns the payload")
      val typ = new String(bytes, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val data = java.util.Arrays.copyOfRange(bytes, i + 8, i + 8 + len)
      def upTo0(from: Int): Int = {
        var j = from; while (j < data.length && data(j) != 0) j += 1; j
      }
      val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
      def inflate(z: Array[Byte]): Array[Byte] =
        graft.sources.Flate.inflate(z, m => fail(id, s"png: $typ chunk at byte $i: $m"))
      typ match {
        case "tEXt" =>
          val z = upTo0(0)
          out += new String(data, 0, z, latin1) ->
            new String(data, math.min(z + 1, data.length),
              math.max(0, data.length - z - 1), latin1)
        case "zTXt" =>
          val z = upTo0(0) // key \0 method(1) deflate-data
          val txt = inflate(java.util.Arrays.copyOfRange(data, z + 2, data.length))
          out += new String(data, 0, z, latin1) -> new String(txt, latin1)
        case "iTXt" =>
          val z = upTo0(0)
          val compFlag = data(z + 1)
          val langEnd = upTo0(z + 3)
          val tkeyEnd = upTo0(langEnd + 1)
          val raw = java.util.Arrays.copyOfRange(data, tkeyEnd + 1, data.length)
          val txt = if (compFlag == 1) inflate(raw) else raw
          out += new String(data, 0, z, latin1) ->
            new String(txt, java.nio.charset.StandardCharsets.UTF_8)
        case "IEND" => done = true
        case _ => ()
      }
      i += 8 + len + 4
    }
    out.toSeq
  }

  /** Splice textual chunks into an existing PNG (before IEND) — the
    * fixture writer for [[pngText]]. `compressed=true` entries become
    * zTXt, utf8 entries iTXt, plain latin1 tEXt. */
  def addPngText(png: Array[Byte],
                 entries: Seq[(String, String, String)]): Array[Byte] = {
    require(isPng(png), "addPngText: not a PNG")
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      val t = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      crc.update(t); crc.update(data)
      val out = java.nio.ByteBuffer.allocate(12 + data.length)
      out.putInt(data.length).put(t).put(data).putInt(crc.getValue.toInt)
      out.array()
    }
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    val built = entries.flatMap { case (kind, k, v) =>
      kind match {
        case "text" => Seq(chunk("tEXt",
          k.getBytes(latin1) ++ Array(0.toByte) ++ v.getBytes(latin1)))
        case "ztxt" =>
          Seq(chunk("zTXt", k.getBytes(latin1) ++ Array(0.toByte, 0.toByte) ++
            graft.sources.Flate.deflate(v.getBytes(latin1))))
        case "itxt" => Seq(chunk("iTXt",
          k.getBytes(latin1) ++ Array(0.toByte, 0.toByte, 0.toByte) ++
            "en".getBytes(latin1) ++ Array(0.toByte) ++ Array(0.toByte) ++
            v.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        case other => sys.error(s"addPngText: unknown kind '$other'")
      }
    }
    // IEND = the final 12 bytes of a well-formed PNG
    val at = png.length - 12
    require(new String(png, at + 4, 4,
      java.nio.charset.StandardCharsets.US_ASCII) == "IEND",
      "addPngText: payload does not end with IEND")
    png.take(at) ++ built.flatten ++ png.drop(at)
  }
}
