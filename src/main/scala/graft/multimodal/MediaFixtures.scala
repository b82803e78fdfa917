package graft.multimodal

import java.awt.image.BufferedImage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic real-image fixture generation for the multimodal
  * stages: one media row per `documents.doc_id`, with a REAL encoded
  * image payload whose dimensions / channels / frame count are pure
  * arithmetic in `doc_id` — so a SQL oracle can recompute the expected
  * metadata without any decoder, while the engine must actually decode
  * the bytes to produce it.
  *
  * Format plan (`doc_id % 5`): 0 → PNG RGB (3 ch), 1 → JPEG (3 ch),
  * 2 → BMP (3 ch), 3 → PNG grayscale (1 ch), 4 → animated GIF with
  * `1 + doc_id % 6` frames. Dimensions: `w = 16 + (doc_id*7) % 97`,
  * `h = 16 + (doc_id*11) % 83`. Pixels: solid fill derived from doc_id
  * (irrelevant to the metadata oracle; stable across encoders).
  *
  * Generation is DISTRIBUTED (mapPartitions over the doc_id column) —
  * the same path a real corpus's media ingest would take; nothing
  * funnels through the driver.
  */
object MediaFixtures {

  def width(id: Long): Int = (16 + (id * 7) % 97).toInt
  def height(id: Long): Int = (16 + (id * 11) % 83).toInt
  def gifFrames(id: Long): Int = (1 + id % 6).toInt

  def mediaType(id: Long): String = (id % 5) match {
    case 0 => "image/png"
    case 1 => "image/jpeg"
    case 2 => "image/bmp"
    case 3 => "image/png" // grayscale png
    case _ => "image/gif"
  }

  def channels(id: Long): Int = if (id % 5 == 3) 1 else 3

  private def frame(id: Long): BufferedImage = {
    val t = if (id % 5 == 3) BufferedImage.TYPE_BYTE_GRAY
            else BufferedImage.TYPE_INT_RGB
    val img = new BufferedImage(width(id), height(id), t)
    val g = img.createGraphics()
    try {
      g.setColor(new java.awt.Color(((id * 37) % 256).toInt,
        ((id * 59) % 256).toInt, ((id * 83) % 256).toInt))
      g.fillRect(0, 0, width(id), height(id))
    } finally g.dispose()
    img
  }

  // EXIF plant (JPEG ids only): orientation / make / model are pure
  // doc_id arithmetic; the APP1 segment spliced after SOI is a REAL
  // little-endian TIFF block the mm_exif parser must walk
  def exifOrientation(id: Long): Int = (1 + id % 8).toInt
  def exifMake(id: Long): String = s"maker${id % 7}"
  def exifModel(id: Long): String = s"model${id * 3 % 13}"

  /** Build the `FF E1` APP1 segment: `Exif\0\0` + II-TIFF with IFD0
    * entries 0x010F Make (ASCII), 0x0110 Model (ASCII), 0x0112
    * Orientation (SHORT) — offsets relative to the TIFF header start,
    * exactly per TIFF 6.0 / EXIF 2.3 layout. */
  def exifApp1(id: Long): Array[Byte] = {
    val make = exifMake(id).getBytes("US-ASCII") :+ 0.toByte
    val model = exifModel(id).getBytes("US-ASCII") :+ 0.toByte
    val tiff = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { tiff.write(v & 0xFF); tiff.write((v >> 8) & 0xFF) }
    def le32(v: Int): Unit = { le16(v & 0xFFFF); le16((v >>> 16) & 0xFFFF) }
    tiff.write('I'); tiff.write('I'); le16(42); le32(8) // header, IFD0 at 8
    le16(3)                                             // 3 entries
    val dataStart = 8 + 2 + 3 * 12 + 4                  // after next-IFD ptr
    // entries ascending by tag id (TIFF requirement)
    le16(0x010F); le16(2); le32(make.length); le32(dataStart)
    le16(0x0110); le16(2); le32(model.length); le32(dataStart + make.length)
    le16(0x0112); le16(3); le32(1); le16(exifOrientation(id)); le16(0)
    le32(0)                                             // no IFD1
    tiff.write(make); tiff.write(model)
    val t = tiff.toByteArray
    val seg = new java.io.ByteArrayOutputStream()
    seg.write(0xFF); seg.write(0xE1)
    val len = 2 + 6 + t.length                          // incl. length field
    seg.write((len >> 8) & 0xFF); seg.write(len & 0xFF)
    seg.write("Exif".getBytes("US-ASCII")); seg.write(0); seg.write(0)
    seg.write(t)
    seg.toByteArray
  }

  /** Encode the payload for one doc_id. */
  def payload(id: Long): Array[Byte] = (id % 5) match {
    case 0 | 3 => ImageCodec.encode(frame(id), "png")
    case 1 =>
      // splice the EXIF APP1 right after SOI — a real camera layout
      val j = ImageCodec.encode(frame(id), "jpg")
      val app1 = exifApp1(id)
      val out = new Array[Byte](j.length + app1.length)
      out(0) = j(0); out(1) = j(1) // FF D8
      System.arraycopy(app1, 0, out, 2, app1.length)
      System.arraycopy(j, 2, out, 2 + app1.length, j.length - 2)
      out
    case 2 => ImageCodec.encode(frame(id), "bmp")
    case _ => ImageCodec.encodeGif(Seq.fill(gifFrames(id))(frame(id)))
  }

  /** The image fixture frame: (media_id, media_type, payload), one row
    * per document id, encoded executor-side. */
  def frame(spark: SparkSession, sfDir: String): DataFrame = {
    val mt = udf((id: Long) => mediaType(id))
    graft.Fixtures.payloadFrame(spark, sfDir)(payload)
      .select(col("media_id"), mt(col("media_id")).as("media_type"), col("payload"))
  }

  // ---- audio fixture: real WAV payloads, metadata = doc_id arithmetic

  def audioRate(id: Long): Int = (id % 3) match {
    case 0 => 8000; case 1 => 16000; case _ => 32000
  }
  def audioChannels(id: Long): Int = (1 + id % 2).toInt
  def audioSamples(id: Long): Long = 500 + (id * 13) % 1000

  /** Real PCM-16 WAV bytes for one doc_id (deterministic sine-ish fill;
    * content is irrelevant to the metadata oracle). */
  def audioPayload(id: Long): Array[Byte] = {
    val n = audioSamples(id).toInt
    val ch = audioChannels(id)
    val pcm = new Array[Byte](n * ch * 2)
    var i = 0
    while (i < n * ch) {
      val v = ((id * 31 + i * 7) % 8192).toShort
      pcm(2 * i) = (v & 0xFF).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      i += 1
    }
    AudioCodec.encodeWav(pcm, audioRate(id), ch)
  }

  // ---- compressed-audio fixture: structurally-REAL MP3 / ADTS-AAC
  // frame sequences, metadata = doc_id arithmetic. Headers are real
  // (sync, version/layer, bitrate/rate indices, 13-bit ADTS lengths);
  // the audio payload bytes are deterministic filler — the parser
  // reads ONLY the framing, exactly like VideoCodec's box walk.

  def caIsAdts(id: Long): Boolean = id % 4 == 3
  def caRate(id: Long): Int = (id % 3) match {
    case 0 => 44100; case 1 => 48000; case _ => 32000
  }
  def caChannels(id: Long): Int = (1 + id % 2).toInt
  def caFrames(id: Long): Int = (6 + (id * 11) % 24).toInt
  def caSamples(id: Long): Long =
    caFrames(id).toLong * (if (caIsAdts(id)) 1024 else 1152)

  // ID3v2 text-frame plants (v7): pure doc_id arithmetic, the EXIF
  // protocol — the oracle recomputes these, mm_id3 must recover them
  // from real tag bytes. TALB absent on ids % 4 != 0 (the null case).
  // Version/layout rotates on a disjoint id class: ids % 8 == 2 write
  // ID3v2.4 (syncsafe frame sizes, UTF-8 text), ids % 8 == 4 write
  // ID3v2.2 (3-byte TT2/TP1/TAL ids + 3-byte sizes), ids % 8 == 6
  // write v2.3 with tag-level UNSYNCHRONISATION (header flag 0x80,
  // FF → FF 00 over the body; a planted TCON frame carries real 0xFF
  // text bytes so the reversal is actually exercised), everything
  // else plain v2.3 (u32 sizes, latin-1).
  def id3Title(id: Long): String = s"Title ${id % 23}"
  def id3Artist(id: Long): String = s"artist${id % 7}"
  def id3Album(id: Long): String = s"album${id * 3 % 11}"
  def id3HasTag(id: Long): Boolean = id % 2 == 0 && !caIsAdts(id)
  def id3HasAlbum(id: Long): Boolean = id % 4 == 0

  /** MPEG-1 Layer III frames at 128 kbps; even ids get a leading ID3v2
    * tag with REAL text frames (title/artist/± album + zero padding),
    * ids % 6 == 0 a trailing ID3v1 block — the frame walk must skip
    * both. */
  def mp3Payload(id: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    if (id % 2 == 0) {
      val ver: Int = (id % 8) match { case 2 => 4; case 4 => 2; case _ => 3 }
      val unsync = id % 8 == 6
      def frame(fid: String, text: String): Array[Byte] = {
        val enc: Byte = if (ver == 4) 3 else 0 // UTF-8 vs latin-1
        val body = enc +: text.getBytes(
          if (ver == 4) "UTF-8" else "ISO-8859-1")
        val n = body.length
        val size = ver match {
          case 2 => Array[Byte]((n >>> 16).toByte, (n >>> 8).toByte,
            n.toByte) // v2.2: 3-byte plain
          case 4 => Array[Byte](((n >> 21) & 0x7F).toByte,
            ((n >> 14) & 0x7F).toByte, ((n >> 7) & 0x7F).toByte,
            (n & 0x7F).toByte) // v2.4: syncsafe
          case _ => Array[Byte]((n >>> 24).toByte, (n >>> 16).toByte,
            (n >>> 8).toByte, n.toByte) // v2.3: plain u32
        }
        val flags = if (ver == 2) Array.empty[Byte] else Array[Byte](0, 0)
        fid.getBytes("ISO-8859-1") ++ size ++ flags ++ body
      }
      def fid(v23: String, v22: String) = if (ver == 2) v22 else v23
      val frames0 = frame(fid("TIT2", "TT2"), id3Title(id)) ++
        frame(fid("TPE1", "TP1"), id3Artist(id)) ++
        (if (id3HasAlbum(id)) frame(fid("TALB", "TAL"), id3Album(id))
         else Array.empty[Byte]) ++
        // the unsync class plants real 0xFF text bytes ('ÿ', latin-1
        // 0xFF) in a frame the oracle ignores, so the FF 00 reversal is
        // load-bearing, not a no-op
        (if (unsync) frame("TCON", "aÿÿb") else Array.empty[Byte]) ++
        new Array[Byte]((id % 5).toInt) // tag padding (zeros)
      val frames =
        if (!unsync) frames0
        else frames0.flatMap { b =>
          if ((b & 0xFF) == 0xFF) Array(b, 0.toByte) else Array(b) }
      val body = frames.length
      bos.write(Array[Byte]('I', 'D', '3', ver.toByte,
        0, if (unsync) 0x80.toByte else 0), 0, 6)
      bos.write(((body >> 21) & 0x7F)); bos.write(((body >> 14) & 0x7F))
      bos.write(((body >> 7) & 0x7F)); bos.write((body & 0x7F))
      bos.write(frames, 0, frames.length)
    }
    val srIdx = (id % 3).toInt // 0=44100, 1=48000, 2=32000 (MPEG-1 table)
    val rate = caRate(id)
    val mono = caChannels(id) == 1
    var f = 0
    while (f < caFrames(id)) {
      val pad = ((id + f) % 2).toInt
      val frameLen = 144 * 128000 / rate + pad
      bos.write(0xFF); bos.write(0xFB) // sync + MPEG-1 + Layer III
      bos.write((9 << 4) | (srIdx << 2) | (pad << 1)) // 128 kbps
      bos.write(if (mono) 0xC0 else 0x00)
      var i = 4
      while (i < frameLen) {
        bos.write((((id * 31 + f * 7 + i) % 120) | 0x80).toInt); i += 1
      }
      f += 1
    }
    if (id % 6 == 0) {
      bos.write('T'); bos.write('A'); bos.write('G')
      var i = 3; while (i < 128) { bos.write(0); i += 1 }
    }
    bos.toByteArray
  }

  /** ADTS AAC-LC frames (7-byte headers, protection absent, one raw
    * data block = 1024 samples each); frame body length varies per
    * frame to exercise the 13-bit length field. */
  def adtsPayload(id: Long): Array[Byte] = {
    val srIdx = (id % 3) match { case 0 => 4; case 1 => 3; case _ => 5 }
    val ch = caChannels(id)
    val bos = new java.io.ByteArrayOutputStream()
    var f = 0
    while (f < caFrames(id)) {
      val bodyLen = 40 + ((id + f) % 17).toInt
      val frameLen = 7 + bodyLen
      bos.write(0xFF); bos.write(0xF1) // sync + MPEG-4 + layer 00 + no CRC
      bos.write((1 << 6) | (srIdx << 2) | ((ch >> 2) & 1)) // AAC-LC
      bos.write(((ch & 3) << 6) | ((frameLen >> 11) & 3))
      bos.write((frameLen >> 3) & 0xFF)
      bos.write(((frameLen & 7) << 5) | 0x1F)
      bos.write(0xFC) // buffer fullness low | 0 extra raw blocks
      var i = 0; while (i < bodyLen) { bos.write(((id * 17 + f * 3 + i) % 239).toInt); i += 1 }
      f += 1
    }
    bos.toByteArray
  }

  def compressedAudioPayload(id: Long): Array[Byte] =
    if (caIsAdts(id)) adtsPayload(id) else mp3Payload(id)

  // ---- video fixture: real MP4 container bytes, metadata = doc_id
  // arithmetic (the FIXTURES.md protocol: the oracle recomputes the
  // arithmetic, the engine must recover it by parsing the boxes)

  /** fps values that divide the 600-unit timescale exactly, so sample
    * deltas and durations stay integral end-to-end. */
  val VideoFps: Array[Int] = Array(10, 12, 15, 20, 24, 25, 30)
  val VideoTimescale = 600L
  def videoWidth(id: Long): Int = (32 + (id * 7) % 289).toInt
  def videoHeight(id: Long): Int = (32 + (id * 11) % 241).toInt
  def videoFrames(id: Long): Int = (10 + (id * 13) % 90).toInt
  def videoFps(id: Long): Int = VideoFps((id % 7).toInt)
  def videoDuration(id: Long): Long =
    videoFrames(id).toLong * (VideoTimescale / videoFps(id))

  /** ids ≡ 1 (mod 3) get a MULTI-CHUNK mdat layout (v5): alternating
    * chunk sample counts (multi-entry run-length `stsc`) with gap
    * filler bytes between chunks — the layout real crawl MP4s have,
    * where single-base offset arithmetic slices garbage and only the
    * full §8.7.4 sample-to-chunk walk recovers the frames. All pure
    * doc_id arithmetic; frame BYTES (and thus the oracle) unchanged. */
  def videoChunkSizes(id: Long): Seq[Int] =
    if (id % 3 != 1) Nil
    else {
      val a = 2 + (id % 5).toInt
      val b = 1 + (id % 4).toInt
      val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
      var left = videoFrames(id)
      var useA = true
      while (left > 0) {
        val c = math.min(left, if (useA) a else b)
        buf += c; left -= c; useA = !useA
      }
      buf.toSeq
    }
  def videoChunkGap(id: Long): Int =
    if (id % 3 != 1) 0 else (1 + id % 7).toInt

  /** Real MP4 bytes for one doc_id; every 4th file uses version-1
    * (64-bit time) headers so the fixture corpus exercises both box
    * layouts the parser handles; every 3rd file (ids ≡ 1 mod 3) uses
    * the multi-chunk gapped layout above. */
  def videoPayload(id: Long): Array[Byte] =
    VideoCodec.encodeMp4(videoWidth(id), videoHeight(id), videoFrames(id),
      VideoTimescale, videoDuration(id), seed = id, v1Headers = id % 4 == 3,
      chunkSizes = videoChunkSizes(id), interChunkGap = videoChunkGap(id))

  // ---- MJPEG fixture: MP4 containers whose mdat carries REAL JPEG
  // frames; per-frame dimensions and brightness are (doc_id, frame_idx)
  // arithmetic, so the oracle recomputes the arithmetic while the
  // engine must slice the right frame bytes AND pixel-decode them
  // (bright = solid gray 220 vs 40 — JPEG loss on a solid fill never
  // crosses the 127 threshold)

  def mjpegFrames(id: Long): Int = (3 + id % 6).toInt
  def mjpegWidth(id: Long, idx: Int): Int = (16 + (id * 3 + idx * 5) % 48).toInt
  def mjpegHeight(id: Long, idx: Int): Int = (16 + (id * 7 + idx * 11) % 40).toInt
  def mjpegBright(id: Long, idx: Int): Boolean = (id + idx) % 2 == 0

  def mjpegPayload(id: Long): Array[Byte] = {
    val frames = (0 until mjpegFrames(id)).map { idx =>
      val g = if (mjpegBright(id, idx)) 220 else 40
      val img = new BufferedImage(mjpegWidth(id, idx), mjpegHeight(id, idx),
        BufferedImage.TYPE_INT_RGB)
      val gr = img.createGraphics()
      try {
        gr.setColor(new java.awt.Color(g, g, g))
        gr.fillRect(0, 0, img.getWidth, img.getHeight)
      } finally gr.dispose()
      ImageCodec.encode(img, "jpg")
    }
    VideoCodec.encodeMjpeg(mjpegWidth(id, 0), mjpegHeight(id, 0), frames,
      VideoTimescale, mjpegFrames(id) * 60L, v1Headers = id % 4 == 3)
  }

  // ---- perceptual-hash fixture: 64×64 grayscale PNGs whose 8×8 block
  // pattern IS a planted 64-bit hash — each cell pure black/white, so
  // the engine's average-hash (cell vs global mean) recovers exactly
  // the planted bits from REAL pixels. 1% planted near-dup partners
  // (doc_id % 100 == 1) copy the previous id's pattern with two bit
  // flips (Hamming 2); everything else is splitmix64-random (expected
  // pairwise distance ~32, so no false pairs at any fixture scale).

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** All-black / all-white grids have no mean threshold — keep at least
    * one bit of each polarity. */
  private def clampPattern(p: Long): Long =
    if (p == 0L) 1L else if (p == -1L) p & ~1L else p

  def phashPattern(id: Long): Long =
    if (id % 100 == 1 && id > 0) {
      val base = clampPattern(splitmix64(id - 1))
      val f1 = ((id * 7) % 64).toInt
      val f2t = ((id * 13) % 64).toInt
      val f2 = if (f2t == f1) (f1 + 1) % 64 else f2t
      clampPattern(base ^ (1L << f1) ^ (1L << f2))
    } else clampPattern(splitmix64(id))

  /** Real 64×64 grayscale PNG whose 8×8 blocks render [[phashPattern]]:
    * block (cx, cy) = bit `cy*8 + cx` (white = 1). */
  def phashPayload(id: Long): Array[Byte] = {
    val bits = phashPattern(id)
    val img = new BufferedImage(64, 64, BufferedImage.TYPE_BYTE_GRAY)
    val g = img.createGraphics()
    try {
      var c = 0
      while (c < 64) {
        g.setColor(if (((bits >>> c) & 1L) == 1L) java.awt.Color.WHITE
                   else java.awt.Color.BLACK)
        g.fillRect((c % 8) * 8, (c / 8) * 8, 8, 8)
        c += 1
      }
    } finally g.dispose()
    ImageCodec.encode(img, "png")
  }

  /** Bump when the format plan / dimension arithmetic above changes —
    * every payload fixture's cache marker is keyed on it, so an edit
    * here can never leave a stale /tmp fixture disagreeing with the
    * oracle (v3 was the multi-file layout). */
  val Version = 7 // v7: ID3v2.2 + unsynchronised-v2.3 tag classes (+v6 ID3 text frames, v5 multi-chunk stsc video)

  // ---- PDF fixture: REAL spec-conformant PDF bytes (xref table,
  // page tree, Flate/raw content streams) whose per-page text is pure
  // doc_id arithmetic — the oracle recomputes the strings, pdfextract
  // must recover them from the bytes. `doc_id % 3` rotates the builder
  // variant (raw+Tj+octal / Flate+'+TJ-kern / Flate+hex+") so every
  // parser path stays exercised while the TEXT is identical.

  def pdfPages(id: Long): Int = (1 + id % 4).toInt
  def pdfLine1(id: Long, p: Int): String = s"Doc $id page $p"
  def pdfLine2(id: Long, p: Int): String = s"tok${(id * 7 + p * 3) % 97} (q${id % 5})"
  val PdfLine3 = "alpha beta"
  def pdfText(id: Long, p: Int): String =
    s"${pdfLine1(id, p)}\n${pdfLine2(id, p)}\n$PdfLine3"

  // embedded figure (even ids): a REAL JPEG XObject whose dims are
  // doc_id arithmetic — pdfimages must slice it verbatim and a real
  // decode must recover the same dims from the pixels
  def pdfHasImage(id: Long): Boolean = id % 2 == 0
  def pdfImgW(id: Long): Int = (16 + (id * 5) % 31).toInt
  def pdfImgH(id: Long): Int = (16 + (id * 9) % 29).toInt

  def pdfPayload(id: Long): Array[Byte] = {
    val img =
      if (!pdfHasImage(id)) None
      else {
        val bi = new BufferedImage(pdfImgW(id), pdfImgH(id),
          BufferedImage.TYPE_INT_RGB)
        val g = bi.createGraphics()
        try {
          g.setColor(new java.awt.Color(((id * 41) % 256).toInt,
            ((id * 61) % 256).toInt, ((id * 89) % 256).toInt))
          g.fillRect(0, 0, bi.getWidth, bi.getHeight)
        } finally g.dispose()
        Some((ImageCodec.encode(bi, "jpg"), pdfImgW(id), pdfImgH(id)))
      }
    PdfCodec.encodePdf(p => Seq(pdfLine1(id, p), pdfLine2(id, p), PdfLine3),
      pdfPages(id), (id % 3).toInt, img, pdfInfo(id), xref15 = pdfIs15(id))
  }

  // /Info plant (ids ≢ 1 mod 3 — the rest exercise the all-null case)
  def pdfInfo(id: Long): Option[(String, String)] =
    if (id % 3 == 1) None else Some((s"Doc $id", s"author${id % 13}"))

  /** ids ≡ 3 mod 5 ship the PDF 1.5 layout: cross-reference STREAM
    * (Flate + PNG Up predictor) + /ObjStm-compressed dictionary objects
    * — the modern form most real crawls carry. Orthogonal to the
    * content-variant (mod 3) and figure/Info classes, so every oracle
    * stays unchanged while the parser exercises both xref families. */
  def pdfIs15(id: Long): Boolean = id % 5 == 3

  // ---- DOCX fixture: REAL ZIP+WordprocessingML bytes (independent
  // writer: java.util.zip + hand-built ECMA-376 XML) whose paragraph
  // text is pure doc_id arithmetic — para 1 exercises XML entities,
  // run fragmentation and a <w:tab/>; the oracle recomputes the strings.

  def docxParas(id: Long): Seq[String] =
    Seq(s"Title <$id> & co\tcol${id % 7}",
      s"Para 2 of doc $id", s"Para 3 of doc $id").take(1 + (id % 3).toInt)

  def docxPayload(id: Long): Array[Byte] = DocxCodec.encodeDocx(docxParas(id))

  /** RTF plant (rtf_extract's input): 1 + id % 3 paragraphs — the
    * first with a cp1252 é, a TAB and literal braces, the second with
    * a literal backslash, the third with a `\uN` CJK code point; the
    * fonttbl/colortbl/info/generator header must NOT leak. */
  def rtfParas(id: Long): Seq[String] = {
    val p1 = s"RTF $id café\t{b${id % 5}}"
    val p2 = s"Para 2 of rtf $id 50\\50"
    val p3 = s"Uni 中 ${id}"
    Seq(p1) ++ (if (id % 3 >= 1) Seq(p2) else Nil) ++
      (if (id % 3 >= 2) Seq(p3) else Nil)
  }

  /** PNG-with-textual-chunks payload (mm_meta's input): every doc gets
    * a PNG; ids with `id % 9 != 4` carry three planted entries — a
    * tEXt `author`, a zTXt `rank` (deflate path) and an iTXt `note`
    * (utf8 path) — all pure doc_id arithmetic for the oracle. */
  def metaPngPayload(id: Long): Array[Byte] = {
    val png = ImageCodec.encode(frame(id), "png")
    if (id % 9 == 4) png // no textual chunks at all
    else ImageCodec.addPngText(png, Seq(
      ("text", "author", s"user${id % 50}"),
      ("ztxt", "rank", s"${id * 7 % 1000}"),
      ("itxt", "note", s"n$id")))
  }

  /** The per-doc payload fixtures under the fixtures dir besides the
    * images: (dir name, marker tag, payload). A tag is [[Version]] plus
    * the fixture's own revision; bump it when that payload changes. */
  val payloadFixtures: Seq[(String, String, Long => Array[Byte])] = Seq(
    // real WAV payloads for the audio metadata decode
    ("audio_parquet", s"v$Version", audioPayload),
    // real MP4 container bytes for the pure-byte box-parse decode
    ("video_parquet", s"v$Version", videoPayload),
    // MP4 containers carrying REAL JPEG frames (MJPEG layout) for the
    // per-frame pixel decode
    ("mjpeg_parquet", s"v${Version}_v1", mjpegPayload),
    // structurally-real MP3/ADTS frame sequences for the compressed-
    // audio frame-header walk (metadata = doc_id arithmetic)
    ("ca_parquet", s"v$Version", compressedAudioPayload),
    // block-pattern PNGs whose average-hash is planted doc_id
    // arithmetic (the image near-dup query's input)
    ("phash_parquet", s"v$Version", phashPayload),
    ("metapng_parquet", s"v${Version}_meta1", metaPngPayload),
    // REAL PDF bytes whose per-page text is doc_id arithmetic —
    // pdfextract's input (pdf4: + xref-stream/ObjStm layout class, v3
    // /Info, v2 figures)
    ("pdf_parquet", s"v${Version}_pdf4", pdfPayload),
    // REAL DOCX bytes (ZIP + WordprocessingML) — docxextract's input
    ("docx_parquet", s"v${Version}_docx1", docxPayload),
    // REAL RTF bytes (control words, escapes, dropped destinations)
    ("rtf_parquet", s"v${Version}_rtf1", id => RtfCodec.encodeRtf(rtfParas(id))))
}
