package graft

import graft.multimodal.{ImageCodec, MediaFixtures, MultimodalStages, VideoCodec}
import graft.spec.ComponentSpec
import org.apache.spark.sql.functions._

/** Real-image decode: the fixture generator encodes actual PNG/JPEG/BMP/
  * GIF bytes with dimensions that are pure arithmetic in the id; the
  * decoder must recover them from the BYTES (the same contract the
  * driver's DuckDB oracle checks at sf0.01). */
class MultimodalSpec extends SparkSpec {

  test("mm_meta: PNG tEXt/zTXt/iTXt recovery, non-PNG typed error, skip mode") {
    import graft.multimodal.ImageCodec
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val png = ImageCodec.encode(img, "png")
    val withText = ImageCodec.addPngText(png, Seq(
      ("text", "a", "plain"), ("ztxt", "b", "deflated value"),
      ("itxt", "c", "unicode é中")))
    // the spliced payload still DECODES as a valid image
    assert(ImageCodec.decode(1L, withText).width == 4)
    val kv = ImageCodec.pngText(1L, withText).toMap
    assert(kv == Map("a" -> "plain", "b" -> "deflated value",
      "c" -> "unicode é中"))
    assert(ImageCodec.pngText(2L, png).isEmpty)
    val jpg = ImageCodec.encode(img, "jpg")
    val e = intercept[RuntimeException](ImageCodec.pngText(3L, jpg))
    assert(e.getMessage.contains("PNG"))
    // truncated chunk overruns fail loud with the offset
    val cut = withText.take(withText.length - 20)
    val e2 = intercept[RuntimeException](ImageCodec.pngText(4L, cut))
    assert(e2.getMessage.contains("overruns") || e2.getMessage.contains("truncated"))
    // a corrupt chunk length near Int.MaxValue must hit the SAME typed
    // error, not wrap the Int bounds check negative and surface as a
    // raw ArrayIndexOutOfBounds from copyOfRange
    val huge = png.clone()
    huge(8) = 0x7f.toByte; huge(9) = 0xff.toByte // IHDR length → ~2^31
    huge(10) = 0xff.toByte; huge(11) = 0xf0.toByte
    val e3 = intercept[RuntimeException](ImageCodec.pngText(5L, huge))
    assert(e3.getMessage != null && e3.getMessage.contains("overruns"), e3.toString)
    // zTXt/iTXt text whose zlib header sets FDICT (78 20 + a DICTID): the
    // inflater asks for a preset dictionary and never makes progress, so
    // a loop that only checks needsInput spins forever
    val fdict = Array[Byte](0x78, 0x20, 0, 0, 0, 1) ++ Array.fill[Byte](16)(0x4b)
    def textChunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length).putInt(data.length)
        .put(typ.getBytes("US-ASCII")).put(data).putInt(crc.getValue.toInt).array()
    }
    for ((typ, head) <- Seq("zTXt" -> Array[Byte]('k', 0, 0),
                            "iTXt" -> Array[Byte]('k', 0, 1, 0, 0, 0))) {
      val hostile = png.take(png.length - 12) ++ textChunk(typ, head ++ fdict) ++
        png.takeRight(12)
      val e4 = intercept[RuntimeException](within(10)(ImageCodec.pngText(6L, hostile)))
      assert(e4.getMessage.contains("preset dictionary") &&
        e4.getMessage.contains(typ) && e4.getMessage.contains("media_id=6"), e4.getMessage)
    }
    // stage: skip mode drops the non-PNG row instead of failing
    import spark.implicits._
    val df = Seq((1L, withText), (2L, jpg)).toDF("doc_id", "payload")
    val out = graft.multimodal.MultimodalStages.textMeta(
      graft.spec.ComponentSpec("mm_meta", Map("onUndecodable" -> "skip")),
      newCtx())(df).collect()
    assert(out.length == 1 && out.head.getInt(1) == 3)
  }
  import spark.implicits._

  private def stage(name: String, opts: (String, Any)*)(
      df: org.apache.spark.sql.DataFrame) = {
    val ctx = new graft.engine.EtlContext(spark)
    graft.engine.Engine.transformers(name)(
      ComponentSpec(name, opts.toMap), ctx)(df)
  }

  test("ImageCodec: every fixture format round-trips its real metadata") {
    (0L to 24L).foreach { id =>
      val m = ImageCodec.decode(id, MediaFixtures.payload(id))
      assert(m.width == MediaFixtures.width(id), s"width for id=$id")
      assert(m.height == MediaFixtures.height(id), s"height for id=$id")
      if (id % 5 == 4) { // animated gif: real frame count from the bytes
        assert(m.n_frames == MediaFixtures.gifFrames(id), s"frames id=$id")
      } else {
        assert(m.n_frames == 1, s"static image id=$id must have 1 frame")
        assert(m.channels == MediaFixtures.channels(id), s"channels id=$id")
      }
    }
  }

  test("ImageCodec: undecodable payload is a typed error naming the row") {
    val e = intercept[RuntimeException](
      ImageCodec.decode(42L, "not an image".getBytes("UTF-8")))
    assert(e.getMessage.contains("media_id=42"))
    intercept[RuntimeException](ImageCodec.decode(7L, Array.emptyByteArray))
  }

  test("mm_decode(image): real dimensions through the engine stage; skip mode drops corrupt rows") {
    val rows = Seq(
      (10L, MediaFixtures.payload(10L)),
      (13L, MediaFixtures.payload(13L)),
      (99L, "corrupt".getBytes("UTF-8")))
    val df = rows.toDF("doc_id", "payload")
    val ok = stage("mm_decode", "onUndecodable" -> "skip")(df)
      .orderBy("media_id").collect()
    assert(ok.length == 2)
    assert(ok(0).getAs[Int]("width") == MediaFixtures.width(10L))
    assert(ok(1).getAs[Int]("channels") == 1) // 13 % 5 == 3 → grayscale png
    val e = intercept[Exception](stage("mm_decode")(df).collect())
    assert(e.getMessage != null)
  }

  test("mm_resize(resample): floor-arithmetic dims, ONE pixel decode per row; gray stays 1-channel") {
    val ids = Seq(5L, 13L, 21L, 30L) // png/gray-png/jpeg/png mix
    val df = ids.map(i => (i, MediaFixtures.payload(i))).toDF("media_id", "payload")
    val before = ImageCodec.pixelDecodes.get()
    val out = stage("mm_resize", "resample" -> true,
      "maxWidth" -> 24, "maxHeight" -> 24)(df)
    val byId = out.collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    // exactly one ImageIO.read per input row (local mode = one JVM): the
    // reported dims come from the resample itself, not an output re-decode
    assert(ImageCodec.pixelDecodes.get() - before == ids.length.toLong)
    ids.foreach { id =>
      val w = MediaFixtures.width(id); val h = MediaFixtures.height(id)
      val s = math.min(math.min(24.0 / w, 24.0 / h), 1.0)
      val r = byId(id)
      assert(r.getAs[Int]("out_width") == math.max(1, math.floor(w * s).toInt))
      assert(r.getAs[Int]("out_height") == math.max(1, math.floor(h * s).toInt))
      // decoding the output bytes independently confirms the reported dims
      val m = ImageCodec.decode(id, r.getAs[Array[Byte]]("out_payload"))
      assert(m.width == r.getAs[Int]("out_width"))
      assert(m.height == r.getAs[Int]("out_height"))
      if (id % 5 == 3) assert(m.channels == 1, s"gray input id=$id stayed gray")
    }
  }

  test("mm_resize(resample, keepInput): input columns joined back on idField") {
    val df = Seq((5L, MediaFixtures.payload(5L), "tag-a"))
      .toDF("media_id", "payload", "tag")
    val out = stage("mm_resize", "resample" -> true, "keepInput" -> true,
      "maxWidth" -> 24, "maxHeight" -> 24)(df)
    assert(out.columns.contains("tag") && out.columns.contains("out_payload"))
    assert(out.select("tag").as[String].head() == "tag-a")
  }

  test("mm_frames: explodes the REAL gif frame count") {
    val df = Seq((4L, MediaFixtures.payload(4L))).toDF("doc_id", "payload")
    val frames = stage("mm_frames", "step" -> 1)(stage("mm_decode")(df))
      .select("frame_idx").as[Int].collect().sorted.toSeq
    assert(frames == (0 until MediaFixtures.gifFrames(4L)))
  }

  test("mm_audio: real WAV header decode recovers rate/channels/samples") {
    val ids = Seq(0L, 1L, 2L, 7L, 10L)
    val df = ids.map(i => (i, MediaFixtures.audioPayload(i)))
      .toDF("media_id", "payload")
    val out = stage("mm_audio", "idField" -> "media_id")(df)
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    ids.foreach { id =>
      val r = out(id)
      assert(r.getAs[Int]("sample_rate") == MediaFixtures.audioRate(id), s"rate id=$id")
      assert(r.getAs[Int]("channels") == MediaFixtures.audioChannels(id), s"ch id=$id")
      assert(r.getAs[Long]("n_samples") == MediaFixtures.audioSamples(id), s"n id=$id")
    }
    // corrupt payload: typed error naming the row; skip mode drops it
    val bad = (Seq((5L, MediaFixtures.audioPayload(5L)),
      (99L, "not audio".getBytes("UTF-8")))).toDF("media_id", "payload")
    val e = intercept[Exception](stage("mm_audio", "idField" -> "media_id")(bad).collect())
    assert(e.getMessage != null)
    assert(stage("mm_audio", "idField" -> "media_id",
      "onUndecodable" -> "skip")(bad).count() == 1)
  }

  test("MediaFixtures.frame: distributed generation, schema contract") {
    val mf = MediaFixtures.frame(spark, "/root/testdata/sf0.001")
    assert(mf.columns.toSeq == Seq("media_id", "media_type", "payload"))
    val n = mf.count()
    assert(n > 0)
    // decode the whole fixture through the stage: no row lost, all real
    val meta = stage("mm_decode", "idField" -> "media_id")(mf)
    assert(meta.count() == n)
    val bad = meta.where(col("width") =!= lit(16) + (col("media_id") * 7) % 97)
    assert(bad.count() == 0)
  }

  test("VideoCodec: v0 and v1 MP4 box layouts round-trip the real metadata") {
    (0L to 27L).foreach { id => // id%4==3 rows use version-1 headers
      val m = VideoCodec.decode(id, MediaFixtures.videoPayload(id))
      assert(m.width == MediaFixtures.videoWidth(id), s"width id=$id")
      assert(m.height == MediaFixtures.videoHeight(id), s"height id=$id")
      assert(m.n_frames == MediaFixtures.videoFrames(id), s"frames id=$id")
      assert(m.timescale == MediaFixtures.VideoTimescale)
      assert(m.duration == MediaFixtures.videoDuration(id), s"duration id=$id")
    }
  }

  test("VideoCodec: faststart (moov before mdat) and largesize mdat both parse") {
    val id = 6L
    val orig = MediaFixtures.videoPayload(id)
    // split the writer's ftyp|mdat|moov layout back into its three boxes
    def u32(o: Int): Int = ((orig(o) & 0xFF) << 24) | ((orig(o + 1) & 0xFF) << 16) |
      ((orig(o + 2) & 0xFF) << 8) | (orig(o + 3) & 0xFF)
    val ftypLen = u32(0); val mdatLen = u32(ftypLen)
    val ftyp = orig.slice(0, ftypLen)
    val mdat = orig.slice(ftypLen, ftypLen + mdatLen)
    val moov = orig.slice(ftypLen + mdatLen, orig.length)
    val expect = VideoCodec.decode(id, orig)
    // moov-first (faststart) ordering
    assert(VideoCodec.decode(id, ftyp ++ moov ++ mdat) == expect)
    // 64-bit largesize header on mdat (size field = 1, u64 follows type)
    val large = Array[Byte](0, 0, 0, 1) ++ mdat.slice(4, 8) ++
      Array[Byte](0, 0, 0, 0) ++ Array(
        (((mdat.length + 8) >> 24) & 0xFF).toByte, (((mdat.length + 8) >> 16) & 0xFF).toByte,
        (((mdat.length + 8) >> 8) & 0xFF).toByte, ((mdat.length + 8) & 0xFF).toByte) ++
      mdat.slice(8, mdat.length)
    assert(VideoCodec.decode(id, ftyp ++ large ++ moov) == expect)
  }

  test("VideoCodec: non-MP4 / truncated payloads are typed errors naming the row") {
    val e = intercept[RuntimeException](
      VideoCodec.decode(42L, "definitely not an mp4 container".getBytes("UTF-8")))
    assert(e.getMessage.contains("media_id=42"))
    val truncated = MediaFixtures.videoPayload(3L).take(40)
    val e2 = intercept[RuntimeException](VideoCodec.decode(7L, truncated))
    assert(e2.getMessage.contains("media_id=7"))
    intercept[RuntimeException](VideoCodec.decode(1L, Array.emptyByteArray))
    // tail truncation (top-level moov size now overruns the buffer):
    // typed error naming the row from the box walk itself
    val full = MediaFixtures.videoPayload(8L)
    val e3 = intercept[RuntimeException](
      VideoCodec.decode(9L, full.take(full.length - 30)))
    assert(e3.getMessage.contains("media_id=9"))
    // VALID top-level sizes but a SHORT inner box: a moov whose mvhd
    // carries only version/flags — the inner need() guard must produce
    // a typed row-named error, not a bounds exception or garbage reads
    def be32(v: Int) = Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def bx(typ: String, payload: Array[Byte]) =
      be32(payload.length + 8) ++ typ.getBytes("ISO-8859-1") ++ payload
    val shortMvhd = bx("ftyp", "isomisom".getBytes("ISO-8859-1")) ++
      bx("moov", bx("mvhd", Array[Byte](0, 0, 0, 0)))
    val e4 = intercept[RuntimeException](VideoCodec.decode(11L, shortMvhd))
    assert(e4.getMessage.contains("media_id=11") &&
      e4.getMessage.contains("too short"), e4.getMessage)
  }

  test("mm_video -> mm_frames: frame sampling composes over the real stsz count") {
    val id = 17L // 10 + (17*13 % 90) = 51 frames → indexes 0,10,...,50
    val df = Seq((id, MediaFixtures.videoPayload(id))).toDF("media_id", "payload")
    val frames = stage("mm_frames", "step" -> 10)(
      stage("mm_video", "idField" -> "media_id")(df))
      .select("frame_idx").as[Int].collect().sorted.toSeq
    assert(frames == (0 until MediaFixtures.videoFrames(id) by 10).toSeq)
  }

  test("mm_video: engine stage decodes real containers; skip mode drops corrupt rows") {
    val df = Seq(
      (4L, MediaFixtures.videoPayload(4L)),
      (11L, MediaFixtures.videoPayload(11L)), // v1 headers
      (99L, "corrupt".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val ok = stage("mm_video", "idField" -> "media_id",
      "onUndecodable" -> "skip")(df).orderBy("media_id").collect()
    assert(ok.length == 2)
    assert(ok(0).getAs[Int]("width") == MediaFixtures.videoWidth(4L))
    assert(ok(1).getAs[Int]("n_frames") == MediaFixtures.videoFrames(11L))
    assert(ok(1).getAs[Long]("duration") == MediaFixtures.videoDuration(11L))
    val e = intercept[Exception](stage("mm_video", "idField" -> "media_id")(df).collect())
    assert(e.getMessage != null)
  }

  test("mm_frame_sample: slices the RIGHT bytes out of mdat via stsz/stco walking") {
    val df = Seq(
      (4L, MediaFixtures.videoPayload(4L)),   // v0 headers
      (11L, MediaFixtures.videoPayload(11L))) // v1 headers
      .toDF("media_id", "payload")
    val out = stage("mm_frame_sample", "idField" -> "media_id", "step" -> 4)(df)
      .orderBy("media_id", "frame_idx")
      .select("media_id", "frame_idx", "n_bytes", "first_byte")
      .as[(Long, Int, Int, Int)].collect()
    for ((id, idx, n, fb) <- out) {
      assert(idx % 4 == 0 && idx < MediaFixtures.videoFrames(id))
      assert(n == 1, "fixture samples are 1 byte")
      assert(fb == ((id * 31 + idx * 7) % 251).toInt,
        s"id=$id frame=$idx sliced the wrong byte")
    }
    assert(out.count(_._1 == 4L) ==
      (MediaFixtures.videoFrames(4L) + 3) / 4)
    // maxFramesPerVideo caps the per-row explosion
    assert(stage("mm_frame_sample", "idField" -> "media_id", "step" -> 1,
      "maxFramesPerVideo" -> 5)(df).count() == 10)
    // corrupt payloads: skip drops, error names the row
    val dirty = Seq((99L, "junk".getBytes("UTF-8"))).toDF("media_id", "payload")
    assert(stage("mm_frame_sample", "idField" -> "media_id",
      "onUndecodable" -> "skip")(dirty).count() == 0)
    val e = intercept[Exception](
      stage("mm_frame_sample", "idField" -> "media_id")(dirty).collect())
    assert(e.getMessage != null)
  }

  test("mm_id3: v2.2/v2.3/v2.4 + unsync text frames recover; onMissing") {
    import graft.multimodal.{AudioCodec, MediaFixtures}
    // direct parser across the fixture's version classes: plain v2.3
    // (8, 16), v2.4 syncsafe/UTF-8 (10, 26), v2.2 3-byte ids (4, 12),
    // v2.3 + tag-level unsynchronisation (6, 14) — all recover the
    // plant exactly under the canonical TIT2/TPE1/TALB names
    for (id <- Seq(4L, 6L, 8L, 10L, 12L, 14L, 16L, 26L)) {
      val tags = AudioCodec.id3Text(id, MediaFixtures.mp3Payload(id))
      assert(tags.get("TIT2").contains(MediaFixtures.id3Title(id)), s"id=$id")
      assert(tags.get("TPE1").contains(MediaFixtures.id3Artist(id)), s"id=$id")
      assert(tags.get("TALB") ==
        (if (MediaFixtures.id3HasAlbum(id)) Some(MediaFixtures.id3Album(id))
         else None), s"id=$id")
    }
    // the unsync class really carries FF bytes: the planted TCON 'aÿÿb'
    // survives the FF 00 reversal byte-exactly
    assert(AudioCodec.id3Text(6L, MediaFixtures.mp3Payload(6L))
      .get("TCON").contains("aÿÿb"))
    // no tag (odd MP3) and ADTS → empty map
    assert(AudioCodec.id3Text(5L, MediaFixtures.mp3Payload(5L)).isEmpty)
    assert(AudioCodec.id3Text(3L, MediaFixtures.compressedAudioPayload(3L)).isEmpty)
    // the engine stage: skip vs null missing policies
    val df = Seq(4L, 5L, 3L).map(id => (id, MediaFixtures.compressedAudioPayload(id)))
      .toDF("media_id", "payload")
    val kept = stage("mm_id3", "idField" -> "media_id")(df)
      .select("media_id").as[Long].collect().toSeq
    assert(kept == Seq(4L))
    val nulls = stage("mm_id3", "idField" -> "media_id",
      "onMissing" -> "null")(df).orderBy("media_id").collect()
    assert(nulls.length == 3)
    assert(nulls(1).getAs[String]("title") == MediaFixtures.id3Title(4L))
    assert(nulls(0).isNullAt(1) && nulls(2).isNullAt(1))
    // the mm_audio frame walk still skips the REAL tag (sample counts
    // unchanged by the v6 plant)
    val meta = AudioCodec.decodeMp3(4L, MediaFixtures.compressedAudioPayload(4L))
    assert(meta.n_samples == MediaFixtures.caSamples(4L))
    // malformed: a frame whose size spans past the tag is a typed
    // error naming the row (id 8 = plain v2.3: TIT2 starts at byte 10;
    // its u32 size sits at 14..17)
    val bad = MediaFixtures.mp3Payload(8L).clone()
    bad(14) = 0x7F.toByte
    val e = intercept[Exception](AudioCodec.id3Text(8L, bad))
    assert(e.getMessage.contains("media_id=8") &&
      e.getMessage.contains("spans past"), e.getMessage)
    // a v2.3 frame size with the TOP BIT set is a negative Int — typed
    // error, never a backwards walk into ArrayIndexOutOfBounds
    val neg = MediaFixtures.mp3Payload(8L).clone()
    neg(14) = 0xFF.toByte
    val e2 = intercept[Exception](AudioCodec.id3Text(8L, neg))
    assert(e2.getMessage.contains("negative"), e2.getMessage)
    // v2.4 tag-level unsync flag stays a typed error (per-frame there)
    val v4u = MediaFixtures.mp3Payload(10L).clone()
    v4u(5) = 0x80.toByte
    val e3 = intercept[Exception](AudioCodec.id3Text(10L, v4u))
    assert(e3.getMessage.contains("per-frame"), e3.getMessage)
  }

  test("sampleFrames: multi-entry stsc + gapped chunks — the full §8.7.4 walk") {
    import graft.multimodal.VideoCodec
    // 8 frames of distinct sizes in chunks of (3, 2, 2, 1) with 5 junk
    // bytes between chunks: single-base arithmetic would slice garbage
    // from frame 3 on; the stsc walk must recover every frame exactly
    val frames = (0 until 8).map(i => Array.tabulate(i + 2)(j => (i * 16 + j).toByte))
    val mp4 = VideoCodec.encodeMjpeg(32, 24, frames, 600L, 480L,
      chunkSizes = Seq(3, 2, 2, 1), interChunkGap = 5)
    val got = VideoCodec.sampleFrames(7L, mp4, 1, 64)
    assert(got.length == 8)
    got.foreach { s =>
      assert(s.frame.toSeq == frames(s.frame_idx).toSeq,
        s"frame ${s.frame_idx} bytes wrong — chunk walk broken") }
    // step sampling still walks every sample's size/chunk position
    val stepped = VideoCodec.sampleFrames(7L, mp4, 3, 64)
    assert(stepped.map(_.frame_idx) == Seq(0, 3, 6))
    assert(stepped.forall(s => s.frame.toSeq == frames(s.frame_idx).toSeq))
    // uniform chunks compress to ONE stsc run but still need per-chunk
    // stco bases when gapped
    val uni = VideoCodec.encodeMjpeg(32, 24, frames, 600L, 480L,
      chunkSizes = Seq(2, 2, 2, 2), interChunkGap = 3)
    assert(VideoCodec.sampleFrames(8L, uni, 1, 64)
      .forall(s => s.frame.toSeq == frames(s.frame_idx).toSeq))
    // the fixture's multi-chunk ids (≡ 1 mod 3) roundtrip through the
    // driver arithmetic: first_byte = (id*31 + idx*7) % 251
    val id = 7L
    assert(graft.multimodal.MediaFixtures.videoChunkSizes(id).length > 1)
    val fx = graft.multimodal.MediaFixtures.videoPayload(id)
    val fs = VideoCodec.sampleFrames(id, fx, 4, 1000)
    assert(fs.nonEmpty)
    fs.foreach(s => assert(s.first_byte == ((id * 31 + s.frame_idx * 7) % 251).toInt,
      s"fixture id=$id frame=${s.frame_idx}"))
    // malformed tables fail LOUD with the box named
    def corruptStsc(bytes: Array[Byte], patch: (Array[Byte], Int) => Unit): Array[Byte] = {
      val c = bytes.clone()
      val i = { // find the stsc box payload start
        var p = -1
        for (o <- 0 until c.length - 4)
          if (p < 0 && c(o) == 's' && c(o + 1) == 't' && c(o + 2) == 's' && c(o + 3) == 'c') p = o + 4
        p
      }
      patch(c, i); c
    }
    // first_chunk of entry 0 -> 2 (table must start at chunk 1)
    val bad1 = corruptStsc(mp4, (c, i) => c(i + 4 + 4 + 3) = 2.toByte)
    val e1 = intercept[Exception](VideoCodec.sampleFrames(1L, bad1, 1, 64))
    assert(e1.getMessage.contains("stsc"), e1.getMessage)
  }

  test("mm_frame_decode: MJPEG frames pixel-decode to per-frame dims + brightness") {
    val id = 9L // 3 + 9 % 6 = 6 frames; step 2 → idx 0, 2, 4
    val df = Seq((id, MediaFixtures.mjpegPayload(id))).toDF("media_id", "payload")
    val out = stage("mm_frame_decode", "idField" -> "media_id", "step" -> 2)(df)
      .orderBy("frame_idx")
      .select("frame_idx", "width", "height", "mean_luma", "bright")
      .as[(Int, Int, Int, Double, Boolean)].collect().toSeq
    assert(out.map(_._1) == Seq(0, 2, 4))
    for ((idx, w, h, luma, bright) <- out) {
      assert(w == MediaFixtures.mjpegWidth(id, idx), s"frame $idx width")
      assert(h == MediaFixtures.mjpegHeight(id, idx), s"frame $idx height")
      assert(bright == MediaFixtures.mjpegBright(id, idx), s"frame $idx bright")
      // JPEG loss on a solid fill stays close to the planted gray
      val g = if (MediaFixtures.mjpegBright(id, idx)) 220.0 else 40.0
      assert(math.abs(luma - g) < 8.0, s"frame $idx luma $luma vs $g")
    }
    // the sampled frame bytes really are standalone JPEGs (SOI marker)
    val sampled = graft.multimodal.VideoCodec.sampleFrames(
      id, MediaFixtures.mjpegPayload(id), 2, 64)
    assert(sampled.forall(_.codec == "jpeg"))
    assert(sampled.forall(s => s.first_byte == 0xFF))
    // corrupt payload: skip drops, error names the row
    val dirty = Seq((99L, "junk".getBytes("UTF-8"))).toDF("media_id", "payload")
    assert(stage("mm_frame_decode", "idField" -> "media_id",
      "onUndecodable" -> "skip")(dirty).count() == 0)
    val e = intercept[Exception](
      stage("mm_frame_decode", "idField" -> "media_id")(dirty).collect())
    assert(e.getMessage != null)
    // an inter-predicted codec ('mp4v' here) hits the TYPED error naming
    // the codec — never ImageIO's confusing no-reader failure
    val stub = Seq((4L, MediaFixtures.videoPayload(4L))).toDF("media_id", "payload")
    val e2 = intercept[Exception](
      stage("mm_frame_decode", "idField" -> "media_id")(stub).collect())
    assert(e2.getMessage.contains("mp4v") &&
      e2.getMessage.contains("not self-contained"),
      s"expected the typed codec error: ${e2.getMessage}")
  }

  test("mm_phash: average-hash recovers the planted block pattern from real PNG bytes") {
    val ids = Seq(0L, 1L, 7L, 100L, 101L, 250L)
    val df = ids.map(id => (id, MediaFixtures.phashPayload(id)))
      .toDF("media_id", "payload")
    val got = stage("mm_phash", "idField" -> "media_id")(df)
      .orderBy("media_id").select("media_id", "phash")
      .as[(Long, Long)].collect().toMap
    ids.foreach { id =>
      assert(got(id) == MediaFixtures.phashPattern(id),
        s"id=$id: decoded hash ${got(id).toHexString} != planted " +
        s"${MediaFixtures.phashPattern(id).toHexString}")
    }
    // planted partners differ by exactly two bits
    assert(java.lang.Long.bitCount(got(101L) ^ got(100L)) == 2)
    // averageHash is robust to scale: a resized copy keeps the hash
    // (8×8 block structure survives area-average downsampling)
    val resized = ImageCodec.resample(7L, MediaFixtures.phashPayload(7L), 32, 32)
    assert(ImageCodec.averageHash(7L, resized.payload) ==
      MediaFixtures.phashPattern(7L))
    // skip mode drops corrupt rows instead of failing the job
    val dirty = (Seq((5L, MediaFixtures.phashPayload(5L))) :+
      (99L, "corrupt".getBytes("UTF-8"))).toDF("media_id", "payload")
    assert(stage("mm_phash", "idField" -> "media_id",
      "onUndecodable" -> "skip")(dirty).count() == 1)
  }

  test("hammingpairs: pigeonhole banding finds exactly the close fingerprints") {
    val rows = Seq(
      (1L, 0x0123456789ABCDEFL),
      (2L, 0x0123456789ABCDEFL ^ 5L),          // distance 2 from 1
      (3L, 0x0123456789ABCDEFL ^ (1L << 63) ^ (1L << 31) ^ (1L << 1)), // distance 3
      (4L, 0xFEDCBA9876543210L))               // far from everything
      .toDF("doc_id", "h")
    val pairs = stage("hammingpairs", "hashField" -> "h", "maxDistance" -> 3)(rows)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(pairs == Set((1L, 2L, 2), (1L, 3L, 3), (2L, 3L, 5)).filter(_._3 <= 3),
      pairs.toString)
  }

  test("exif: APP1 TIFF walk recovers planted tags; MM endian; non-JPEG → None") {
    import graft.multimodal.{ExifCodec, MediaFixtures => MF}
    // fixture JPEGs (id % 5 == 1) carry the planted IFD0
    for (id <- Seq(1L, 6L, 11L, 16L, 21L)) {
      val m = ExifCodec.parse(id, MF.payload(id)).get
      assert(m.orientation.contains(MF.exifOrientation(id)), s"id=$id orient")
      assert(m.exif_make.contains(MF.exifMake(id)), s"id=$id make")
      assert(m.exif_model.contains(MF.exifModel(id)), s"id=$id model")
    }
    // non-JPEG formats and EXIF-less JPEGs both yield None, not errors
    assert(ExifCodec.parse(0L, MF.payload(0L)).isEmpty)  // PNG
    assert(ExifCodec.parse(2L, MF.payload(2L)).isEmpty)  // BMP
    assert(ExifCodec.parse(1L, graft.multimodal.ImageCodec.encode(
      new java.awt.image.BufferedImage(4, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB), "jpg")).isEmpty)
    // big-endian (MM) TIFF: hand-built APP1 with an inline-value Make
    val mm = {
      val t = new java.io.ByteArrayOutputStream()
      def be16(v: Int): Unit = { t.write((v >> 8) & 0xFF); t.write(v & 0xFF) }
      def be32(v: Int): Unit = { be16((v >>> 16) & 0xFFFF); be16(v & 0xFFFF) }
      t.write('M'); t.write('M'); be16(42); be32(8)
      be16(2)
      be16(0x010F); be16(2); be32(4); t.write("Fuj".getBytes); t.write(0) // inline
      be16(0x0112); be16(3); be32(1); be16(6); be16(0)
      be32(0)
      val tiff = t.toByteArray
      val seg = new java.io.ByteArrayOutputStream()
      seg.write(0xFF); seg.write(0xD8) // SOI
      seg.write(0xFF); seg.write(0xE1)
      val len = 2 + 6 + tiff.length
      seg.write((len >> 8) & 0xFF); seg.write(len & 0xFF)
      seg.write("Exif".getBytes); seg.write(0); seg.write(0)
      seg.write(tiff)
      seg.write(0xFF); seg.write(0xD9) // EOI
      seg.toByteArray
    }
    val got = ExifCodec.parse(7L, mm).get
    assert(got == ExifCodec.ExifMeta(7L, Some(6), Some("Fuj"), None))
  }

  test("audio stats: PCM sample aggregation recovers the planted arithmetic") {
    import graft.multimodal.{AudioCodec, MediaFixtures => MF}
    for (id <- Seq(0L, 1L, 2L, 3L, 7L)) {
      val st = AudioCodec.stats(id, MF.audioPayload(id))
      val nv = MF.audioSamples(id) * MF.audioChannels(id)
      val vals = (0L until nv).map(i => (id * 31 + i * 7) % 8192)
      assert(st.n_values == nv, s"id=$id n")
      assert(st.peak_abs == vals.max, s"id=$id peak")
      val sumSq = vals.map(v => v * v).sum
      assert(st.rms == math.sqrt(sumSq.toDouble / nv), s"id=$id rms")
      assert(st.zero_ratio ==
        vals.count(_ == 0).toDouble / nv, s"id=$id zeros")
    }
    // negative samples: hand-built 16-bit LE WAV with known values
    val pcm = Array[Short](-32768, 0, 100, -5)
    val bytes = new Array[Byte](pcm.length * 2)
    pcm.zipWithIndex.foreach { case (v, i) =>
      bytes(2 * i) = (v & 0xFF).toByte; bytes(2 * i + 1) = ((v >> 8) & 0xFF).toByte }
    val st = AudioCodec.stats(9L, AudioCodec.encodeWav(bytes, 44100, 1))
    assert(st.n_values == 4 && st.peak_abs == 32768L && st.zero_ratio == 0.25)
    // non-PCM/undecodable payloads fail LOUD naming the row
    val e = intercept[Exception](AudioCodec.stats(3L, Array[Byte](1, 2, 3)))
    assert(e.getMessage.contains("media_id=3"))
  }

  test("compressed audio: MP3/ADTS frame walks recover the planted arithmetic") {
    import graft.multimodal.{AudioCodec, MediaFixtures => MF}
    // a spread of ids covering: ID3v2 present/absent, ID3v1 trailer,
    // mono/stereo, all three rates, MP3 vs ADTS
    for (id <- 0L to 30L) {
      val m = AudioCodec.decodeAny(id, MF.compressedAudioPayload(id))
      assert(m.sample_rate == MF.caRate(id), s"id=$id rate")
      assert(m.channels == MF.caChannels(id), s"id=$id channels")
      assert(m.n_samples == MF.caSamples(id), s"id=$id samples")
    }
    // the sniffer still routes WAV to the javax.sound path
    val wav = AudioCodec.decodeAny(5L, MF.audioPayload(5L))
    assert(wav.sample_rate == MF.audioRate(5L) && wav.n_samples == MF.audioSamples(5L))
    // corrupt framing is a typed error naming row and offset
    val mp3 = MF.mp3Payload(1L)
    val truncated = mp3.take(mp3.length - 50)
    val e = intercept[RuntimeException] { AudioCodec.decodeMp3(1L, truncated) }
    assert(e.getMessage.contains("media_id=1") && e.getMessage.contains("sync"),
      e.getMessage)
    // mm_audio stage end-to-end over a mixed WAV + MP3 + ADTS frame
    val rows = Seq(
      (3L, MF.compressedAudioPayload(3L)),  // ADTS (3 % 4 == 3)
      (4L, MF.compressedAudioPayload(4L)),  // MP3 + ID3v2
      (5L, MF.audioPayload(5L)))            // WAV
      .toDF("media_id", "payload")
    val got = stage("mm_audio", "idField" -> "media_id")(rows)
      .select("media_id", "n_samples").as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> MF.caSamples(3L), 4L -> MF.caSamples(4L),
      5L -> MF.audioSamples(5L)), got.toString)
  }

  test("hammingpairs: narrow int fingerprints are zero-extended, not sign-extended") {
    // 32-bit fingerprints differing only at the sign bit: Hamming 1 in
    // the natural width, but a sign-extending cast('long') would make
    // the distance 33 and silently miss the pair
    val ints = Seq((1L, 0x80000001: Int), (2L, 0x00000001: Int))
      .toDF("doc_id", "h")
    val got = stage("hammingpairs", "hashField" -> "h", "maxDistance" -> 1)(ints)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 1)), got.toString)
    // same at 16-bit width
    val shorts = Seq((1L, 0x8003.toShort), (2L, 0x0003.toShort))
      .toDF("doc_id", "h")
    val got16 = stage("hammingpairs", "hashField" -> "h", "maxDistance" -> 1)(shorts)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(got16 == Set((1L, 2L, 1)), got16.toString)
  }

  test("srtparse: CRLF + dot-millis cues, multi-line text, junk dropped, strict") {
    val srt = "WEBVTT\njunk\n\n" +                      // header block: dropped
      "1\r\n00:00:01,500 --> 00:00:03,000\r\nhello\r\nworld\r\n\r\n" + // CRLF, 2 lines
      "2\n01:02:03.250 --> 01:02:04,000\nbye\n\n" +     // dot millis
      "not a cue at all\n\n"                            // trailing junk: dropped
    val df = Seq((7L, srt)).toDF("media_id", "text")
    val out = MultimodalStages.srtParse(ComponentSpec("srtparse", Map()),
      newCtx())(df)
      .select("media_id", "cue_idx", "start_ms", "end_ms", "cue_text")
      .as[(Long, Int, Long, Long, String)].collect().sortBy(_._2).toSeq
    assert(out == Seq(
      (7L, 1, 1500L, 3000L, "hello\nworld"), // CRLF folded by the line split
      (7L, 2, 3723250L, 3724000L, "bye")))
    // strict mode fails loud on the junk blocks the lenient path skips
    val e = intercept[Exception](MultimodalStages.srtParse(
      ComponentSpec("srtparse", Map("strict" -> true)), newCtx())(df))
    assert(e.getMessage.contains("malformed"), e.getMessage)
    // output-name collision guard
    val coll = Seq((1L, "x")).toDF("cue_idx", "text")
    assert(intercept[Exception](MultimodalStages.srtParse(
      ComponentSpec("srtparse", Map()), newCtx())(coll))
      .getMessage.contains("collides"))
  }

  test("vttparse: signature gate, optional ids/hours, settings, NOTE skip, tags") {
    val vtt = "﻿WEBVTT - demo\nKind: captions\n\n" + // header block
      "NOTE a comment\nspanning lines\n\n" +              // NOTE block: dropped
      "intro cue\n00:01.000 --> 00:04.250 position:50% line:0\n" +
      "<v Ann>Hi <i>there</i>\n\n" +                      // id + settings + tags
      "01:02:03.250 --> 01:02:04.000\nbye\nnow\n\n" +     // hours form, no id
      "garbage block\nnot a timing\n\n"                   // junk: dropped
    val df = Seq((7L, vtt)).toDF("media_id", "text")
    val out = MultimodalStages.vttParse(ComponentSpec("vttparse", Map()),
      newCtx())(df)
      .select("media_id", "cue_id", "start_ms", "end_ms", "cue_settings", "cue_text")
      .as[(Long, Option[String], Long, Long, Option[String], String)]
      .collect().sortBy(_._3).toSeq
    assert(out == Seq(
      (7L, Some("intro cue"), 1000L, 4250L, Some("position:50% line:0"),
        "Hi there"),
      (7L, None, 3723250L, 3724000L, None, "bye\nnow")), out.toString)
    // stripTags=false keeps markup verbatim
    val raw = MultimodalStages.vttParse(
      ComponentSpec("vttparse", Map("stripTags" -> false)), newCtx())(df)
      .orderBy("start_ms").select("cue_text").as[String].head()
    assert(raw == "<v Ann>Hi <i>there</i>")
    // a non-VTT payload yields no cues leniently, fails loud in strict
    val notVtt = Seq((9L, "1\n00:00:01.000 --> 00:00:02.000\nx"))
      .toDF("media_id", "text")
    assert(MultimodalStages.vttParse(ComponentSpec("vttparse", Map()),
      newCtx())(notVtt).count() == 0)
    assert(intercept[Exception](MultimodalStages.vttParse(
      ComponentSpec("vttparse", Map("strict" -> true)), newCtx())(notVtt))
      .getMessage.contains("WEBVTT"))
    // strict also names malformed blocks inside a real VTT
    assert(intercept[Exception](MultimodalStages.vttParse(
      ComponentSpec("vttparse", Map("strict" -> true)), newCtx())(df))
      .getMessage.contains("malformed"))
    // collision guard
    assert(intercept[Exception](MultimodalStages.vttParse(
      ComponentSpec("vttparse", Map()), newCtx())(
      Seq((1L, "x")).toDF("cue_id", "text")))
      .getMessage.contains("collides"))
  }

  test("pdfextract: every builder variant round-trips the planted text") {
    import graft.multimodal.{MediaFixtures => MF, PdfCodec}
    (0L to 23L).foreach { id =>
      val pages = PdfCodec.extractPages(id, MF.pdfPayload(id))
      assert(pages.length == MF.pdfPages(id), s"id $id page count")
      pages.zipWithIndex.foreach { case (t, k) =>
        assert(t == MF.pdfText(id, k + 1), s"id $id page ${k + 1}:\n$t")
      }
    }
  }

  test("pdfextract: dead xref recovers via the object scan; typed fails") {
    import graft.multimodal.{MediaFixtures => MF, PdfCodec}
    val good = MF.pdfPayload(7L)
    // corrupt the startxref offset digits → the table walk dies, the
    // full object scan must still recover every page
    val s = new String(good, java.nio.charset.StandardCharsets.ISO_8859_1)
    val sx = s.lastIndexOf("startxref")
    val broken = good.clone()
    var i = sx + 9
    while (broken(i) == '\n' || broken(i) == '\r' || broken(i) == ' ') i += 1
    broken(i) = '9'; broken(i + 1) = '9'; broken(i + 2) = '9'
    val pages = PdfCodec.extractPages(7L, broken)
    assert(pages.length == MF.pdfPages(7L))
    assert(pages.head == MF.pdfText(7L, 1))
    // not a PDF → named fail
    val e1 = intercept[RuntimeException](
      PdfCodec.extractPages(1L, "hello world".getBytes))
    assert(e1.getMessage.contains("%PDF-"), e1.getMessage)
    // encrypted → named fail (plant /Encrypt in the trailer)
    val enc = new String(good, java.nio.charset.StandardCharsets.ISO_8859_1)
      .replace("/Root 1 0 R", "/Root 1 0 R /Encrypt 9 0 R")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val e2 = intercept[RuntimeException](PdfCodec.extractPages(2L, enc))
    assert(e2.getMessage.contains("encrypted"), e2.getMessage)
    // unsupported filter → named fail with the filter name
    val dct = new String(good, java.nio.charset.StandardCharsets.ISO_8859_1)
      .replace("/Filter /FlateDecode", "/Filter /DCTDecode")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val e3 = intercept[RuntimeException](PdfCodec.extractPages(3L, dct))
    assert(e3.getMessage.contains("DCTDecode"), e3.getMessage)
  }

  test("docxextract: WordprocessingML runs/paragraphs/tabs/entities; typed fails") {
    import graft.multimodal.{DocxCodec, MediaFixtures => MF}
    // fixture round-trip across the paragraph-count classes
    (0L to 11L).foreach { id =>
      val t = DocxCodec.extractText(id, MF.docxPayload(id))
      assert(t.n_paragraphs == 1 + (id % 3).toInt, s"id $id")
      assert(t.text == MF.docxParas(id).mkString("\n"), s"id $id:\n${t.text}")
    }
    // entity forms incl. numeric refs; w:br; empty runs; table cells
    // flatten in document order (w:p inside w:tc is an ordinary w:p)
    val xmlDoc = DocxCodec.encodeDocx(Seq("a&b <c>"))
    assert(DocxCodec.extractText(1L, xmlDoc).text == "a&b <c>")
    val paras = DocxCodec.extractParagraphs(2L, docxOf(
      "<w:p><w:r><w:t>x&#65;y</w:t></w:r><w:r><w:br/></w:r>" +
      "<w:r><w:t>z</w:t></w:r><w:r><w:t/></w:r></w:p>" +
      "<w:tbl><w:tr><w:tc><w:p><w:r><w:t>cell</w:t></w:r></w:p></w:tc></w:tr></w:tbl>"))
    assert(paras == Seq("xAy\nz", "cell"), paras.toString)
    // a self-closing <w:p/> extracts identically to <w:p></w:p> — both
    // are one empty paragraph (r19 review)
    assert(DocxCodec.extractParagraphs(5L,
      docxOf("<w:p/><w:p><w:r><w:t>x</w:t></w:r></w:p>")) == Seq("", "x"))
    assert(DocxCodec.extractParagraphs(6L,
      docxOf("<w:p></w:p><w:p><w:r><w:t>x</w:t></w:r></w:p>")) == Seq("", "x"))
    // not a zip / missing document.xml → named fails
    val e1 = intercept[RuntimeException](
      DocxCodec.extractText(3L, "nope".getBytes))
    assert(e1.getMessage.contains("zip"), e1.getMessage)
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    zos.putNextEntry(new java.util.zip.ZipEntry("other.txt"))
    zos.write("x".getBytes); zos.closeEntry(); zos.close()
    val e2 = intercept[RuntimeException](
      DocxCodec.extractText(4L, bos.toByteArray))
    assert(e2.getMessage.contains("word/document.xml"), e2.getMessage)
    // stage: skip mode drops the corrupt row
    import spark.implicits._
    val df = Seq((7L, MF.docxPayload(7L)), (8L, "bad".getBytes))
      .toDF("media_id", "payload")
    val out = stage("docxextract", "idField" -> "media_id",
      "onUndecodable" -> "skip")(df).orderBy("media_id")
      .as[(Long, Int, String)].collect().toSeq
    assert(out == Seq((7L, 2, MF.docxParas(7L).mkString("\n"))))
  }

  private def docxOf(bodyXml: String): Array[Byte] = {
    val doc = """<?xml version="1.0"?><w:document><w:body>""" +
      bodyXml + "</w:body></w:document>"
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    zos.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    zos.write(doc.getBytes("UTF-8")); zos.closeEntry(); zos.close()
    bos.toByteArray
  }

  test("pdfextract: PDF 1.5 xref STREAM + /ObjStm layout round-trips (r19)") {
    import graft.multimodal.{MediaFixtures => MF, PdfCodec}
    // the fixture's 1.5 class (ids ≡ 3 mod 5): text, /Info and embedded
    // figures all recover through the predictor-decoded xref stream and
    // the compressed object stream
    for (id <- Seq(3L, 8L, 13L, 18L, 23L, 28L)) {
      assert(MF.pdfIs15(id), s"id $id should be the 1.5 class")
      val bytes = MF.pdfPayload(id)
      assert(new String(bytes, 0, 9,
        java.nio.charset.StandardCharsets.US_ASCII) == "%PDF-1.5\n")
      // no classic table anywhere — the stream path must carry the walk
      assert(!new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
        .contains("\ntrailer"))
      val pages = PdfCodec.extractPages(id, bytes)
      assert(pages.length == MF.pdfPages(id), s"id $id")
      pages.zipWithIndex.foreach { case (t, k) =>
        assert(t == MF.pdfText(id, k + 1), s"id $id page ${k + 1}") }
      val meta = PdfCodec.extractInfo(id, bytes)
      assert(meta.title == MF.pdfInfo(id).map(_._1), s"id $id info")
      val imgs = PdfCodec.extractImages(id, bytes)
      if (MF.pdfHasImage(id)) {
        assert(imgs.size == 1 && imgs.head.width == MF.pdfImgW(id) &&
          imgs.head.height == MF.pdfImgH(id), s"id $id images")
      } else assert(imgs.isEmpty, s"id $id images")
    }
  }

  test("pdfextract: incremental-update /Prev xref chain + /Contents array") {
    import graft.multimodal.{MediaFixtures => MF, PdfCodec}
    val Latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    val base = MF.pdfPayload(9L) // variant 0: raw streams (splice-friendly)
    val baseStr = new String(base, Latin1)
    val nPages = MF.pdfPages(9L)
    // ---- incremental update (ISO 32000 §7.5.6): append a REPLACEMENT
    // for page 1's content stream (object 5) + a new xref table whose
    // /Prev points at the original — the newest table must win for
    // object 5 while every other object resolves through the chain
    val newContent = "BT /F1 12 Tf 72 720 Td (UPDATED) Tj ET"
    val sb = new StringBuilder(baseStr)
    val obj5Off = sb.length
    sb.append(s"5 0 obj\n<< /Length ${newContent.length} >>\nstream\n")
      .append(newContent).append("\nendstream\nendobj\n")
    val oldXref = baseStr.lastIndexOf("xref")
    val newXref = sb.length
    sb.append("xref\n0 1\n0000000000 65535 f \n")
      .append(f"5 1\n$obj5Off%010d 00000 n \n")
      .append(s"trailer\n<< /Size 12 /Root 1 0 R /Prev $oldXref >>\n")
      .append(s"startxref\n$newXref\n%%EOF\n")
    val updated = sb.toString.getBytes(Latin1)
    val pages = PdfCodec.extractPages(9L, updated)
    assert(pages.length == nPages)
    assert(pages.head == "UPDATED", pages.head)
    assert(pages(1) == MF.pdfText(9L, 2)) // unreplaced object via /Prev
    // ---- /Contents as an ARRAY of streams: page 1's /Contents 5 0 R
    // becomes [5 0 R 11 0 R] with an appended second stream — both
    // decode and concatenate into ONE content stream
    val extra = "BT /F1 12 Tf (tail) Tj ET"
    val sb2 = new StringBuilder(baseStr)
    val obj11Off = sb2.length
    sb2.append(s"11 0 obj\n<< /Length ${extra.length} >>\nstream\n")
      .append(extra).append("\nendstream\nendobj\n")
    // splice the page-1 object: rewritten with an array Contents; the
    // page object is nr 4 (first page)
    val pageRef = "/Contents 5 0 R"
    val pageOff = sb2.indexOf(pageRef)
    assert(pageOff > 0)
    // appending a REPLACEMENT page object keeps all offsets valid
    val pageObjStart = baseStr.lastIndexOf("4 0 obj", pageOff)
    val pageObjEnd = baseStr.indexOf("endobj", pageObjStart) + 6
    val newPage = baseStr.substring(pageObjStart, pageObjEnd)
      .replace(pageRef, "/Contents [ 5 0 R 11 0 R ]")
    val obj4Off = sb2.length
    sb2.append(newPage).append("\n")
    val newXref2 = sb2.length
    sb2.append("xref\n0 1\n0000000000 65535 f \n")
      .append(f"4 1\n$obj4Off%010d 00000 n \n")
      .append(f"11 1\n$obj11Off%010d 00000 n \n")
      .append(s"trailer\n<< /Size 12 /Root 1 0 R /Prev $oldXref >>\n")
      .append(s"startxref\n$newXref2\n%%EOF\n")
    val arrayed = PdfCodec.extractPages(9L, sb2.toString.getBytes(Latin1))
    assert(arrayed.head == MF.pdfText(9L, 1) + "\ntail", arrayed.head)
    assert(arrayed.length == nPages)
  }

  test("pdfextract stage: per-page rows, skip mode drops corrupt payloads") {
    import graft.multimodal.{MediaFixtures => MF}
    val df = Seq(
      (4L, MF.pdfPayload(4L)),
      (5L, "not a pdf".getBytes)).toDF("media_id", "payload")
    val out = stage("pdfextract", "idField" -> "media_id",
      "onUndecodable" -> "skip")(df)
      .orderBy("media_id", "page")
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(out.map(_._1).distinct == Seq(4L))
    assert(out.length == MF.pdfPages(4L))
    assert(out.head == ((4L, 1, MF.pdfPages(4L), MF.pdfText(4L, 1))))
    // error mode fails loud naming the row
    val e = intercept[Exception](
      stage("pdfextract", "idField" -> "media_id")(df).collect())
    assert(e.getMessage != null || e.getCause != null)
    // pdfmeta: the crawl escape hatch drops the corrupt payload too
    // (r19 review: onMissing only covered an absent /Info)
    val metaOk = stage("pdfmeta", "idField" -> "media_id",
      "onMissing" -> "null", "onUndecodable" -> "skip")(df)
      .select("media_id").as[Long].collect().toSeq
    assert(metaOk == Seq(4L))
  }
}
