package graft.multimodal

import graft.engine.EtlContext
import graft.spec.ComponentSpec
import graft.stages.Stages
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column support — builder brief: opaque
  * `binary` payload columns with typed metadata, plus decode /
  * feature-extract / resize / frame-sample stages.
  *
  * Every decode path is REAL, no stubs: images via JDK `javax.imageio`
  * ([[ImageCodec]] — PNG/JPEG/BMP/GIF actual width/height/channels and
  * GIF frame count, `mm_resize` re-encodes real resampled pixels),
  * WAV/AIFF/AU via `javax.sound.sampled` and MP3/ADTS-AAC via
  * pure-byte frame-header walks ([[AudioCodec]]), MP4 container
  * metadata via pure-byte ISO BMFF box parsing ([[VideoCodec]]).
  * A production build swaps individual codecs (e.g. a JNI full-frame
  * pixel decoder) without touching the Spark shape that matters at
  * 100 TB: binary column schema, typed metadata struct contract,
  * partition-parallel `mapPartitions` batch decode, plan-level frame
  * expansion.
  */
object MultimodalStages {

  /** Typed metadata contract for a decoded media payload. */
  final case class MediaMeta(media_id: Long, byte_len: Long, width: Int,
                             height: Int, channels: Int, n_frames: Int)

  // Every media type now has a REAL pure-byte decode path: images via
  // [[ImageCodec]] (javax.imageio), WAV/AIFF/AU via [[AudioCodec]]
  // (javax.sound), MP3/ADTS-AAC via [[AudioCodec.decodeMp3]]/
  // [[AudioCodec.decodeAdts]] frame-header walks, MP4 containers via
  // [[VideoCodec]]'s box parse. The former StubDecoder seam is retired;
  // a production build swaps individual codecs (e.g. a JNI full-frame
  // decoder) without touching the Spark plumbing around them.

  /** `mm_attach`: turn a column into an opaque binary payload column
    * (`payload`) + `media_type` tag — the ingest contract for media.
    * Options: `field` (source column, cast to binary), `mediaType`. */
  def attach(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "text")
      df.withColumn("payload", col(f).cast("binary"))
        .withColumn("media_type", lit(spec.strOr("mediaType", "image/unknown")))
    }

  /** `mm_decode`: partition-parallel batch decode of the binary payload
    * into the [[MediaMeta]] struct columns. Runs through `mapPartitions`
    * on a typed Dataset — the decoder sees an iterator per partition
    * (batch shape), exactly how a real vectorized decoder integrates.
    * Options: `idField` (default doc_id), `payloadField` (default
    * payload), `keepInput` (default false), `decoder`:
    *  - `"image"` (default): REAL `javax.imageio` decode — actual
    *    dimensions, channel count, GIF frame count; an undecodable
    *    payload is a typed error naming the row (`onUndecodable:
    *    "skip"` drops it instead — the 100 TB crawl posture, where a
    *    corrupt image must not kill the job).
    *  - `"image"` is the only decoder: audio payloads go to
    *    `mm_audio` (WAV + MP3/ADTS frame walks), containers to
    *    `mm_video` (MP4 box parse). */
  def decode(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val payload = spec.strOr("payloadField", "payload")
      val decoder = spec.strOr("decoder", "image")
      val skip = spec.strOr("onUndecodable", "error") match {
        case "skip" => true
        case "error" => false
        case other => sys.error(s"mm_decode: unknown onUndecodable '$other' (error|skip)")
      }
      val one: (Long, Array[Byte]) => MediaMeta = decoder match {
        case "image" => ImageCodec.decode
        case "stub" => sys.error("mm_decode: the stub decoder is retired " +
          "— every media type has a real parser now (images here; " +
          "audio → mm_audio, video → mm_video)")
        case other => sys.error(s"mm_decode: unknown decoder '$other' (image)")
      }
      val metaEnc = Encoders.product[MediaMeta]
      val pairs = df.select(col(id).cast("long"), col(payload).cast("binary"))
        .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      val meta = pairs.mapPartitions { iter =>
        if (skip) iter.flatMap { case (i, bytes) =>
          try Some(one(i, bytes)) catch { case scala.util.control.NonFatal(_) => None } }
        else iter.map { case (i, bytes) => one(i, bytes) }
      }(metaEnc).toDF()
      if (spec.bool("keepInput", dflt = false)) {
        df.join(meta.withColumnRenamed("media_id", id), Seq(id))
      } else meta
    }

  /** Typed contract for textual metadata extracted from a payload. */
  final case class TextMeta(media_id: Long, n_meta: Int, meta_kv: String)

  /** `mm_meta`: textual metadata extraction from image payloads — PNG
    * tEXt/zTXt/iTXt chunks (ISO 15948 §11.3.4; authoring tools and
    * crawl provenance live there), walked pure-byte with inflate for
    * the compressed forms. Output: `n_meta` + `meta_kv` (sorted
    * `k=v` pairs joined by `; ` — a STRING, not a map, per the driver
    * compare contract). Non-PNG payloads are a typed error naming the
    * supported surface (`onUndecodable: skip` drops them — crawl
    * posture). Options: `idField`, `payloadField`, `onUndecodable`.
    * Partition-parallel mapPartitions like every mm_* decode. */
  def textMeta(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val payload = spec.strOr("payloadField", "payload")
      val skip = spec.strOr("onUndecodable", "error") match {
        case "skip" => true
        case "error" => false
        case other => sys.error(s"mm_meta: unknown onUndecodable '$other' (error|skip)")
      }
      val enc = Encoders.product[TextMeta]
      val pairs = df.select(col(id).cast("long"), col(payload).cast("binary"))
        .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      def one(i: Long, bytes: Array[Byte]): TextMeta = {
        val kv = ImageCodec.pngText(i, bytes).sortBy(_._1)
        TextMeta(i, kv.length, kv.map { case (k, v) => s"$k=$v" }.mkString("; "))
      }
      pairs.mapPartitions { iter =>
        if (skip) iter.flatMap { case (i, bytes) =>
          try Some(one(i, bytes)) catch { case scala.util.control.NonFatal(_) => None } }
        else iter.map { case (i, bytes) => one(i, bytes) }
      }(enc).toDF()
    }

  /** `mm_audio`: partition-parallel audio metadata decode of a binary
    * payload into [[AudioCodec.AudioMeta]] columns — real sample rate /
    * channels / sample count from the bytes. Container-sniffing:
    * WAV/AIFF/AU via `javax.sound.sampled`, MP3 and ADTS-AAC via
    * pure-byte frame-header walks ([[AudioCodec.decodeMp3]] /
    * [[AudioCodec.decodeAdts]]); no external codecs. Options: `idField`
    * (default doc_id), `payloadField` (default payload),
    * `onUndecodable` error|skip. */
  def audio(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val payload = spec.strOr("payloadField", "payload")
      val skip = spec.strOr("onUndecodable", "error") match {
        case "skip" => true
        case "error" => false
        case other => sys.error(s"mm_audio: unknown onUndecodable '$other' (error|skip)")
      }
      val metaEnc = Encoders.product[AudioCodec.AudioMeta]
      df.select(col(id).cast("long"), col(payload).cast("binary"))
        .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
        .mapPartitions { iter =>
          if (skip) iter.flatMap { case (i, bytes) =>
            try Some(AudioCodec.decodeAny(i, bytes))
            catch { case scala.util.control.NonFatal(_) => None } }
          else iter.map { case (i, bytes) => AudioCodec.decodeAny(i, bytes) }
        }(metaEnc).toDF()
    }

  /** `mm_exif`: pure-byte EXIF extraction from JPEG payloads — the
    * camera-metadata pass of an image-corpus pipeline (orientation
    * decides a rotate, make/model drive per-device dedup and filtering).
    * Walks the JPEG marker stream to APP1 `Exif\0\0` and parses the
    * embedded TIFF IFD0 (both byte orders) with no imaging library —
    * see [[ExifCodec]]. Rows without EXIF (non-JPEG or no APP1) are
    * SKIPPED by default (`onMissing: skip`) or emitted with null
    * metadata (`onMissing: null`); a malformed TIFF inside a present
    * EXIF always fails loud. Partition-parallel projection, zero
    * exchanges. Options: `idField` (default doc_id), `payloadField`
    * (default payload), `onMissing` skip|null. */
  def exif(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val payload = spec.strOr("payloadField", "payload")
      val keepMissing = spec.strOr("onMissing", "skip") match {
        case "skip" => false
        case "null" => true
        case other => sys.error(s"mm_exif: unknown onMissing '$other' (skip|null)")
      }
      val enc = Encoders.product[ExifCodec.ExifMeta]
      df.select(col(id).cast("long"), col(payload).cast("binary"))
        .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
        .mapPartitions { iter =>
          iter.flatMap { case (i, bytes) =>
            ExifCodec.parse(i, bytes) match {
              case some @ Some(_) => some
              case None if keepMissing =>
                Some(ExifCodec.ExifMeta(i, None, None, None))
              case None => None
            }
          }
        }(enc).toDF()
    }

  /** `mm_id3`: pure-byte ID3v2 text-frame extraction from MP3 payloads
    * — the audio-side metadata twin of [[exif]] (title/artist/album are
    * the dedup/attribution keys an audio-crawl pipeline joins on before
    * any expensive decode). Walks the leading ID3v2.3/2.4 tag only
    * (frame sizes + encodings per the spec, see [[AudioCodec.id3Text]]);
    * payloads without a tag follow `onMissing` (skip drops them, null
    * keeps a row with null columns — ADTS/untagged files in a mixed
    * crawl). Malformed tags are typed errors naming the row. Output:
    * (idField, title, artist, album) from TIT2/TPE1/TALB; absent frames
    * are null. Per-row byte parsing — zero exchanges, codegen-adjacent
    * mapPartitions like the other codecs. */
  def id3(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val payload = spec.strOr("payloadField", "payload")
      val keepMissing = spec.strOr("onMissing", "skip") match {
        case "skip" => false
        case "null" => true
        case other => sys.error(s"mm_id3: unknown onMissing '$other' (skip|null)")
      }
      val enc = Encoders.product[AudioCodec.Id3Meta]
      df.select(col(id).cast("long"), col(payload).cast("binary"))
        .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
        .mapPartitions { iter =>
          iter.flatMap { case (i, bytes) =>
            val tags = AudioCodec.id3Text(i, bytes)
            if (tags.isEmpty && !keepMissing) None
            else Some(AudioCodec.Id3Meta(i,
              tags.get("TIT2"), tags.get("TPE1"), tags.get("TALB")))
          }
        }(enc).toDF()
    }

  /** `pdfextract`: pure-byte PDF text extraction — one row per PAGE
    * (idField, page 1-based, n_pages, text), the ingest seam that turns
    * a crawl's `application/pdf` payloads into the text pipeline's
    * input (chunk/c4filter/dedup downstream). Bounded subset per
    * [[PdfCodec]]: classic-xref or scan-recovered object walk, Flate /
    * ASCIIHex content streams, BT/ET text with Tj/TJ/'/\" and WinAnsi /
    * UTF-16BE strings; encryption and exotic filters fail LOUD by name.
    * `onUndecodable` error|skip (skip = crawl posture: a corrupt PDF
    * drops its rows, never kills the job). Per-row byte parsing in
    * mapPartitions — zero exchanges, scales with the corpus. Options:
    * `idField` (default doc_id), `payloadField` (default payload). */
  def pdf(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val payload = spec.strOr("payloadField", "payload")
      val skip = spec.strOr("onUndecodable", "error") match {
        case "skip" => true
        case "error" => false
        case other => sys.error(s"pdfextract: unknown onUndecodable '$other' (error|skip)")
      }
      val enc = Encoders.product[PdfCodec.PdfPage]
      df.select(col(id).cast("long"), col(payload).cast("binary"))
        .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
        .mapPartitions { iter =>
          iter.flatMap { case (i, bytes) =>
            def rows = {
              val pages = PdfCodec.extractPages(i, bytes)
              pages.zipWithIndex.map { case (t, k) =>
                PdfCodec.PdfPage(i, k + 1, pages.length, t) }
            }
            if (skip)
              try rows catch { case scala.util.control.NonFatal(_) => Nil }
            else rows
          }
        }(enc).toDF()
    }

  /** `pdfimages`: embedded image XObjects of PDF payloads — the
    * figure-mining pass next to [[pdf]]'s text extraction ([[PdfCodec
    * .extractImages]]: DCTDecode streams pass through as REAL JPEG
    * bytes for a downstream `mm_decode`, FlateDecode inflates, declared
    * dims ride along for the cross-check). One row per image:
    * (idField, image_idx, width, height, filter, image). Options:
    * `idField`, `payloadField`, `onUndecodable` error|skip. */
  def pdfImages(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val payload = spec.strOr("payloadField", "payload")
      val skip = spec.strOr("onUndecodable", "error") match {
        case "skip" => true
        case "error" => false
        case other => sys.error(s"pdfimages: unknown onUndecodable '$other' (error|skip)")
      }
      val enc = Encoders.product[PdfCodec.PdfImage]
      df.select(col(id).cast("long"), col(payload).cast("binary"))
        .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
        .mapPartitions { iter =>
          iter.flatMap { case (i, bytes) =>
            if (skip)
              try PdfCodec.extractImages(i, bytes)
              catch { case scala.util.control.NonFatal(_) => Nil }
            else PdfCodec.extractImages(i, bytes)
          }
        }(enc).toDF()
    }

  /** `pdfmeta`: PDF `/Info` metadata (Title/Author/Subject) — the
    * dedup/attribution key pass of a PDF corpus, the [[id3]]/htmlmeta
    * analogue (see [[PdfCodec.extractInfo]]). Absent /Info or a
    * dead-xref document yields nulls under `onMissing: null`, or drops
    * under `skip` (default). Options: `idField`, `payloadField`,
    * `onUndecodable` error|skip (skip = crawl posture — one corrupt or
    * non-PDF payload must not kill the job, the pdfextract contract). */
  def pdfMeta(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val payload = spec.strOr("payloadField", "payload")
      val keepMissing = spec.strOr("onMissing", "skip") match {
        case "skip" => false
        case "null" => true
        case other => sys.error(s"pdfmeta: unknown onMissing '$other' (skip|null)")
      }
      val skipBad = spec.strOr("onUndecodable", "error") match {
        case "skip" => true
        case "error" => false
        case other => sys.error(s"pdfmeta: unknown onUndecodable '$other' (error|skip)")
      }
      val enc = Encoders.product[PdfCodec.PdfMeta]
      df.select(col(id).cast("long"), col(payload).cast("binary"))
        .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
        .mapPartitions { iter =>
          iter.flatMap { case (i, bytes) =>
            val parsed =
              if (skipBad)
                try Some(PdfCodec.extractInfo(i, bytes))
                catch { case scala.util.control.NonFatal(_) => None }
              else Some(PdfCodec.extractInfo(i, bytes))
            parsed.flatMap { m =>
              if (m.title.isEmpty && m.author.isEmpty && m.subject.isEmpty &&
                  !keepMissing) None
              else Some(m)
            }
          }
        }(enc).toDF()
    }

  /** `docxextract`: pure-byte DOCX text extraction — office documents
    * are the second-biggest non-HTML corpus type after PDF. Composes
    * the [[graft.sources.Zip]] central-directory walk with a one-pass
    * WordprocessingML scan ([[DocxCodec]]): `<w:t>` runs, `<w:p>`
    * paragraph breaks, tab/br inline breaks, XML entities unescaped.
    * Output: (idField, n_paragraphs, text) — one row per document,
    * ready for the text pipeline (chunk/c4filter/dedup). Options:
    * `idField` (default doc_id), `payloadField` (default payload),
    * `onUndecodable` error|skip (skip = crawl posture). Per-row byte
    * parsing in mapPartitions — zero exchanges. */
  def docx(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val payload = spec.strOr("payloadField", "payload")
      val skip = spec.strOr("onUndecodable", "error") match {
        case "skip" => true
        case "error" => false
        case other => sys.error(s"docxextract: unknown onUndecodable '$other' (error|skip)")
      }
      val enc = Encoders.product[DocxCodec.DocxText]
      df.select(col(id).cast("long"), col(payload).cast("binary"))
        .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
        .mapPartitions { iter =>
          if (skip) iter.flatMap { case (i, bytes) =>
            try Some(DocxCodec.extractText(i, bytes))
            catch { case scala.util.control.NonFatal(_) => None } }
          else iter.map { case (i, bytes) => DocxCodec.extractText(i, bytes) }
        }(enc).toDF()
    }

  /** `rtfextract`: pure-byte RTF text extraction — the THIRD office
    * format next to PDF/DOCX (legacy .doc exports and clipboard dumps
    * ship as RTF). One-pass control-word scan ([[RtfCodec]]: dropped
    * destinations, `\'hh` ANSI and `\uN` Unicode escapes, par/line/tab
    * breaks; non-1252 code pages fail loud). Output mirrors
    * [[DocxCodec]]: (idField, n_paragraphs, text). Options: `idField`
    * (default doc_id), `payloadField` (default payload),
    * `onUndecodable` error|skip. Per-row byte parsing in
    * mapPartitions — zero exchanges. */
  def rtf(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val payload = spec.strOr("payloadField", "payload")
      val skip = spec.strOr("onUndecodable", "error") match {
        case "skip" => true
        case "error" => false
        case other => sys.error(s"rtfextract: unknown onUndecodable '$other' (error|skip)")
      }
      val enc = Encoders.product[RtfCodec.RtfText]
      df.select(col(id).cast("long"), col(payload).cast("binary"))
        .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
        .mapPartitions { iter =>
          if (skip) iter.flatMap { case (i, bytes) =>
            try Some(RtfCodec.extractText(i, bytes))
            catch { case scala.util.control.NonFatal(_) => None } }
          else iter.map { case (i, bytes) => RtfCodec.extractText(i, bytes) }
        }(enc).toDF()
    }

  /** `mm_audio_stats`: partition-parallel PCM SAMPLE statistics — peak
    * amplitude, RMS energy and zero (silence) ratio straight from the
    * 16-bit samples, the loudness/silence screen a speech-corpus
    * pipeline runs before transcription. Same decode seam as
    * [[audio]]; integer accumulation, two correctly-rounded closing
    * ops (see [[AudioCodec.stats]]), zero exchanges. Options:
    * `idField` (default doc_id), `payloadField` (default payload),
    * `onUndecodable` error|skip. */
  def audioStats(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val payload = spec.strOr("payloadField", "payload")
      val skip = spec.strOr("onUndecodable", "error") match {
        case "skip" => true
        case "error" => false
        case other => sys.error(s"mm_audio_stats: unknown onUndecodable '$other' (error|skip)")
      }
      val statsEnc = Encoders.product[AudioCodec.AudioStats]
      df.select(col(id).cast("long"), col(payload).cast("binary"))
        .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
        .mapPartitions { iter =>
          if (skip) iter.flatMap { case (i, bytes) =>
            try Some(AudioCodec.stats(i, bytes))
            catch { case scala.util.control.NonFatal(_) => None } }
          else iter.map { case (i, bytes) => AudioCodec.stats(i, bytes) }
        }(statsEnc).toDF()
    }

  /** `mm_video`: partition-parallel MP4 container metadata decode —
    * REAL pure-byte ISO BMFF box parsing (see [[VideoCodec]]): the
    * video track's `tkhd` width/height, `mvhd` timescale/duration, and
    * the `stsz` sample count, recovered from the bytes with no codec
    * library. Options: `idField` (default doc_id), `payloadField`
    * (default payload), `onUndecodable` error|skip (skip = the 100 TB
    * crawl posture, a corrupt container must not kill the job). */
  def video(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val payload = spec.strOr("payloadField", "payload")
      val skip = spec.strOr("onUndecodable", "error") match {
        case "skip" => true
        case "error" => false
        case other => sys.error(s"mm_video: unknown onUndecodable '$other' (error|skip)")
      }
      val metaEnc = Encoders.product[VideoCodec.VideoMeta]
      df.select(col(id).cast("long"), col(payload).cast("binary"))
        .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
        .mapPartitions { iter =>
          if (skip) iter.flatMap { case (i, bytes) =>
            try Some(VideoCodec.decode(i, bytes))
            catch { case scala.util.control.NonFatal(_) => None } }
          else iter.map { case (i, bytes) => VideoCodec.decode(i, bytes) }
        }(metaEnc).toDF()
    }

  /** `mm_frame_sample`: REAL video frame sampling at the CONTAINER
    * level — every `step`-th sample's bytes sliced out of the MP4
    * `mdat` by walking the sample tables ([[VideoCodec.sampleFrames]]:
    * stsz sizes + stco/co64 chunk base, pure byte arithmetic, no
    * codec). Emits one row per sampled frame: (idField, frame_idx,
    * n_bytes, first_byte, frame bytes) — decoding the frame PAYLOAD
    * (h264 etc.) stays out of scope, but the sampling plumbing a
    * training pipeline needs (which bytes belong to which frame) is
    * real and oracle-checked. Options: `idField` (default doc_id),
    * `payloadField` (default payload), `step` (default 4),
    * `maxFramesPerVideo` (default 64 — a pathological container must
    * not explode the row count), `onUndecodable` error|skip. */
  def frameSample(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val payload = spec.strOr("payloadField", "payload")
      val step = spec.int("step", 4)
      val maxFrames = spec.int("maxFramesPerVideo", 64)
      val skip = spec.strOr("onUndecodable", "error") match {
        case "skip" => true
        case "error" => false
        case other => sys.error(s"mm_frame_sample: unknown onUndecodable '$other' (error|skip)")
      }
      val enc = Encoders.product[VideoCodec.FrameSample]
      df.select(col(id).cast("long"), col(payload).cast("binary"))
        .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
        .mapPartitions { iter =>
          if (skip) iter.flatMap { case (i, bytes) =>
            try VideoCodec.sampleFrames(i, bytes, step, maxFrames)
            catch { case scala.util.control.NonFatal(_) => Nil } }
          else iter.flatMap { case (i, bytes) =>
            VideoCodec.sampleFrames(i, bytes, step, maxFrames) }
        }(enc).toDF()
        .withColumnRenamed("media_id", id)
    }

  /** One pixel-decoded sampled frame (`mm_frame_decode`'s row). */
  final case class FrameDecode(media_id: Long, frame_idx: Int, width: Int,
                               height: Int, mean_luma: Double, bright: Boolean)

  /** `mm_frame_decode`: sampled frames decoded TO PIXELS — real for
    * image-codec tracks ('jpeg'/'mjpa'/'mjpb'/'png ' sample entries,
    * whose samples are complete ImageIO-readable images; 'mp4v' is
    * inter-predicted and deliberately rejected). Container
    * walk per [[VideoCodec.sampleFrames]], then each sampled frame's
    * byte slice pixel-decodes to (width, height, mean Rec.601
    * luminance, bright = mean > 127). Inter-frame-predicted codecs
    * (avc1/hvc1 …) have no in-JVM pixel path — named error (or `skip`),
    * with the container codec in the message. Options: `idField`
    * (default doc_id), `payloadField` (default payload), `step`
    * (default 4), `maxFramesPerVideo` (default 64), `onUndecodable`
    * error|skip. Scale shape: partition-parallel mapPartitions — the
    * byte-decode seam — emitting only stats, never pixels. */
  def frameDecode(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val payload = spec.strOr("payloadField", "payload")
      val step = spec.int("step", 4)
      val maxFrames = spec.int("maxFramesPerVideo", 64)
      val skip = spec.strOr("onUndecodable", "error") match {
        case "skip" => true
        case "error" => false
        case other => sys.error(s"mm_frame_decode: unknown onUndecodable '$other' (error|skip)")
      }
      // MJPEG-family sample entries only: every sample is one complete
      // encoded image. 'mp4v' (MPEG-4 Part 2) is inter-predicted and
      // deliberately NOT here — it must hit the typed error, not die
      // inside ImageIO with a confusing no-reader message
      val imageCodecs = Set("jpeg", "mjpa", "mjpb", "png ")
      def decodeOne(s: VideoCodec.FrameSample): FrameDecode = {
        if (!imageCodecs(s.codec))
          sys.error(s"mm_frame_decode: media_id=${s.media_id}: codec " +
            s"'${s.codec}' frames are not self-contained images — " +
            "pixel decode covers MJPEG-style tracks " +
            "(jpeg/mjpa/mjpb/'png '); " +
            "inter-predicted codecs need an external decoder")
        val (w, h, luma) = ImageCodec.pixelStats(s.media_id, s.frame)
        FrameDecode(s.media_id, s.frame_idx, w, h, luma, luma > 127.0)
      }
      val enc = Encoders.product[FrameDecode]
      df.select(col(id).cast("long"), col(payload).cast("binary"))
        .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
        .mapPartitions { iter =>
          if (skip) iter.flatMap { case (i, bytes) =>
            try VideoCodec.sampleFrames(i, bytes, step, maxFrames).map(decodeOne)
            catch { case scala.util.control.NonFatal(_) => Nil } }
          else iter.flatMap { case (i, bytes) =>
            VideoCodec.sampleFrames(i, bytes, step, maxFrames).map(decodeOne) }
        }(enc).toDF()
        .withColumnRenamed("media_id", id)
    }

  /** `mm_phash`: partition-parallel perceptual fingerprint of an image
    * payload — [[ImageCodec.averageHash]] (64-bit aHash: real pixel
    * decode → 8×8 luminance grid → mean threshold). Output is
    * (idField, out) ONLY — ids + 8 bytes per image is what travels to
    * the downstream near-dup join, never pixels. Pair with the
    * `hammingpairs` stage for image near-dup detection. Options:
    * `idField` (default doc_id), `payloadField` (default payload),
    * `out` (default phash), `onUndecodable` error|skip. */
  def phash(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val payload = spec.strOr("payloadField", "payload")
      val out = spec.strOr("out", "phash")
      val skip = spec.strOr("onUndecodable", "error") match {
        case "skip" => true
        case "error" => false
        case other => sys.error(s"mm_phash: unknown onUndecodable '$other' (error|skip)")
      }
      val pairEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
      df.select(col(id).cast("long"), col(payload).cast("binary"))
        .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
        .mapPartitions { iter =>
          if (skip) iter.flatMap { case (i, bytes) =>
            try Some((i, ImageCodec.averageHash(i, bytes)))
            catch { case scala.util.control.NonFatal(_) => None } }
          else iter.map { case (i, bytes) => (i, ImageCodec.averageHash(i, bytes)) }
        }(pairEnc).toDF(id, out)
    }

  /** `mm_resize`: resize to fit a `maxWidth`×`maxHeight` bounding box,
    * preserving aspect ratio (integer floor, never upscaled).
    * Two modes, `resample` option:
    *  - `false` (default): metadata-level — computes `out_width`/
    *    `out_height` from existing `width`/`height` columns (a planning
    *    pass over already-decoded metadata; pure projection).
    *  - `true`: REAL pixel resample — decodes `payloadField`, scales via
    *    bilinear `Graphics2D`, re-encodes PNG into `out_payload`, and
    *    reports the resampled `out_width`/`out_height` (computed by the
    *    resample itself — exactly ONE pixel decode per row). Partition-
    *    parallel `mapPartitions`, same batch seam as decode.
    *
    *    NOTE the projection asymmetry: resample mode outputs ONLY
    *    `idField`/`out_payload`/`out_width`/`out_height` (the decode seam
    *    runs on a typed (id, bytes) Dataset), while metadata mode
    *    preserves the whole input frame. Set `keepInput: true` to join
    *    the input columns back on `idField`, like `mm_decode`. */
  def resize(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val mw = spec.int("maxWidth", 224)
      val mh = spec.int("maxHeight", 224)
      if (spec.bool("resample", dflt = false)) {
        val id = spec.strOr("idField", "media_id")
        val payload = spec.strOr("payloadField", "payload")
        val enc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
        val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY,
          Encoders.scalaInt, Encoders.scalaInt)
        val out = df.select(col(id).cast("long"), col(payload).cast("binary"))
          .as[(Long, Array[Byte])](enc)
          .mapPartitions(_.map { case (i, bytes) =>
            val r = ImageCodec.resample(i, bytes, mw, mh)
            (i, r.payload, r.width, r.height)
          })(outEnc)
          .toDF(id, "out_payload", "out_width", "out_height")
        if (spec.bool("keepInput", dflt = false)) df.join(out, Seq(id)) else out
      } else {
        val scale = least(lit(mw.toDouble) / col("width"),
          lit(mh.toDouble) / col("height"), lit(1.0))
        df.withColumn("out_width", floor(col("width") * scale).cast("int"))
          .withColumn("out_height", floor(col("height") * scale).cast("int"))
      }
    }

  /** `mm_frames`: frame sampling — one output row per sampled frame index
    * (`0, step, 2*step, … < n_frames`), plan-level `posexplode` of a
    * `sequence`. Options: `step` (default 1), `nFramesField`. */
  def frames(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val step = spec.int("step", 1)
      val nf = col(spec.strOr("nFramesField", "n_frames"))
      df.withColumn("frame_idx",
          explode(sequence(lit(0), nf - 1, lit(step))))
    }

  /** `srtparse`: SubRip (.srt) subtitle cue extraction — the TEXT side
    * of the video pipeline (captions are the training text most video
    * corpora actually yield; cue timing aligns them with
    * [[frameSample]]'s frame_idx timeline). Each input row's `field`
    * splits into cue blocks (blank-line separated, CRLF tolerated);
    * every well-formed block explodes to one row carrying all input
    * columns plus `cue_idx` (the block's own integer index line),
    * `start_ms`/`end_ms` (from `HH:MM:SS,mmm --> HH:MM:SS,mmm`, comma
    * or dot millis) and `cue_text` (payload lines joined with `\n`).
    * Non-conforming blocks (WEBVTT headers, notes, trailing garbage)
    * are DROPPED — the lenient posture real subtitle files need;
    * `strict` = true instead fails loud on the first malformed block
    * (bounded one-row probe, the etl-cap pattern).
    *
    * Scale shape: split + explode + per-block regexp projections —
    * pure codegen'd row work, no shuffle; one task per payload
    * partition. */
  def srtParse(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fieldName = spec.strOr("field", "text")
      require(df.columns.contains(fieldName), s"srtparse: no column '$fieldName'")
      Seq("cue_idx", "start_ms", "end_ms", "cue_text").foreach(c =>
        require(!df.columns.contains(c), s"srtparse: output column '$c' collides"))
      val blocks = split(col(fieldName).cast("string"), "\r?\n[ \t]*\r?\n")
      val b = trim(col("__blk"))
      val lines = split(b, "\r?\n")
      val timeRe = "^(\\d{2}):(\\d{2}):(\\d{2})[,.](\\d{3}) *--> *" +
        "(\\d{2}):(\\d{2}):(\\d{2})[,.](\\d{3}).*$"
      def ms(base: Int): org.apache.spark.sql.Column =
        (regexp_extract(element_at(lines, 2), timeRe, base).cast("long") * 3600000L +
         regexp_extract(element_at(lines, 2), timeRe, base + 1).cast("long") * 60000L +
         regexp_extract(element_at(lines, 2), timeRe, base + 2).cast("long") * 1000L +
         regexp_extract(element_at(lines, 2), timeRe, base + 3).cast("long"))
      val wellFormed = size(lines) >= 3 &&
        element_at(lines, 1).rlike("^\\d+$") &&
        element_at(lines, 2).rlike(timeRe)
      val exploded = df.withColumn("__blk", explode(blocks))
        .where(wellFormed)
        .withColumn("cue_idx", element_at(lines, 1).cast("int"))
        .withColumn("start_ms", ms(1))
        .withColumn("end_ms", ms(5))
        .withColumn("cue_text",
          array_join(slice(lines, lit(3), size(lines) - 2), "\n"))
        .drop("__blk")
      if (spec.bool("strict", dflt = false)) {
        // bounded probe: ONE malformed block decides (plan-time job,
        // the etl-cap pattern) — lenient drop is the default contract
        val bad = df.select(explode(blocks).as("__blk")).where(!wellFormed &&
          trim(col("__blk")) =!= "")
        if (!bad.limit(1).isEmpty) sys.error(
          "srtparse: malformed cue block under strict=true — drop " +
          "strict or clean the input (lenient mode skips bad blocks)")
      }
      exploded
    }

  /** `vttparse`: WebVTT cue extraction — the dominant caption format of
    * actual web/video crawls (YouTube captions, HTML5 `<track>`), the
    * sibling of [[srtParse]] with the format's own quirks honored:
    * the `WEBVTT` file signature (optional BOM; non-VTT rows yield no
    * cues — or fail loud with `strict`), dot-millisecond timestamps
    * with an OPTIONAL hours part (`MM:SS.mmm`), an optional free-text
    * cue identifier line above the timing line, cue SETTINGS after the
    * end timestamp (`position:50% line:0`, kept verbatim in
    * `cue_settings`), and NOTE/STYLE/REGION blocks skipped. Markup
    * tags (`<v Name>`, `<i>`, `<c.class>`) strip from `cue_text` by
    * default (`stripTags: false` keeps them raw).
    *
    * Output per cue: all input columns + `cue_id` (string, null when
    * the block has no identifier line), `start_ms`/`end_ms`,
    * `cue_settings` (null when absent), `cue_text` (payload lines
    * joined with `\n`). Options: `field` (default text), `stripTags`
    * (default true), `strict` (default false).
    *
    * Scale shape: identical to srtparse — split + explode + per-block
    * regexp projections, pure codegen'd row work, no shuffle. */
  def vttParse(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fieldName = spec.strOr("field", "text")
      require(df.columns.contains(fieldName), s"vttparse: no column '$fieldName'")
      Seq("cue_id", "start_ms", "end_ms", "cue_settings", "cue_text").foreach(c =>
        require(!df.columns.contains(c), s"vttparse: output column '$c' collides"))
      val isVtt = col(fieldName).cast("string").rlike("^\\uFEFF?WEBVTT")
      val blocks = split(col(fieldName).cast("string"), "\r?\n[ \t]*\r?\n")
      val b = trim(col("__blk"))
      val lines = split(b, "\r?\n")
      // hours optional (MM:SS.mmm is legal VTT); settings ride after the
      // end timestamp. Groups: 1=h1 2=m1 3=s1 4=ms1 5=h2 6=m2 7=s2 8=ms2
      // 9=settings
      val timeRe = "^(?:(\\d{1,4}):)?(\\d{2}):(\\d{2})\\.(\\d{3})" +
        " *--> *(?:(\\d{1,4}):)?(\\d{2}):(\\d{2})\\.(\\d{3})" +
        "(?:[ \t]+(.*\\S))?[ \t]*$"
      // the timing line is line 1 (no id) or line 2 (free-text id above)
      val l1Times = element_at(lines, 1).rlike(timeRe)
      val tline = when(l1Times, element_at(lines, 1))
        .otherwise(element_at(lines, 2))
      def grp(n: Int) = regexp_extract(tline, timeRe, n)
      def ms(base: Int): org.apache.spark.sql.Column =
        when(grp(base) === "", lit(0L)).otherwise(grp(base).cast("long")) * 3600000L +
          grp(base + 1).cast("long") * 60000L +
          grp(base + 2).cast("long") * 1000L + grp(base + 3).cast("long")
      val headerish = element_at(lines, 1)
        .rlike("^\\uFEFF?(WEBVTT|NOTE|STYLE|REGION)\\b")
      val wellFormed = isVtt && !headerish &&
        (l1Times || (size(lines) >= 2 && element_at(lines, 2).rlike(timeRe)))
      val textStart = when(l1Times, lit(2)).otherwise(lit(3))
      val rawText = array_join(
        slice(lines, textStart, greatest(size(lines) - textStart + 1, lit(0))), "\n")
      val cueText =
        if (spec.bool("stripTags", dflt = true))
          regexp_replace(rawText, "<[^>]*>", "")
        else rawText
      val exploded = df.withColumn("__blk", explode(blocks))
        .where(wellFormed)
        .withColumn("cue_id",
          when(l1Times, lit(null).cast("string")).otherwise(element_at(lines, 1)))
        .withColumn("start_ms", ms(1))
        .withColumn("end_ms", ms(5))
        .withColumn("cue_settings",
          when(grp(9) === "", lit(null).cast("string")).otherwise(grp(9)))
        .withColumn("cue_text", cueText)
        .drop("__blk")
      if (spec.bool("strict", dflt = false)) {
        // bounded probes (the srtparse contract): a non-VTT payload or
        // one malformed block decides
        val nonVtt = df.where(!isVtt)
        if (!nonVtt.limit(1).isEmpty) sys.error(
          "vttparse: payload without the WEBVTT signature under " +
          "strict=true — lenient mode yields no cues for such rows")
        val bad = df.where(isVtt).select(explode(blocks).as("__blk"))
          .where(!wellFormed && !headerish && trim(col("__blk")) =!= "")
        if (!bad.limit(1).isEmpty) sys.error(
          "vttparse: malformed cue block under strict=true — drop " +
          "strict or clean the input (lenient mode skips bad blocks)")
      }
      exploded
    }
}
