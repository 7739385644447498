package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (SURVEY §2 Group I, I4): image/audio/video as
  * opaque `BINARY` payloads + typed metadata structs — the direct
  * generalization of the reference's bytes/base64 artifact codec (C1).
  *
  * Image decode/resize/features are REAL (JDK `javax.imageio` +
  * `java.awt.image`: PNG/JPEG/GIF/BMP, see [[Multimodal.ImageCodec]] —
  * features are a grid color-layout descriptor). Audio decode/features/
  * frame-sampling are REAL too (JDK `javax.sound.sampled`: WAV/AIFF/AU,
  * see [[Multimodal.AudioCodec]] — features are RMS-energy windows).
  * Video container METADATA and timeline frame-sampling are REAL
  * (minimal RIFF/AVI `avih` header parse, [[Multimodal.VideoCodec]] —
  * pure JVM, no codec needed for headers), and frame DECODE is real for
  * the two families the JDK covers: uncompressed BI_RGB `db` frames
  * (plain DIB rasters) and MJPEG `dc` frames (per-frame JPEG via
  * `javax.imageio`). Only OTHER compressed codecs (mpeg4/h264/...)
  * remain STUBBED — those genuinely need a decoder absent from the JDK
  * and this offline container. Every stub is deterministic (derived from
  * payload bytes) so the Spark-side plumbing — schema, per-partition
  * batch iteration, partitioning, feature shapes — is real and testable;
  * swap `StubCodecs` for a real codec binding in production.
  */
object Multimodal {

  /** Extension → mime for the ingestion path (only the formats a codec
    * here understands get a specific type; everything else stays the
    * generic octet-stream the stub handles). */
  private val ExtMime = Seq(
    "png" -> "image/png", "jpg" -> "image/jpeg", "jpeg" -> "image/jpeg",
    "gif" -> "image/gif", "bmp" -> "image/bmp",
    "wav" -> "audio/x-wav", "aiff" -> "audio/x-aiff", "aif" -> "audio/x-aiff",
    "au" -> "audio/basic", "avi" -> "video/x-msvideo")

  /** Ingest a directory tree of media files as the (media_id, mime,
    * payload) frame every I4 pipeline stage consumes. `binaryFile` is
    * Spark's distributed binary source: the driver only LISTS paths,
    * executors read the bytes — so a 100 TB image corpus lands as opaque
    * payload rows with zero driver-side byte movement, and
    * `maxPartitionBytes` packs many small files per task. media_id is
    * the xxhash64 of the file path (stable across re-listing — the same
    * content-addressable id discipline as the text dedup keys); mime
    * comes from the extension and falls back to octet-stream, where the
    * magic-byte sniffs of the codecs take over anyway. `source_path`
    * and `length` ride along for lineage. */
  def readMediaDir(spark: SparkSession, dir: String,
      glob: String = "*"): DataFrame = {
    val ext = lower(regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1))
    val mime = ExtMime.foldLeft(lit("application/octet-stream")) {
      case (acc, (e, m)) => when(ext === e, m).otherwise(acc)
    }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        xxhash64(col("path")).as("media_id"),
        mime.as("mime"),
        col("content").as("payload"),
        col("path").as("source_path"),
        col("length"))
  }

  /** REAL image metadata via the JDK's `javax.imageio` (PNG / JPEG / GIF /
    * BMP — zero new dependencies). Header-only: `ImageReader.getWidth(0)`
    * parses the container header without decoding pixel data, so the
    * per-row cost at 100 TB is a few hundred bytes of parsing, not a full
    * raster decode. Audio/video remain stubbed (no JDK codec exists). */
  object ImageCodec {
    javax.imageio.ImageIO.setUseCache(false) // no executor-local disk cache

    private val PngMagic = Array[Byte](0x89.toByte, 'P', 'N', 'G')
    private val JpegMagic = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte)

    /** Cheap magic-byte sniff so image payloads are decoded even when the
      * mime column is generic; text/doc payloads can never match. */
    def looksLikeImage(payload: Array[Byte]): Boolean =
      payload.length >= 4 &&
        (payload.startsWith(PngMagic) || payload.startsWith(JpegMagic) ||
          (payload(0) == 'G' && payload(1) == 'I' && payload(2) == 'F') ||
          (payload(0) == 'B' && payload(1) == 'M'))

    /** (width, height, n_channels) from the real image header; None when no
      * installed reader recognizes the payload (caller falls back to the
      * stub). */
    def decodeMeta(payload: Array[Byte]): Option[(Int, Int, Int)] = {
      val in = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      if (in == null) return None
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(in)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(in)
            val w = r.getWidth(0)
            val h = r.getHeight(0)
            val types = r.getImageTypes(0)
            val ch =
              if (types.hasNext) types.next().getColorModel.getNumComponents
              else 3
            Some((w, h, ch))
          } finally r.dispose()
        }
      } catch {
        // truncated/corrupt header: the JDK readers throw RuntimeExceptions
        // (IndexOutOfBounds, IllegalArgument, NegativeArraySize, CMM...)
        // on garbage fields, not just IOException — one bad payload in a
        // 100 TB corpus must fall back to the stub, not kill the job
        case scala.util.control.NonFatal(_) => None
      } finally in.close()
    }

    /** REAL image feature extraction (JDK-only): a grid color-layout
      * descriptor — the image is decoded, bilinearly collapsed onto a
      * gw×gh grid, and each cell contributes its mean R,G,B in [0,1].
      * The grid is the largest gw×gh (gw ≥ gh, as square as possible)
      * with 3·gw·gh ≤ dim, so every cell lands COMPLETE in the output
      * (truncating cell channels would skew the descriptor toward the
      * top-left) while small dims still keep horizontal layout (dim=8 →
      * a 2×1 grid, not a single global mean); the tail is zero padding.
      * Deterministic and cheap; the classic pre-embedding baseline
      * descriptor. Returns None when no installed reader decodes the
      * payload (caller falls back to the byte-moment stub). */
    def features(payload: Array[Byte], dim: Int): Option[Array[Float]] = {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) None else Some(gridDescriptor(img, dim))
    }

    /** The descriptor body over an already-decoded raster — shared with
      * [[VideoCodec.features]], whose DIB frame decode produces a
      * BufferedImage without going through ImageIO. */
    private[llm] def gridDescriptor(
        img: java.awt.image.BufferedImage, dim: Int): Array[Float] = {
      import java.awt.image.BufferedImage
      val cells = math.max(1, dim / 3)
      val gh = math.max(1, math.sqrt(cells.toDouble).toInt)
      val gw = math.max(1, cells / gh)
      val grid = new BufferedImage(gw, gh, BufferedImage.TYPE_INT_RGB)
      val gg = grid.createGraphics()
      try {
        gg.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        gg.drawImage(img, 0, 0, gw, gh, null)
      } finally gg.dispose()
      val out = new Array[Float](dim)
      var i = 0
      while (i < gw * gh) {
        val rgb = grid.getRGB(i % gw, i / gw)
        val base = i * 3
        // guards only bite for dim < 3 (cells is clamped to >= 1 there)
        if (base < dim) out(base) = ((rgb >> 16) & 0xff) / 255.0f
        if (base + 1 < dim) out(base + 1) = ((rgb >> 8) & 0xff) / 255.0f
        if (base + 2 < dim) out(base + 2) = (rgb & 0xff) / 255.0f
        i += 1
      }
      out
    }

    /** REAL pixel-domain downscale (JDK-only: `java.awt.image`): full
      * decode → integer-factor bilinear resample → re-encode in the SOURCE
      * format. Returns None when no installed reader/writer handles the
      * payload (caller falls back to the stub). Unlike [[decodeMeta]] this
      * decodes the whole raster — it is the transform body, not a header
      * peek. Headless-safe: `BufferedImage`/`Graphics2D` never touch a
      * display. */
    def resize(payload: Array[Byte], factor: Int): Option[Array[Byte]] = {
      import java.awt.image.BufferedImage
      val in = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      if (in == null) return None
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(in)
        if (!readers.hasNext) return None
        val r = readers.next()
        try {
          r.setInput(in)
          val fmt = r.getFormatName.toLowerCase(java.util.Locale.ROOT)
          val img = r.read(0)
          val w = math.max(1, img.getWidth / factor)
          val h = math.max(1, img.getHeight / factor)
          // jpeg/bmp writers reject alpha rasters; everything else keeps it
          val outType =
            if (fmt == "jpeg" || fmt == "jpg" || fmt == "bmp")
              BufferedImage.TYPE_INT_RGB
            else BufferedImage.TYPE_INT_ARGB
          val scaled = new BufferedImage(w, h, outType)
          val g = scaled.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, w, h, null)
          } finally g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          if (javax.imageio.ImageIO.write(scaled, fmt, bos)) Some(bos.toByteArray)
          else None
        } finally r.dispose()
      } catch {
        case scala.util.control.NonFatal(_) => None // same rationale as decodeMeta
      } finally in.close()
    }
  }

  /** REAL audio metadata, features, and frame sampling via the JDK's
    * `javax.sound.sampled` (WAV / AIFF / AU — zero new dependencies).
    * Metadata is header-only (`getAudioFileFormat` parses the container,
    * never the sample data); features decode PCM once per row. Compressed
    * codecs (mp3/aac) have no JDK reader and fall back to the stub. */
  object AudioCodec {

    /** Magic-byte sniff mirroring [[ImageCodec.looksLikeImage]]: RIFF/WAVE,
      * FORM/AIFF(-C), or Sun `.snd`. Text/doc payloads can never match. */
    def looksLikeAudio(payload: Array[Byte]): Boolean = {
      def tag(off: Int, s: String): Boolean =
        payload.length >= off + 4 && s.indices.forall(i => payload(off + i) == s(i).toByte)
      (tag(0, "RIFF") && tag(8, "WAVE")) ||
        (tag(0, "FORM") && (tag(8, "AIFF") || tag(8, "AIFC"))) ||
        tag(0, ".snd")
    }

    /** Meta-struct convention for audio (the struct is image-shaped):
      * width := sample rate in Hz, height := bits per sample,
      * n_channels := channels, duration_ms := frames/rate. None when no
      * installed reader recognizes the payload. */
    def decodeMeta(payload: Array[Byte]): Option[(Int, Int, Int, Long)] =
      try {
        val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
          new java.io.ByteArrayInputStream(payload))
        val fmt = aff.getFormat
        val rate = fmt.getSampleRate
        val frames = aff.getFrameLength.toLong
        val durMs =
          if (rate > 0 && frames >= 0) (frames * 1000L / rate.toLong) else 0L
        Some((rate.toInt, fmt.getSampleSizeInBits, fmt.getChannels, durMs))
      } catch {
        // unsupported/corrupt container — same fall-back rationale as
        // ImageCodec.decodeMeta (one bad payload must not kill the job)
        case scala.util.control.NonFatal(_) => None
      }

    /** Decode the payload to mono double samples in [-1, 1] (PCM 16-bit
      * little-endian via the JDK's format-conversion chain). */
    private def monoSamples(payload: Array[Byte]): Option[Array[Double]] =
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val src = ais.getFormat
          val pcmFmt = new javax.sound.sampled.AudioFormat(
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            src.getSampleRate, 16, src.getChannels,
            src.getChannels * 2, src.getSampleRate, false)
          val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(pcmFmt, ais)
          try {
            val bytes = pcm.readAllBytes()
            val ch = src.getChannels
            val n = bytes.length / 2 / ch
            val out = new Array[Double](n)
            var i = 0
            while (i < n) {
              var acc = 0.0
              var c = 0
              while (c < ch) {
                val off = (i * ch + c) * 2
                val s = ((bytes(off + 1) << 8) | (bytes(off) & 0xff)).toShort
                acc += s / 32768.0
                c += 1
              }
              out(i) = acc / ch
              i += 1
            }
            Some(out)
          } finally pcm.close()
        } finally ais.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** REAL audio feature extraction: RMS energy over `dim` equal sample
      * windows — the classic pre-embedding loudness-envelope descriptor.
      * Deterministic; empty windows read 0. */
    def features(payload: Array[Byte], dim: Int): Option[Array[Float]] =
      monoSamples(payload).map { samples =>
        val out = new Array[Float](dim)
        if (samples.nonEmpty) {
          val win = math.max(1, (samples.length + dim - 1) / dim)
          var w = 0
          while (w < dim) {
            val from = w * win
            val to = math.min(samples.length, from + win)
            if (from < to) {
              var acc = 0.0
              var i = from
              while (i < to) { acc += samples(i) * samples(i); i += 1 }
              out(w) = math.sqrt(acc / (to - from)).toFloat
            }
            w += 1
          }
        }
        out
      }

    /** REAL frame sampling for audio: the sample-frame index at every
      * `everyMs` step of the clip (bounded like the stub's 32). The range
      * is EXCLUSIVE of durMs: ms < durMs guarantees ms·rate/1000 <
      * frameLength, so every emitted index is a readable frame, and a
      * KNOWN-zero-length clip emits none (matching the stub's `until`).
      * A container with an UNSPECIFIED frame length (legal in streaming
      * AU headers) is indistinguishable from empty here, so it falls back
      * to the stub (None) rather than silently emitting nothing. */
    def sampleFrameOffsets(payload: Array[Byte], everyMs: Long): Option[Seq[Long]] =
      try {
        val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
          new java.io.ByteArrayInputStream(payload))
        val rate = aff.getFormat.getSampleRate
        val frames = aff.getFrameLength.toLong
        if (rate <= 0 || frames < 0) None // unknown length → stub fallback
        else {
          val durMs = frames * 1000L / rate.toLong
          val step = math.max(everyMs, 1L)
          Some((0L until durMs by step).take(32).map(ms => ms * rate.toLong / 1000L))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** REAL video container metadata via a minimal RIFF/AVI header parse —
    * pure JVM, because METADATA needs no codec: the `avih` chunk
    * (MainAVIHeader, the public AVI RIFF layout) carries geometry, stream
    * count, total frames and the per-frame period. Pixel decode is REAL
    * for UNCOMPRESSED (BI_RGB 24-bit) streams — `db` chunks are plain
    * bottom-up DIB rasters, no codec needed — and for MJPEG streams,
    * whose `dc` chunks are complete JPEGs `javax.imageio` decodes
    * ([[firstFrame]]); other compressed codecs stay stubbed, those
    * genuinely need a decoder the JDK and this offline container lack. */
  object VideoCodec {

    def looksLikeVideo(p: Array[Byte]): Boolean =
      p.length >= 12 &&
        p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'A' && p(9) == 'V' && p(10) == 'I' && p(11) == ' '

    private def u32le(p: Array[Byte], i: Int): Long =
      (p(i) & 0xffL) | ((p(i + 1) & 0xffL) << 8) |
        ((p(i + 2) & 0xffL) << 16) | ((p(i + 3) & 0xffL) << 24)

    /** Offset of the MainAVIHeader DATA (past the `avih` fourcc + cb).
      * A bounded linear scan of the header region instead of a strict
      * LIST-nesting walk: robust to writer quirks, and the header sits in
      * the first bytes, so the cost per row is a few hundred comparisons. */
    private def avihOffset(p: Array[Byte]): Option[Int] = {
      var i = 12
      val lim = math.min(p.length - 44, 4096)
      while (i < lim) {
        if (p(i) == 'a' && p(i + 1) == 'v' && p(i + 2) == 'i' &&
          p(i + 3) == 'h') return Some(i + 8)
        i += 1
      }
      None
    }

    /** (usPerFrame, totalFrames, streams, width, height) or None. */
    private def header(p: Array[Byte]): Option[(Long, Long, Int, Int, Int)] =
      if (!looksLikeVideo(p)) None
      else avihOffset(p).flatMap { o =>
        if (o + 40 > p.length) None
        else {
          val usPerFrame = u32le(p, o)
          val totalFrames = u32le(p, o + 16)
          val streams = u32le(p, o + 24).toInt
          val w = u32le(p, o + 32).toInt
          val h = u32le(p, o + 36).toInt
          if (w <= 0 || h <= 0) None
          else Some((usPerFrame, totalFrames, math.max(streams, 1), w, h))
        }
      }

    /** Clip length in ms, or None when `frames * usf` would overflow Long
      * (a hostile header with both fields at 0xFFFFFFFF passes the
      * geometry guard but its product exceeds Long.MaxValue — the
      * overflow would otherwise surface as a NEGATIVE duration instead
      * of the stub fallback every other malformed payload gets). */
    private def durationMs(usf: Long, frames: Long): Option[Long] =
      if (frames == 0L) Some(0L)
      else if (usf > Long.MaxValue / frames) None
      else Some(frames * usf / 1000L)

    /** (width, height, n_streams, duration_ms) from the real header. */
    def decodeMeta(p: Array[Byte]): Option[(Int, Int, Int, Long)] =
      header(p).flatMap { case (usf, frames, streams, w, h) =>
        durationMs(usf, frames).map(d => (w, h, streams, d))
      }

    /** REAL frame indices at every `everyMs` of the clip's timeline
      * (index = ms / frame period), capped like the audio path. Follows
      * the audio convention: a KNOWN zero-length clip (dwTotalFrames=0)
      * emits NO frames (Some(empty)); only an unparseable/overflowing
      * header returns None for the stub fallback. */
    def sampleFrameOffsets(p: Array[Byte], everyMs: Long): Option[Seq[Long]] =
      header(p).flatMap { case (usf, frames, _, _, _) =>
        if (usf <= 0) None // unknown frame period → malformed → stub
        else durationMs(usf, frames).map { durMs =>
          val step = math.max(everyMs, 1L)
          (0L until durMs by step).take(32).map(ms => ms * 1000L / usf)
        }
      }

    /** The VIDEO stream's BITMAPINFOHEADER: (width, height, bitCount,
      * biCompression). Streams are writer-ordered (audio-first is legal),
      * so the scan anchors on the `strh` whose fccType is `vids` and takes
      * the NEXT `strf` — a blind first-strf scan would misparse an
      * audio stream's WAVEFORMATEX as a bitmap header. Same bounded
      * linear-scan rationale as [[avihOffset]]. */
    private def strfHeader(p: Array[Byte]): Option[(Int, Int, Int, Long)] = {
      var i = 12
      val lim = math.min(p.length - 48, 8192)
      var inVids = false
      while (i < lim) {
        if (p(i) == 's' && p(i + 1) == 't' && p(i + 2) == 'r' &&
          p(i + 3) == 'h' && i + 12 <= p.length) {
          inVids = p(i + 8) == 'v' && p(i + 9) == 'i' &&
            p(i + 10) == 'd' && p(i + 11) == 's'
        }
        if (inVids && p(i) == 's' && p(i + 1) == 't' && p(i + 2) == 'r' &&
          p(i + 3) == 'f') {
          val o = i + 8 // past fourcc + cb
          return if (o + 40 > p.length) None
          else Some((u32le(p, o + 4).toInt, u32le(p, o + 8).toInt,
            (p(o + 14) & 0xff) | ((p(o + 15) & 0xff) << 8),
            u32le(p, o + 16)))
        }
        i += 1
      }
      None
    }

    /** biCompression fourccs of Motion-JPEG streams ('MJPG' and the
      * lowercase variant some writers emit), little-endian u32. */
    private val MjpgCodes = Set(0x47504A4DL, 0x67706A6DL)

    /** First frame of an AVI the JVM can decode without an external codec:
      *  - UNCOMPRESSED (BI_RGB, 24-bit): `db` chunks are plain bottom-up
      *    BGR DIB rasters — what raw-capture/intermediate AVIs ship;
      *  - MJPEG ('MJPG'): each `dc` chunk is a complete baseline JPEG,
      *    which `javax.imageio` decodes — the one COMPRESSED codec with a
      *    JDK decoder. Legacy tables-omitted frames decode too: the
      *    Annex-K standard Huffman tables are spliced before SOS (the
      *    MJPEG spec's mandated default).
      * Anything else (mpeg4/h264/... `dc` streams) falls back to the stub.
      * The 16 MP cap bounds per-frame allocation against hostile headers. */
    def firstFrame(p: Array[Byte]): Option[java.awt.image.BufferedImage] = {
      if (!looksLikeVideo(p)) return None
      strfHeader(p) match {
        case Some((w, h, 24, 0L)) if w > 0 && h > 0 && w.toLong * h <= 16000000L =>
          firstMoviChunk(p, 'd', 'b').flatMap { case (off, len) =>
            decodeDib(p, off, len, w, h)
          }
        case Some((w, h, _, comp)) if MjpgCodes(comp) &&
          w > 0 && h > 0 && w.toLong * h <= 16000000L =>
          firstMoviChunk(p, 'd', 'c').flatMap { case (off, len) =>
            decodeJpegFrame(p, off, len)
          }
        case _ => None
      }
    }

    /** Offset and length of the first `##<c2><c3>` payload chunk inside
      * the `movi` LIST (the two-char suffix selects `db` raw frames or
      * `dc` compressed frames). ALL size arithmetic in Long: a hostile
      * chunk size near 2^31 would wrap Int bounds checks true and the
      * chunk advance negative — an AIOOBE instead of the stub fallback.
  *
  * DECLARED BOUNDARY (round 13): non-MJPEG compressed video (mpeg4/h264
  * `dc` streams) is permanently ENVIRONMENT-scoped, not a backlog item.
  * A pure-JVM MPEG-4 Part 2 intra decoder is public-spec (ISO/IEC
  * 14496-2) but validating one offline requires also writing the
  * matching encoder (no sample bitstreams and no JDK codec exist in this
  * container) — ~1k lines of VLC tables + DCT whose only test would be
  * its own inverse. In production, bind a real codec (JavaCV/ffmpeg)
  * behind [[VideoCodec.firstFrame]]'s Option seam: every caller already
  * handles the None fallback, so the binding is a drop-in. */
    private def firstMoviChunk(p: Array[Byte], c2: Char, c3: Char): Option[(Int, Int)] = {
      var i = 12
      while (i + 12 <= p.length) {
        if (p(i) == 'L' && p(i + 1) == 'I' && p(i + 2) == 'S' &&
          p(i + 3) == 'T' && p(i + 8) == 'm' && p(i + 9) == 'o' &&
          p(i + 10) == 'v' && p(i + 11) == 'i') {
          val listEnd = math.min(p.length.toLong, i + 8 + u32le(p, i + 4))
          var j = i.toLong + 12
          while (j + 8 <= listEnd) {
            val ji = j.toInt
            val sz = u32le(p, ji + 4)
            if (p(ji + 2) == c2 && p(ji + 3) == c3 && sz > 0 &&
              j + 8 + sz <= p.length) {
              return Some((ji + 8, sz.toInt))
            }
            j += 8 + sz + (sz & 1) // chunks are word-aligned
          }
          return None
        }
        i += 1
      }
      None
    }

    /** One MJPEG frame = one complete JPEG byte stream. Sniff the SOI
      * marker first so garbage takes the stub path instead of an ImageIO
      * exception per row. The 16 MP cap is re-checked against the JPEG's
      * OWN header dimensions (header-only read, like
      * [[ImageCodec.decodeMeta]]) — the AVI strf header already passed the
      * cap upstream, but a hostile frame whose embedded SOF claims huge
      * dimensions would otherwise drive the full-decode allocation past
      * it. Legacy MJPEG frames that OMIT the Huffman tables (the original
      * Microsoft MJPEG spec says decoders must assume the fixed tables of
      * ITU T.81 Annex K) get the standard DHT segment spliced in before
      * SOS — `javax.imageio` alone would throw "Huffman table was not
      * defined". */
    private def decodeJpegFrame(p: Array[Byte], off: Int,
        len: Int): Option[java.awt.image.BufferedImage] = {
      if (len < 4 || (p(off) & 0xff) != 0xFF || (p(off + 1) & 0xff) != 0xD8)
        return None
      val frame = java.util.Arrays.copyOfRange(p, off, off + len)
      ImageCodec.decodeMeta(frame) match {
        case Some((jw, jh, _)) if jw > 0 && jh > 0 &&
          jw.toLong * jh <= 16000000L =>
          Option(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(withHuffmanTables(frame))))
        case _ => None
      }
    }

    /** Walk the frame's marker segments up to SOS; if no DHT (0xFFC4) is
      * present, return a copy with the Annex-K standard tables spliced
      * immediately before SOS. A malformed segment walk (lost marker
      * sync, truncated length) returns the frame unchanged — ImageIO then
      * fails it into the per-row catch, same as any corrupt payload. */
    private[graft] def withHuffmanTables(frame: Array[Byte]): Array[Byte] = {
      var i = 2
      while (i + 4 <= frame.length) {
        if ((frame(i) & 0xff) != 0xFF) return frame // lost marker sync
        (frame(i + 1) & 0xff) match {
          case 0xFF => i += 1 // fill byte
          case 0xC4 => return frame // tables present — decode as-is
          case 0xDA => // SOS with no DHT seen: splice the standard tables
            val out = new Array[Byte](frame.length + StdDht.length)
            System.arraycopy(frame, 0, out, 0, i)
            System.arraycopy(StdDht, 0, out, i, StdDht.length)
            System.arraycopy(frame, i, out, i + StdDht.length, frame.length - i)
            return out
          case _ =>
            i += 2 + (((frame(i + 2) & 0xff) << 8) | (frame(i + 3) & 0xff))
        }
      }
      frame
    }

    /** The fixed Huffman tables of ITU T.81 Annex K (tables K.3–K.6) as
      * one DHT segment — DC/AC, luminance/chrominance. These are the
      * tables every baseline encoder ships and the MJPEG spec mandates
      * for tables-omitted frames. */
    private lazy val StdDht: Array[Byte] = {
      val dcLumBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
      val dcChrBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
      val dcVals = (0 to 11).toArray
      val acLumBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
      val acLumVals = Array(
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
        0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
        0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
        0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
        0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
        0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)
      val acChrBits = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
      val acChrVals = Array(
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15,
        0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17,
        0x18, 0x19, 0x1a, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
        0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5,
        0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
        0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9,
        0xda, 0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2,
        0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)
      val payload = new java.io.ByteArrayOutputStream()
      def table(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Unit = {
        payload.write((cls << 4) | id)
        bits.foreach(payload.write)
        vals.foreach(payload.write)
      }
      table(0, 0, dcLumBits, dcVals)
      table(0, 1, dcChrBits, dcVals)
      table(1, 0, acLumBits, acLumVals)
      table(1, 1, acChrBits, acChrVals)
      val body = payload.toByteArray
      val segLen = body.length + 2
      Array[Byte](0xFF.toByte, 0xC4.toByte,
        ((segLen >> 8) & 0xff).toByte, (segLen & 0xff).toByte) ++ body
    }

    private def decodeDib(p: Array[Byte], off: Int, len: Int,
        w: Int, h: Int): Option[java.awt.image.BufferedImage] = {
      import java.awt.image.BufferedImage
      val stride = ((w * 3 + 3) / 4) * 4
      if (len < stride.toLong * h) return None
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        val row = off + (h - 1 - y) * stride // bottom-up
        var x = 0
        while (x < w) {
          val b = p(row + x * 3) & 0xff
          val g = p(row + x * 3 + 1) & 0xff
          val r = p(row + x * 3 + 2) & 0xff
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      Some(img)
    }

    /** REAL video feature extraction for JDK-decodable AVIs (uncompressed
      * BI_RGB + MJPEG): the shared
      * grid color-layout descriptor over the decoded first frame. Catches
      * like the image/audio codecs: one malformed payload in a 100 TB
      * corpus falls back to the stub, it does not kill the task. */
    def features(p: Array[Byte], dim: Int): Option[Array[Float]] =
      try firstFrame(p).map(ImageCodec.gridDescriptor(_, dim))
      catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Metadata dispatch: real `javax.imageio` / `javax.sound.sampled` /
    * RIFF-header decode for image/audio/video payloads (by mime or magic
    * bytes), deterministic stub for everything else (text fixtures keep
    * the stub's oracle-checkable geometry). Real images report duration
    * 0; audio maps (rate, bits, channels, duration) onto the image-shaped
    * struct — see [[AudioCodec.decodeMeta]]; video reports (width,
    * height, n_streams, duration). */
  def decodeMeta(payload: Array[Byte], mime: String): (Int, Int, Int, Long) = {
    // orElse chain, not if/else-if: a payload whose FIRST matching family
    // fails to parse still gets the other real parsers before the stub —
    // e.g. the real-world legacy mime "audio/avi" names an AVI container,
    // which the audio decoder rejects but the RIFF video sniff handles
    val real =
      (if (isImagePayload(payload, mime))
         ImageCodec.decodeMeta(payload).map { case (w, h, c) => (w, h, c, 0L) }
       else None)
        .orElse(if (isAudioPayload(payload, mime))
          AudioCodec.decodeMeta(payload) else None)
        .orElse(if (isVideoPayload(payload, mime))
          VideoCodec.decodeMeta(payload) else None)
    real.getOrElse(StubCodecs.decodeMeta(payload))
  }

  private def isImagePayload(payload: Array[Byte], mime: String): Boolean =
    (mime != null && mime.startsWith("image/")) ||
      ImageCodec.looksLikeImage(payload)

  private def isAudioPayload(payload: Array[Byte], mime: String): Boolean =
    (mime != null && mime.startsWith("audio/")) ||
      AudioCodec.looksLikeAudio(payload)

  private def isVideoPayload(payload: Array[Byte], mime: String): Boolean =
    (mime != null && mime.startsWith("video/")) ||
      VideoCodec.looksLikeVideo(payload)

  /** STUB decode: deterministic pseudo-metadata from the payload bytes.
    * A real implementation decodes the container header here. The geometry
    * constants are shared with the i4 query + its oracle SQL (LlmOps) —
    * one definition, three consumers. */
  object StubCodecs {
    val SizeBase = 64
    val WidthMod = 577
    val HeightDiv = 7
    val HeightMod = 431

    def decodeMeta(payload: Array[Byte]): (Int, Int, Int, Long) = {
      val n = payload.length
      val w = SizeBase + (n % WidthMod)
      val h = SizeBase + ((n / HeightDiv) % HeightMod)
      (w, h, 3, n.toLong) // width, height, channels, fake duration
    }

    /** STUB feature extraction: 8 deterministic moments over byte windows —
      * stands in for a CNN/audio embedding. Real impl: model inference per
      * batch. */
    def features(payload: Array[Byte], dim: Int = 8): Array[Float] = {
      val out = new Array[Float](dim)
      if (payload.isEmpty) return out
      var i = 0
      while (i < payload.length) {
        out(i % dim) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      val norm = payload.length.toFloat / dim
      (0 until dim).foreach(j => out(j) /= norm)
      out
    }

    /** STUB resize: keeps a deterministic byte subsample standing in for a
      * pixel-domain downscale. */
    def resize(payload: Array[Byte], factor: Int): Array[Byte] =
      payload.zipWithIndex.collect { case (b, i) if i % factor == 0 => b }

    /** STUB frame sampling: fixed-stride offsets standing in for video
      * keyframe extraction. */
    def sampleFrameOffsets(payloadLen: Long, everyMs: Long): Seq[Long] =
      (0L until payloadLen by Math.max(everyMs, 1L)).take(32)
  }

  /** I4f — perceptual average-hash plumbing. `syntheticBmp` renders 64
    * gray values as a REAL 8×8 24-bpp BMP (bottom-up rows per the spec;
    * 24-byte rows need no padding), and `decodeGray64` reads it back
    * through the actual `ImageIO` BMP codec — so a hash built on top of
    * the pair exercises the true decode path end to end, while the gray
    * values themselves stay a pure function the DuckDB oracle can
    * recompute arithmetically. The luma formula (299r+587g+114b)/1000 is
    * exact on the gray ramp (r=g=b ⇒ luma == v), so decode introduces no
    * rounding to pin down. */
  def syntheticBmp(gray64: Array[Int]): Array[Byte] = {
    require(gray64.length == 64, s"need 64 pixels, got ${gray64.length}")
    val rowBytes = 8 * 3
    val dataSize = rowBytes * 8
    val fileSize = 54 + dataSize
    val b = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(fileSize)
      .putShort(0).putShort(0).putInt(54)
    b.putInt(40).putInt(8).putInt(8) // BITMAPINFOHEADER, 8x8
      .putShort(1).putShort(24).putInt(0).putInt(dataSize)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    var fileRow = 0
    while (fileRow < 8) {
      val imgRow = 7 - fileRow // BMP rows run bottom-up
      var c = 0
      while (c < 8) {
        val v = (gray64(imgRow * 8 + c) & 0xff).toByte
        b.put(v).put(v).put(v) // BGR, all channels = gray
        c += 1
      }
      fileRow += 1
    }
    b.array()
  }

  /** REAL decode of a [[syntheticBmp]] payload back to its 64 grays
    * (row-major, top-down) via `ImageIO` + integer luma. Throws on a
    * payload the JDK can't decode — these payloads are self-generated,
    * so failure is a bug, not data noise. */
  def decodeGray64(bmp: Array[Byte]): Array[Int] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))
    require(img != null && img.getWidth == 8 && img.getHeight == 8,
      "synthetic BMP failed to decode")
    Array.tabulate(64) { i =>
      val rgb = img.getRGB(i % 8, i / 8)
      val (r, g, bl) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
      (299 * r + 587 * g + 114 * bl) / 1000
    }
  }

  /** Wrap a text/doc table as a media table (payload = UTF-8 bytes): the
    * fixture path used by tests and the oracle queries. */
  def docsAsMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      lit("application/octet-stream").as("mime"),
      encode(col("text"), "UTF-8").as("payload"))

  /** I4c — payload resize: REAL pixel-domain downscale for payloads the
    * JDK can decode (PNG/JPEG/GIF/BMP via [[ImageCodec.resize]]),
    * deterministic byte-subsample stub for everything else (audio/video
    * codecs don't exist offline). Same per-partition batch shape as
    * [[extractFeatures]]; output keeps the original columns with the
    * payload replaced and the resize factor recorded. */
  def resizePayloads(media: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"resize factor must be >= 1: $factor")
    val spark = media.sparkSession
    val payloadIdx = media.schema.fieldIndex("payload")
    val mimeIdx = media.schema.fieldNames.indexOf("mime")
    val outSchema = StructType(
      media.schema.fields.patch(payloadIdx,
        Seq(StructField("payload", BinaryType, nullable = false)), 1) :+
        StructField("resize_factor", IntegerType, nullable = false))
    val rdd = media.rdd.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val mime = if (mimeIdx >= 0) r.getString(mimeIdx) else null
        val resized =
          (if (isImagePayload(payload, mime)) ImageCodec.resize(payload, factor)
           else None)
            .getOrElse(StubCodecs.resize(payload, factor))
        Row.fromSeq(r.toSeq.updated(payloadIdx, resized) :+ factor)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** I4d — frame sampling: REAL for audio payloads (sample-frame index at
    * every `everyMs` of the clip, [[AudioCodec.sampleFrameOffsets]]) and
    * AVI video payloads (frame index on the real timeline from the parsed
    * frame period, [[VideoCodec.sampleFrameOffsets]]); byte-stride stub
    * otherwise. One output row per sampled offset, exploded from each
    * payload; `frame_offset` is codec-specific (audio: sample-frame
    * index, video: frame index, stub: byte offset). posexplode indexes
    * each payload's (already-ordered) offsets directly — a window would
    * add a shuffle and mis-number duplicate media ids. */
  def sampleFrames(media: DataFrame, everyMs: Long): DataFrame = {
    val offsets = udf((payload: Array[Byte], mime: String) =>
      // same orElse rationale as decodeMeta ("audio/avi" mime on a RIFF
      // video container must still reach the video parser)
      (if (isAudioPayload(payload, mime))
         AudioCodec.sampleFrameOffsets(payload, everyMs)
       else None)
        .orElse(if (isVideoPayload(payload, mime))
          VideoCodec.sampleFrameOffsets(payload, everyMs) else None)
        .getOrElse(StubCodecs.sampleFrameOffsets(payload.length.toLong, everyMs)))
    val mimeCol =
      if (media.schema.fieldNames.contains("mime")) col("mime")
      else lit(null).cast("string")
    media.select(col("*"),
      posexplode(offsets(col("payload"), mimeCol))
        .as(Seq("frame_idx", "frame_offset")))
  }

  /** Decode + feature-extract over per-partition batches (the
    * `mapInPandas`-equivalent shape in Scala: one iterator pass per
    * partition, vectorizable batch body). */
  def extractFeatures(media: DataFrame, dim: Int = 8): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(media.schema.fields ++ Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_channels", IntegerType),
      StructField("duration_ms", LongType),
      StructField("features", ArrayType(FloatType))))
    val payloadIdx = media.schema.fieldIndex("payload")
    val mimeIdx = media.schema.fieldNames.indexOf("mime")
    val rdd = media.rdd.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val mime = if (mimeIdx >= 0) r.getString(mimeIdx) else null
        val (w, h, c, d) = decodeMeta(payload, mime)
        // image payloads get the REAL grid color-layout descriptor, audio
        // the REAL RMS-window envelope, uncompressed AVIs the descriptor
        // over their REAL decoded first frame; compressed video and doc
        // payloads keep the deterministic byte-moment stub
        val feats =
          (if (isImagePayload(payload, mime)) ImageCodec.features(payload, dim)
           else if (isAudioPayload(payload, mime)) AudioCodec.features(payload, dim)
           else if (isVideoPayload(payload, mime)) VideoCodec.features(payload, dim)
           else None)
            .getOrElse(StubCodecs.features(payload, dim))
        Row.fromSeq(r.toSeq ++ Seq(w, h, c, d, feats.toSeq))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
