package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Tier C — multimodal columns (SURVEY §2 Tier C / builder contract):
 * image/audio/video as opaque `binary` columns with typed metadata.
 *
 * All three kinds decode FOR REAL, pure JVM:
 *  - images: PNG/BMP/GIF/JPEG via `javax.imageio` — true pixel
 *    dimensions and an 8-bin luminance fold over the actual pixels;
 *  - audio: PCM WAV via `javax.sound.sampled` — true frame count /
 *    sample rate and an 8-bin RMS fold over the actual samples;
 *  - video: RIFF/AVI via a chunk-tree parser in this file — true
 *    dimensions and frame count from the `avih`/`strf` headers, and a
 *    per-frame luminance fold over the actual pixels. Uncompressed
 *    (`00db` BGR24 DIB) frames are read directly; codec'd (`00dc`)
 *    frames go through `javax.imageio` (covers MJPEG, whose frames
 *    are JFIF/JPEG — the one video codec the JDK can decode).
 * [[decodeFold]] remains only as the fallback for bytes a kind's
 * decoder cannot parse. The distribution plumbing — the schema, the
 * `Dataset[T]` encoders, the per-partition batched decode shape
 * (batches of [[batchSize]], the same contract a `mapInPandas`/Arrow
 * decode would use), partitioning, and the aggregation — is shared by
 * all kinds and tested independently of any one decoder.
 */
object Multimodal {

  /** Batch shape for the partition-wise decode — mirrors an Arrow batch
    * boundary; a real decoder would process one batch per library call. */
  val batchSize = 64

  final case class MediaDoc(
      doc_id: Long, kind: String, media: Array[Byte],
      width: Int, height: Int, sample_rate: Int)

  /** decoded_w/decoded_h are the REAL decoded dimensions: pixel
    * width/height for images, (frame count, sample rate) for audio;
    * −1 when the byte-fold stub handled the row (video, or bytes the
    * kind's decoder could not parse). */
  final case class MediaFeatures(
      doc_id: Long, kind: String, n_bytes: Int,
      decoded_w: Int, decoded_h: Int, features: Array[Float])

  /** Synthesized-BMP shape: 24-bit bottom-up DIB, fixed dims → a fixed
    * 54 + rows byte payload (row stride 3·[[bmpW]] is already
    * 4-aligned at 24). */
  val bmpW = 24
  val bmpH = 16
  val bmpBytes: Int = 54 + bmpH * (bmpW * 3)

  /** A REAL 24-bit BMP whose pixels are the [[vidRgb]] gradient at
    * frame 0 — deterministic stand-in image content any BMP reader
    * (including `javax.imageio`) decodes. Pure byte building. */
  def synthBmp(docId: Long): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(bmpBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte); bb.put('M'.toByte)
    bb.putInt(bmpBytes); bb.putInt(0); bb.putInt(54)
    bb.putInt(40); bb.putInt(bmpW); bb.putInt(bmpH) // positive height → bottom-up
    bb.putShort(1); bb.putShort(24); bb.putInt(0)
    bb.putInt(bmpH * bmpW * 3); bb.putInt(2835); bb.putInt(2835)
    bb.putInt(0); bb.putInt(0)
    var y = bmpH - 1
    while (y >= 0) {
      var x = 0
      while (x < bmpW) {
        val rgb = vidRgb(docId, 0, x, y)
        bb.put((rgb & 0xff).toByte)
        bb.put(((rgb >> 8) & 0xff).toByte)
        bb.put(((rgb >> 16) & 0xff).toByte)
        x += 1
      }
      y -= 1
    }
    bb.array()
  }

  /** Synthesized-WAV shape: 16-bit mono PCM, [[wavRate]] Hz,
    * [[wavFrames]] frames → a fixed 44 + 2·frames byte payload. */
  val wavRate = 8000
  val wavFrames = 400
  val wavBytes: Int = 44 + 2 * wavFrames

  /** A REAL little-endian RIFF/WAVE file: 16-bit mono PCM sine whose
    * frequency and amplitude derive from the doc id — deterministic
    * stand-in audio content that any WAV reader (including
    * `javax.sound.sampled`) parses. Pure byte building, no libraries. */
  def synthWav(docId: Long): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(wavBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val dataLen = 2 * wavFrames
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(wavRate)
      .putInt(wavRate * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    val freq = 200.0 + (docId % 100) * 10.0
    val amp = 8000.0 + (docId % 7) * 1000.0
    var i = 0
    while (i < wavFrames) {
      bb.putShort(math.round(amp * math.sin(2 * math.Pi * freq * i / wavRate)).toShort)
      i += 1
    }
    bb.array()
  }

  /** Synthesized-AVI shape: [[vidFrames]] uncompressed BGR24 frames of
    * [[vidW]]×[[vidH]] at 10 fps. Every chunk is fixed-size, so the
    * container length is a constant the metadata oracle can state. */
  val vidW = 24
  val vidH = 16
  val vidFrames = 8
  val vidFrameBytes: Int = vidW * vidH * 3 // row stride 72 is 4-aligned: no pad
  // RIFF hdr + LIST hdrl (avih + LIST strl (strh + strf)) + LIST movi
  private val aviHdrlBytes = 12 + (8 + 56) + (12 + (8 + 56) + (8 + 40))
  val aviBytes: Int = 12 + aviHdrlBytes + 12 + vidFrames * (8 + vidFrameBytes)

  /** Deterministic frame content: the 0xRRGGBB pixel at (x, y) of frame
    * `frame` for document `docId` — a drifting gradient, so features are
    * content- AND frame-order-derived. Public so specs can recompute. */
  def vidRgb(docId: Long, frame: Int, x: Int, y: Int): Int = {
    val r = (x * 11 + frame * 17 + (docId % 97).toInt * 3) % 256
    val g = (y * 13 + frame * 5 + (docId % 89).toInt * 7) % 256
    val b = (x + y * 2 + frame * 29) % 256
    (r << 16) | (g << 8) | b
  }

  /** A REAL little-endian RIFF/AVI file: `avih` + `strh`/`strf` headers
    * (vids / DIB / BI_RGB 24-bit) and a `movi` list of `00db` chunks
    * holding bottom-up BGR24 frames — the standard uncompressed-AVI
    * layout any AVI reader parses. Pure byte building, no libraries. */
  def synthAvi(docId: Long): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(aviBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(s: String): Unit = { bb.put(s.getBytes("US-ASCII")); () }
    cc("RIFF"); bb.putInt(aviBytes - 8); cc("AVI ")
    cc("LIST"); bb.putInt(aviHdrlBytes - 8); cc("hdrl")
    cc("avih"); bb.putInt(56)
    bb.putInt(100000)            // µs per frame → 10 fps
    bb.putInt(vidFrameBytes * 10) // max bytes per second
    bb.putInt(0)                 // padding granularity
    bb.putInt(0)                 // flags (no idx1 index is written)
    bb.putInt(vidFrames)         // total frames
    bb.putInt(0)                 // initial frames
    bb.putInt(1)                 // streams
    bb.putInt(vidFrameBytes)     // suggested buffer size
    bb.putInt(vidW); bb.putInt(vidH)
    bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0) // reserved
    cc("LIST"); bb.putInt(4 + (8 + 56) + (8 + 40)); cc("strl")
    cc("strh"); bb.putInt(56)
    cc("vids"); cc("DIB ")
    bb.putInt(0)                 // flags
    bb.putShort(0); bb.putShort(0) // priority, language
    bb.putInt(0)                 // initial frames
    bb.putInt(1); bb.putInt(10)  // scale, rate → 10 fps
    bb.putInt(0)                 // start
    bb.putInt(vidFrames)         // stream length in frames
    bb.putInt(vidFrameBytes)     // suggested buffer size
    bb.putInt(-1)                // quality (default)
    bb.putInt(0)                 // sample size (varies per chunk)
    bb.putShort(0); bb.putShort(0)
    bb.putShort(vidW.toShort); bb.putShort(vidH.toShort) // rcFrame
    cc("strf"); bb.putInt(40)    // BITMAPINFOHEADER
    bb.putInt(40); bb.putInt(vidW); bb.putInt(vidH)
    bb.putShort(1); bb.putShort(24) // planes, bits per pixel
    bb.putInt(0)                 // BI_RGB (uncompressed)
    bb.putInt(vidFrameBytes)
    bb.putInt(2835); bb.putInt(2835); bb.putInt(0); bb.putInt(0)
    cc("LIST"); bb.putInt(4 + vidFrames * (8 + vidFrameBytes)); cc("movi")
    var f = 0
    while (f < vidFrames) {
      cc("00db"); bb.putInt(vidFrameBytes)
      var y = vidH - 1 // DIB rows are stored bottom-up
      while (y >= 0) {
        var x = 0
        while (x < vidW) {
          val rgb = vidRgb(docId, f, x, y)
          bb.put((rgb & 0xff).toByte)         // B
          bb.put(((rgb >> 8) & 0xff).toByte)  // G
          bb.put(((rgb >> 16) & 0xff).toByte) // R
          x += 1
        }
        y -= 1
      }
      f += 1
    }
    bb.array()
  }

  /** Ingest plumbing: attach a deterministic media payload + typed
    * metadata to each document — a REAL synthesized WAV for audio rows
    * ([[synthWav]]), a REAL synthesized AVI for video rows
    * ([[synthAvi]]), and for image rows a REAL synthesized BMP
    * ([[synthBmp]]) on even image ids with sha256-of-text opaque bytes
    * on the odd ones (so the real-decode path AND the
    * reject-and-fall-back path both stay exercised at scale).
    * The media synthesis is a typed map in the INGEST path only —
    * query operators downstream stay columnar. */
  def attachMedia(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      unhex(sha2(col("text"), 256)).as("media"),
      (col("n_chars") % 640 + 16).cast("int").as("width"),
      (col("n_chars") % 480 + 16).cast("int").as("height"),
      when(col("doc_id") % 3 === 1, 16000).otherwise(0).as("sample_rate"))
      .as[MediaDoc]
      .map(d => d.kind match {
        case "audio" => d.copy(media = synthWav(d.doc_id))
        case "video" => d.copy(media = synthAvi(d.doc_id))
        case _ => if (d.doc_id % 6 == 0) d.copy(media = synthBmp(d.doc_id)) else d
      })
      .toDF()
  }

  /** Real image decode for the `image` kind: PNG/BMP/GIF/JPEG through
    * `javax.imageio` (pure JVM, no external deps — the formats the JDK
    * ships readers for). Features = an 8-bin luminance fold over the
    * actual pixels, plus the true width/height. Deterministic. */
  private def decodeImage(d: MediaDoc): Option[MediaFeatures] = {
    val img =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(d.media)))
      catch { case scala.util.control.NonFatal(_) => None }
    img.map { im =>
      val feats = new Array[Float](8)
      var y = 0
      while (y < im.getHeight) {
        var x = 0
        while (x < im.getWidth) {
          val rgb = im.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
          feats((x + y) % 8) += lum / 255.0f
          x += 1
        }
        y += 1
      }
      MediaFeatures(d.doc_id, d.kind, d.media.length, im.getWidth, im.getHeight, feats)
    }
  }

  /** Real audio decode for the `audio` kind: WAV/PCM through
    * `javax.sound.sampled` (pure JVM — the JDK ships a WAV/AIFF/AU
    * reader). Features = an 8-bin RMS fold over the ACTUAL decoded
    * 16-bit samples; decoded_w = frame count, decoded_h = sample rate
    * (the "dimensions" of decoded audio). Deterministic. */
  private def decodeAudio(d: MediaDoc): Option[MediaFeatures] = {
    import javax.sound.sampled.AudioSystem
    try {
      val in = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(d.media))
      try {
        val fmt = in.getFormat
        // a parsed header is not a sane header: fuzzing found WAVs whose
        // fmt chunk carries a negative/absurd sample rate or zero
        // channels — AudioSystem accepts them, so gate here (the dims
        // contract is decoded_w/decoded_h >= -1)
        val rate = fmt.getSampleRate
        // channels is also bounded ABOVE: a fuzzed fmt chunk can carry
        // a huge positive channel count, making frameSize exceed any
        // read buffer — AudioInputStream.read then returns 0 forever
        // (it refuses partial frames) and InputStream.readAllBytes
        // SPINS on the 0-returns. Caught live by MultimodalFuzzSpec
        // (28 CPU-minutes in one decode); at 100 TB that is one corrupt
        // blob wedging an executor core.
        // encoding is gated to PCM_SIGNED, not just "16-bit": the
        // cap-at-container-length read below is only sound when decoded
        // bytes can never exceed the container, which holds for raw PCM
        // but NOT for a third-party compressed-audio SPI on the
        // classpath (an MP3/Vorbis reader emitting 16-bit PCM would
        // pass a bits-only gate and get silently truncated at the
        // compressed size)
        if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16 || fmt.getChannels <= 0 ||
            fmt.getChannels > 1024 ||
            !java.lang.Float.isFinite(rate) || rate <= 0 || rate > 1e8f) None
        else {
          // bounded manual read, never readAllBytes: PCM-family decoded
          // bytes can't exceed the container (we gate to 16-bit PCM, so
          // no 8→16 expansion), and a 0-return — the partial-frame
          // stall — is treated as EOF instead of retried forever
          val cap = d.media.length
          val chunk = new Array[Byte](math.min(math.max(cap, 1), 1 << 20))
          val bos = new java.io.ByteArrayOutputStream()
          var got = in.read(chunk)
          while (got > 0 && bos.size < cap) {
            bos.write(chunk, 0, math.min(got, cap - bos.size))
            got = in.read(chunk)
          }
          val raw = bos.toByteArray
          val bb = java.nio.ByteBuffer.wrap(raw).order(
            if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
            else java.nio.ByteOrder.LITTLE_ENDIAN)
          val n = raw.length / 2
          val feats = new Array[Float](8)
          var i = 0
          while (i < n) {
            val s = bb.getShort(i * 2) / 32768.0
            feats(i % 8) += (s * s).toFloat
            i += 1
          }
          var b = 0
          while (b < 8) { feats(b) = math.sqrt(feats(b) / math.max(n / 8, 1)).toFloat; b += 1 }
          val frames = n / fmt.getChannels
          // a nonempty container that decodes to ZERO frames (e.g. a
          // claimed frameSize larger than the whole payload — the first
          // read 0-returns immediately) is malformed, not silent audio:
          // fall back like any other undecodable blob
          if (frames == 0 && d.media.nonEmpty) None
          else Some(MediaFeatures(d.doc_id, d.kind, d.media.length,
            frames, fmt.getSampleRate.toInt, feats))
        }
      } finally in.close()
    } catch {
      case scala.util.control.NonFatal(_) => None // malformed audio falls back, never throws
    }
  }

  /** Real video decode for the `video` kind: a RIFF/AVI chunk-tree
    * parser (pure JVM — RIFF is length-prefixed fourcc chunks, LISTs
    * nest). Dimensions and frame count come from the `avih` header and
    * are cross-checked against the frames actually present; `strf`'s
    * BITMAPINFOHEADER gates the uncompressed path (BI_RGB, 24-bit).
    * `00db` frames fold bottom-up BGR24 pixels directly; `00dc` frames
    * decode through `javax.imageio` (MJPEG carries JPEG frames — the
    * JDK ships that codec). Features = an 8-bin luminance fold over
    * every frame's ACTUAL pixels, bin-shifted per frame so the vector
    * is frame-order-derived; decoded_w/decoded_h = true pixel dims.
    * Any structural violation returns None → the byte-fold fallback. */
  private def decodeVideo(d: MediaDoc): Option[MediaFeatures] = {
    val a = d.media
    if (a.length < 12) return None
    val bb = java.nio.ByteBuffer.wrap(a).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(off: Int): String =
      if (off + 4 > a.length) "" else new String(a, off, 4, "US-ASCII")
    if (cc(0) != "RIFF" || cc(8) != "AVI ") return None
    var width = -1; var height = -1; var totalFrames = -1
    var bitCount = -1; var compression = -1
    var framesSeen = 0
    val feats = new Array[Float](8)
    def foldDib(body: Int, len: Int): Boolean = {
      if (width <= 0 || height <= 0 || len != width * height * 3) return false
      if (bitCount != 24 || compression != 0) return false // strf must declare BI_RGB 24-bit
      var y = 0
      while (y < height) {
        val rowOff = body + (height - 1 - y) * width * 3 // bottom-up rows
        var x = 0
        while (x < width) {
          val b0 = a(rowOff + x * 3) & 0xff
          val g = a(rowOff + x * 3 + 1) & 0xff
          val r = a(rowOff + x * 3 + 2) & 0xff
          feats((x + y + framesSeen) % 8) += (r * 299 + g * 587 + b0 * 114) / 1000 / 255.0f
          x += 1
        }
        y += 1
      }
      framesSeen += 1
      true
    }
    def foldCodec(body: Int, len: Int): Boolean = {
      val img =
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(a, body, len)))
        catch { case scala.util.control.NonFatal(_) => None }
      img.exists { im =>
        var y = 0
        while (y < im.getHeight) {
          var x = 0
          while (x < im.getWidth) {
            val rgb = im.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
            feats((x + y + framesSeen) % 8) += lum / 255.0f
            x += 1
          }
          y += 1
        }
        framesSeen += 1
        true
      }
    }
    // depth-first chunk walk over [start, end); false = structural failure
    def walk(start: Int, end: Int): Boolean = {
      var p = start
      while (p + 8 <= end) {
        val id = cc(p)
        val sz = bb.getInt(p + 4)
        val body = p + 8
        if (sz < 0 || sz > end - body) return false // subtract: body+sz can overflow Int
        val ok = id match {
          case "LIST" => sz >= 4 && walk(body + 4, body + sz)
          case "avih" =>
            if (sz < 40) false
            else {
              totalFrames = bb.getInt(body + 16)
              width = bb.getInt(body + 32); height = bb.getInt(body + 36)
              true
            }
          case "strf" =>
            if (sz >= 20) {
              bitCount = bb.getShort(body + 14) & 0xffff
              compression = bb.getInt(body + 16)
            }
            true
          case "00db" => foldDib(body, sz)
          case "00dc" => foldCodec(body, sz)
          case _ => true // unknown chunks (idx1, JUNK, …) skip by length
        }
        if (!ok) return false
        p = body + sz + (sz & 1) // chunks are word-aligned
      }
      true
    }
    val ok =
      try walk(12, a.length)
      catch { case scala.util.control.NonFatal(_) => false } // corrupt containers fall back, never throw
    // width/height are raw avih ints: a codec'd (00dc) frame decodes via
    // ImageIO without consulting them, so corrupt negative dims could
    // otherwise escape into the result (00db cross-checks in foldDib)
    if (!ok || framesSeen == 0 || framesSeen != totalFrames ||
        width <= 0 || height <= 0) None
    else Some(MediaFeatures(d.doc_id, d.kind, a.length, width, height, feats))
  }

  /** Fallback for bytes a kind's real decoder cannot parse (and for
    * kinds outside image/audio/video). Deterministic: folds the media
    * bytes into an 8-float signature, decoded dims = −1. */
  private def decodeFold(d: MediaDoc): MediaFeatures = {
    val feats = new Array[Float](8)
    d.media.zipWithIndex.foreach { case (b, i) => feats(i % 8) += (b & 0xff) / 255.0f }
    MediaFeatures(d.doc_id, d.kind, d.media.length, -1, -1, feats)
  }

  /** Batched decode: images decode for real via [[decodeImage]], audio
    * via [[decodeAudio]], video via [[decodeVideo]]; bytes a decoder
    * rejects fall through to the byte-fold fallback. One batch per
    * call — the Arrow-batch contract. */
  def decodeBatch(batch: Seq[MediaDoc]): Seq[MediaFeatures] =
    batch.map { d =>
      (d.kind match {
        case "image" => decodeImage(d)
        case "audio" => decodeAudio(d)
        case "video" => decodeVideo(d)
        case _ => None
      }).getOrElse(decodeFold(d))
    }

  /** Partition-wise batched decode — the real distribution plumbing:
    * executors pull [[batchSize]]-row batches through [[decodeBatch]],
    * no driver involvement, output schema fixed by the encoder. */
  def decodeFeatures(media: Dataset[MediaDoc]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(batchSize).flatMap(g => decodeBatch(g.toSeq)))
  }

  final case class FrameSample(doc_id: Long, frame_idx: Int, mean_luma: Double)

  /** REAL frame sampling: walk the AVI chunk tree and pixel-decode ONLY
    * every `stride`-th video frame (up to `maxFrames`), emitting each
    * sampled frame's mean luminance. Skipped frames advance by chunk
    * LENGTH without touching their pixels — the point of frame
    * sampling is that decode cost tracks the SAMPLED count, not the
    * video length. Same structural gates as [[decodeVideo]] (strf must
    * declare BI_RGB 24-bit for `00db`; `00dc` goes through ImageIO);
    * any violation returns None → the caller drops the row. */
  private[ops] def sampleFrames(d: MediaDoc, stride: Int, maxFrames: Int): Option[Seq[FrameSample]] = {
    val a = d.media
    if (a.length < 12) return None
    val bb = java.nio.ByteBuffer.wrap(a).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(off: Int): String =
      if (off + 4 > a.length) "" else new String(a, off, 4, "US-ASCII")
    if (cc(0) != "RIFF" || cc(8) != "AVI ") return None
    var width = -1; var height = -1
    var bitCount = -1; var compression = -1
    var frameIdx = 0
    val out = Seq.newBuilder[FrameSample]
    def lumaDib(body: Int, len: Int): Option[Double] = {
      if (width <= 0 || height <= 0 || len != width * height * 3) return None
      if (bitCount != 24 || compression != 0) return None
      var sum = 0L
      var y = 0
      while (y < height) {
        val rowOff = body + (height - 1 - y) * width * 3
        var x = 0
        while (x < width) {
          val b0 = a(rowOff + x * 3) & 0xff
          val g = a(rowOff + x * 3 + 1) & 0xff
          val r = a(rowOff + x * 3 + 2) & 0xff
          sum += (r * 299 + g * 587 + b0 * 114) / 1000
          x += 1
        }
        y += 1
      }
      Some(sum.toDouble / (width * height))
    }
    def lumaCodec(body: Int, len: Int): Option[Double] = {
      val img =
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(a, body, len)))
        catch { case scala.util.control.NonFatal(_) => None }
      img.map { im =>
        var sum = 0L
        var y = 0
        while (y < im.getHeight) {
          var x = 0
          while (x < im.getWidth) {
            val rgb = im.getRGB(x, y)
            sum += (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
            x += 1
          }
          y += 1
        }
        sum.toDouble / (im.getWidth * im.getHeight)
      }
    }
    def walk(start: Int, end: Int): Boolean = {
      var p = start
      while (p + 8 <= end) {
        val id = cc(p)
        val sz = bb.getInt(p + 4)
        val body = p + 8
        if (sz < 0 || sz > end - body) return false
        val ok = id match {
          case "LIST" => sz >= 4 && walk(body + 4, body + sz)
          case "avih" =>
            if (sz < 40) false
            else { width = bb.getInt(body + 32); height = bb.getInt(body + 36); true }
          case "strf" =>
            if (sz >= 20) {
              bitCount = bb.getShort(body + 14) & 0xffff
              compression = bb.getInt(body + 16)
            }
            true
          case "00db" | "00dc" =>
            val sampled = frameIdx % stride == 0 && frameIdx / stride < maxFrames
            frameIdx += 1
            if (!sampled) true // skip by length — pixels untouched
            else {
              val luma = if (id == "00db") lumaDib(body, sz) else lumaCodec(body, sz)
              luma match {
                case Some(l) => out += FrameSample(d.doc_id, frameIdx - 1,
                  math.rint(l * 10000) / 10000); true
                case None => false
              }
            }
          case _ => true
        }
        if (!ok) return false
        p = body + sz + (sz & 1)
      }
      true
    }
    val ok =
      try walk(12, a.length)
      catch { case scala.util.control.NonFatal(_) => false }
    val frames = out.result()
    if (!ok || frames.isEmpty) None else Some(frames)
  }

  /** Frame-sampling stride/budget for the c6d pipeline. */
  private def frameStride(spark: SparkSession): Int =
    spark.conf.getOption("graft.media.frameStride").map(_.toInt).getOrElse(2)
  private def frameBudget(spark: SparkSession): Int =
    spark.conf.getOption("graft.media.maxFrames").map(_.toInt).getOrElse(4)

  /** c6d query — REAL frame sampling over the video rows: every
    * `stride`-th frame pixel-decodes (skipped frames advance by chunk
    * length only), one output row per sampled frame. Batched per
    * partition like the decode; pixel means are not SQL-expressible →
    * rows-only; stride arithmetic + hand-computed lumas pinned in the
    * spec. */
  def frameSamplePipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stride = frameStride(spark)
    val budget = frameBudget(spark)
    val media = attachMedia(Relational.table(spark, dir, "documents")).as[MediaDoc]
    media.filter(_.kind == "video")
      .mapPartitions(_.grouped(batchSize).flatMap(
        _.flatMap(d => sampleFrames(d, stride, budget).getOrElse(Seq.empty))))
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  /** Nearest-neighbor resample to fit `maxSide` — integer source-index
    * arithmetic only (no AWT rendering pipeline, no filtering state),
    * so the output pixels are a pure function of input pixels:
    * deterministic across JVMs, which is what lets the spec hand-check
    * them. Images already within bounds pass through untouched. */
  def resizePixels(im: java.awt.image.BufferedImage, maxSide: Int): java.awt.image.BufferedImage = {
    val s = math.max(im.getWidth, im.getHeight)
    if (s <= maxSide) im
    else {
      val dw = math.max(1, im.getWidth * maxSide / s)
      val dh = math.max(1, im.getHeight * maxSide / s)
      val out = new java.awt.image.BufferedImage(
        dw, dh, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < dh) {
        var x = 0
        while (x < dw) {
          out.setRGB(x, y, im.getRGB(x * im.getWidth / dw, y * im.getHeight / dh))
          x += 1
        }
        y += 1
      }
      out
    }
  }

  final case class MediaResize(
      doc_id: Long, src_w: Int, src_h: Int, dst_w: Int, dst_h: Int, luma: Double)

  /** Per-image decode → [[resizePixels]] → luminance sum over the
    * RESIZED pixels. Undecodable image bytes (the opaque-sha256 rows)
    * are skipped — resize is only defined on pixels. */
  private[ops] def resizeBatch(batch: Seq[MediaDoc], maxSide: Int): Seq[MediaResize] =
    batch.flatMap { d =>
      val img =
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(d.media)))
        catch { case scala.util.control.NonFatal(_) => None }
      img.map { im =>
        val r = resizePixels(im, maxSide)
        var luma = 0L
        var y = 0
        while (y < r.getHeight) {
          var x = 0
          while (x < r.getWidth) {
            val rgb = r.getRGB(x, y)
            luma += (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
            x += 1
          }
          y += 1
        }
        MediaResize(d.doc_id, im.getWidth, im.getHeight, r.getWidth, r.getHeight, luma.toDouble)
      }.toSeq
    }

  /** Resize target for the c6c pipeline (conf `graft.media.maxSide`). */
  private def mediaMaxSide(spark: SparkSession): Int =
    spark.conf.getOption("graft.media.maxSide").map(_.toInt).getOrElse(8)

  /** c6c query — REAL pixel resize over the image rows: ingest →
    * decode → nearest-neighbor downscale → luminance over the output
    * pixels, batched per partition exactly like [[decodeFeatures]]
    * (the resize is embarrassingly parallel map work; at 100 TB the
    * plan is one scan + one typed map, no shuffle before the
    * presentation sort). Pixel folds are not SQL-expressible →
    * rows-only; resample arithmetic is hand-checked in the fuzz spec. */
  def resizePipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val maxSide = mediaMaxSide(spark)
    val media = attachMedia(Relational.table(spark, dir, "documents")).as[MediaDoc]
    media.filter(_.kind == "image")
      .mapPartitions(_.grouped(batchSize).flatMap(g => resizeBatch(g.toSeq, maxSide)))
      .toDF()
      .orderBy("doc_id")
  }

  /** c6 query: ingest → batched decode → per-kind feature statistics. */
  def decodePipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = attachMedia(Relational.table(spark, dir, "documents")).as[MediaDoc]
    decodeFeatures(media)
      .toDF()
      .select(col("doc_id"), col("kind"), col("n_bytes"), col("decoded_w"),
        round(expr("aggregate(features, 0D, (a, x) -> a + cast(x as double))"), 4).as("feat_sum"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("feat_sum")), 4).as("total_feat"),
        max(col("n_bytes")).as("max_bytes"),
        count(when(col("decoded_w") >= 0, 1)).as("n_decoded"))
      .orderBy("kind")
  }

  /** c6b: the metadata half of the pipeline, fully SQL-expressible →
    * oracle-checked (the feature sums stay in the decode query, whose
    * pixel/sample folds SQL cannot express). */
  def metaStats(spark: SparkSession, dir: String): DataFrame =
    attachMedia(Relational.table(spark, dir, "documents"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"), max(length(col("media"))).as("max_bytes"))
      .orderBy("kind")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c6_multimodal_decode" -> (decodePipeline _),
    "c6_multimodal_meta" -> (metaStats _),
    "c6c_multimodal_resize" -> (resizePipeline _),
    "c6d_multimodal_frames" -> (frameSamplePipeline _))

  // c6_multimodal_decode has no oracleSql: the pixel/sample feature
  // folds are not SQL-expressible → rows-only check; determinism +
  // batch shape + decoder fidelity are unit-tested in TierCSpec
  val oracleSql: Map[String, String] = Map(
    // audio rows carry the fixed-shape synthesized WAV, video rows the
    // fixed-shape synthesized AVI (every chunk constant-size by
    // construction); image rows are the fixed-shape synthesized BMP on
    // even ids and sha256 (32 B) opaque bytes on odd ids
    "c6_multimodal_meta" ->
      s"""SELECT CASE cast(doc_id % 3 as int) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         |       ELSE 'video' END AS kind,
         |  count(*) AS n,
         |  max(CASE WHEN doc_id % 3 = 1 THEN $wavBytes
         |           WHEN doc_id % 3 = 2 THEN $aviBytes
         |           WHEN doc_id % 6 = 0 THEN $bmpBytes ELSE 32 END) AS max_bytes
         |FROM documents GROUP BY 1 ORDER BY kind""".stripMargin)
}
