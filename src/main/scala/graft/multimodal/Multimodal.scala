package graft.multimodal

import java.nio.ByteBuffer
import java.nio.ByteOrder.{BIG_ENDIAN, LITTLE_ENDIAN}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads as opaque BINARY columns
  * with typed metadata, and a partition-wise decode/feature-extract stage.
  *
  * == The codec boundary (what decodes REAL vs what is STUBBED) ==
  *
  * REAL decoders — pure JDK, no external dependency, oracle-gated:
  *  - PNG, JPEG, BMP, GIF stills: `javax.imageio` ([[decodeImage]];
  *    true width/height — `x_multimodal_decode`);
  *  - multi-frame GIF: ImageIO's GIF reader ([[realFrameCount]] /
  *    [[sampleFramesDecoded]]; true frame counts — `x_frame_sample_real`);
  *  - PCM WAV: a hand-walked RIFF chunk parser ([[decodeWav]]; true
  *    channels/rate/bits/samples — `x_multimodal_audio`);
  *  - nearest-neighbor RESIZE of any ImageIO-decodable raster
  *    ([[resizeReal]]; exact thumbnail pixels + integer fingerprint —
  *    `x_resize_real`, pixel-arithmetic-checked for lossless formats).
  *
  * STUBS — formats whose codecs the JDK does not ship (MP3/AAC/Opus
  * audio; H.264/VP9/AV1 video; WebP/HEIC images): [[decodeStub]] and
  * the stub lane of [[resizeReal]] are clearly-marked deterministic
  * fakes that keep the Spark-side contract real (schema, typed Dataset
  * boundary, one codec init per partition). A cluster deployment fills
  * exactly one seam: replace the stub body at the per-partition init
  * point (where `MessageDigest.getInstance` sits) with the JNI/FFI
  * codec — nothing else changes.
  *
  * QUARANTINE — the third leg: a payload that CLAIMS a decodable format
  * (magic-byte sniff: [[looksLikeImage]] / [[looksLikeAudio]]) but fails
  * its decoder is flagged with nulled meta, never silently stubbed —
  * corrupt media must not pollute media stats. Every payload therefore
  * takes exactly one of three paths — REAL decode, honest STUB, or
  * QUARANTINE — and MultimodalSpec asserts the trichotomy stays
  * exhaustive and mutually exclusive over the planted media fixture.
  *
  * Scale: decode runs partition-parallel with no shuffle; a real codec
  * (JNI/FFI) would be initialized once per partition exactly where
  * `MessageDigest.getInstance` sits now.
  */
object Multimodal {

  /** Unsigned 16/32-bit reads and writes at absolute offsets of `bytes`
    * in one byte order. */
  private final class Bytes(bytes: Array[Byte], order: java.nio.ByteOrder) {
    private val buf = ByteBuffer.wrap(bytes).order(order)
    def u16(o: Int): Int = java.lang.Short.toUnsignedInt(buf.getShort(o))
    def u32(o: Int): Long = Integer.toUnsignedLong(buf.getInt(o))
    def p16(o: Int, v: Int): Unit = { buf.putShort(o, v.toShort); () }
    def p32(o: Int, v: Long): Unit = { buf.putInt(o, v.toInt); () }
  }

  /** The raster the JDK's codecs (javax.imageio) decode `bytes` to, or
    * null when none can. Any decoder failure counts, not just
    * IOException: a malformed header can throw from deep inside a
    * reader plugin. */
  private def readRaster(bytes: Array[Byte]): java.awt.image.BufferedImage =
    try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    catch { case scala.util.control.NonFatal(_) => null }

  /** Typed metadata row a real decoder would emit. */
  case class MediaMeta(doc_id: Long, n_bytes: Long, content_id: String,
                       width: Long, height: Long, frames: Long)

  /** STUB decode: a real implementation would parse the container format
    * (JPEG/PNG/WAV/MP4) here. This fake derives deterministic metadata
    * from the payload so results are reproducible and oracle-checkable.
    */
  def decodeStub(docId: Long, bytes: Array[Byte], nChars: Long,
                 digest: java.security.MessageDigest): MediaMeta = {
    digest.reset()
    val hex = digest.digest(bytes).map("%02x".format(_)).mkString
    MediaMeta(
      doc_id = docId,
      n_bytes = bytes.length.toLong,
      content_id = hex,
      width = bytes.length.toLong % 640L,
      height = (bytes.length.toLong * 7L) % 480L,
      frames = nChars % 30L)
  }

  /** REAL image decode via the JDK's own codecs (javax.imageio — PNG,
    * JPEG, BMP, GIF, no external dependency): a payload that parses as
    * an image gets its TRUE width/height from the decoder and frames=1
    * (a still); anything else falls back to [[decodeStub]]. Returns the
    * meta plus whether the real decoder handled the row — the contract
    * a mixed media column needs, since a crawl's "image" column always
    * contains some undecodable bytes. Any decoder failure means "not
    * an image".
    */
  def decodeImage(docId: Long, bytes: Array[Byte], nChars: Long,
                  digest: java.security.MessageDigest): (MediaMeta, Boolean) = {
    val img = readRaster(bytes)
    if (img == null) (decodeStub(docId, bytes, nChars, digest), false)
    else {
      digest.reset()
      val hex = digest.digest(bytes).map("%02x".format(_)).mkString
      (MediaMeta(docId, bytes.length.toLong, hex,
        img.getWidth.toLong, img.getHeight.toLong, 1L), true)
    }
  }

  /** Does the payload CLAIM to be an image (container magic bytes:
    * PNG/JPEG/GIF/BMP/TIFF)? Claim + failed decode = a CORRUPT image row —
    * the quarantine signal: it must not silently take the text-stub
    * path and pollute downstream media stats (the Ingest quarantine
    * pattern applied to a binary column).
    */
  def looksLikeImage(bytes: Array[Byte]): Boolean = {
    // BMP needs more than the 2-byte 'BM' magic — ordinary text starting
    // with "BM" (e.g. "BMW …") must NOT be claimed. A real
    // BITMAPFILEHEADER is 14 bytes with reserved words 6-9 zero and a
    // pixel-data offset (bytes 10-13, LE) that lands inside the payload
    // past the header — both violated by ASCII text.
    def bmpClaim: Boolean =
      bytes.length >= 14 && bytes(0) == 'B' && bytes(1) == 'M' &&
        bytes(6) == 0 && bytes(7) == 0 && bytes(8) == 0 && bytes(9) == 0 &&
        { val off = new Bytes(bytes, LITTLE_ENDIAN).u32(10)
          off >= 14L && off <= bytes.length.toLong }
    bytes.length >= 4 && (
      ((bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N') ||
      ((bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8) ||
      (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' &&
        bytes(3) == '8') ||
      // TIFF, both byte orders (II*\0 / MM\0*): the 4-byte magic
      // cannot occur in text (embedded NUL), so no stub row is claimed
      (bytes(0) == 'I' && bytes(1) == 'I' && bytes(2) == 0x2A &&
        bytes(3) == 0) ||
      (bytes(0) == 'M' && bytes(1) == 'M' && bytes(2) == 0 &&
        bytes(3) == 0x2A) ||
      bmpClaim)
  }

  /** Deterministic REAL image payload (decodable by any reader of the
    * format): w×h RGB image whose pixels are a pure function of
    * (seed, x, y), encoded by the JDK's own writer. `format` is any
    * ImageIO writer name — "png", "bmp", "gif", "jpg". Fixture
    * generator for decode tests — the planted width/height are what an
    * oracle checks the decoder's output against (dimensions survive
    * every format, including palettized GIF and lossy JPEG).
    *
    * Deterministic synthetic raster (formula pixels so SQL oracles can
    * replay them); `xorPixel` flips bits of pixel (0,0) — the planted
    * near-duplicate perturbation the perceptual-hash screen detects. */
  def syntheticImage(w: Int, h: Int, seed: Long,
                     format: String, xorPixel: Int = 0): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (((seed + x * 31L + y * 131L) * 2654435761L) & 0xFFFFFFL).toInt)
        x += 1
      }
      y += 1
    }
    if (xorPixel != 0)
      img.setRGB(0, 0, (img.getRGB(0, 0) ^ xorPixel) & 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  def syntheticPng(w: Int, h: Int, seed: Long): Array[Byte] =
    syntheticImage(w, h, seed, "png")

  /** Deterministic CORRUPT image payload: a real PNG's first 20 bytes
    * (valid magic + truncated header) — claims to be an image, fails
    * every decoder. The quarantine fixture. */
  def corruptImagePayload(seed: Long): Array[Byte] =
    syntheticPng(3, 3, seed).take(20)

  /** Deterministic REAL multi-frame GIF: `frames` w×h frames whose
    * pixels are a pure function of (seed, frame, x, y), written through
    * the JDK's GIF sequence writer. The planted frame count is what the
    * oracle checks [[realFrameCount]] against — VIDEO-shaped media with
    * an actual decodable frame structure, not a stub counter. */
  def syntheticAnimatedGif(w: Int, h: Int, frames: Int,
                           seed: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < frames) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y, (((seed + f * 7919L + x * 31L + y * 131L) *
            2654435761L) & 0xFFFFFFL).toInt)
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null),
        null)
      f += 1
    }
    writer.endWriteSequence()
    ios.flush(); writer.dispose()
    bos.toByteArray
  }

  /** REAL frame count of an image container (animated GIFs report every
    * frame; still formats report 1); None when the payload doesn't
    * decode. The reader is asked to SEARCH (count is exact, not a
    * header hint). */
  def realFrameCount(bytes: Array[Byte]): Option[(Long, Long, Long)] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis)
          Some((r.getWidth(0).toLong, r.getHeight(0).toLong,
            r.getNumImages(true).toLong))
        } catch { case scala.util.control.NonFatal(_) => None }
        finally r.dispose()
      }
    } finally iis.close()
  }

  /** Partition-wise REAL frame enumeration — the video-pipeline fan-out
    * ([[sampleFrames]]) driven by DECODED frame counts instead of the
    * stub: every `stride`-th frame of each decodable multi-frame
    * payload becomes a row. Non-image rows produce nothing. */
  def sampleFramesDecoded(rows: DataFrame, stride: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          realFrameCount(bytes).map { case (_, _, n) => (id, n) }
        }
      }.toDF("doc_id", "n_frames")
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n_frames") - 1L,
          lit(stride.toLong))).as("frame_idx"),
        col("n_frames"))
      .select(col("doc_id"), col("frame_idx"), col("n_frames"))
  }

  /** Partition-wise REAL decode over a `(doc_id, media binary, n_chars)`
    * frame: javax.imageio rows get true dimensions; rows whose payload
    * CLAIMS an image format but fails to decode are QUARANTINED
    * (flagged, meta nulled — never silently stubbed); everything else
    * takes the documented stub fallback. Same no-shuffle mapPartitions
    * shape as [[extractMeta]]; the per-partition init point disables
    * ImageIO's temp-FILE cache so decode stays in-memory on executors.
    */
  def extractMetaDecoded(rows: DataFrame): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("doc_id"), col("media"), col("n_chars"))
      .as[(Long, Array[Byte], Long)]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes, nChars) =>
          val (m, isImg) = decodeImage(id, bytes, nChars, digest)
          if (!isImg && looksLikeImage(bytes))
            (id, false, true,
              None: Option[Long], None: Option[Long], None: Option[Long])
          else
            (m.doc_id, isImg, false,
              Some(m.width), Some(m.height), Some(m.frames))
        }
      }.toDF("doc_id", "is_image", "quarantined", "width", "height",
        "frames")
  }

  /** Decoded WAV header facts — what a real audio pipeline keys on
    * before any sample-level work. */
  case class WavMeta(channels: Long, sampleRate: Long, bits: Long,
                     nSamples: Long, durationMs: Long)

  /** REAL WAV (RIFF/PCM) decode — pure JDK, no codec: walks the RIFF
    * chunk list, reads the fmt chunk (PCM only) and the data chunk
    * size, and derives channels / sample rate / bit depth / sample
    * count / duration. Returns None for anything that is not a
    * well-formed PCM WAV — the caller pairs this with [[looksLikeAudio]]
    * to separate "not audio" (stub fallback) from "claims RIFF but
    * corrupt" (quarantine), the same contract as the image path.
    * Compressed codecs (MP3/AAC/opus) stay honestly stubbed: the
    * container ships no decoders for them.
    */
  def decodeWav(bytes: Array[Byte]): Option[WavMeta] = {
    val le = new Bytes(bytes, LITTLE_ENDIAN)
    import le.{u16, u32}
    def tag(o: Int): String =
      if (o + 4 > bytes.length) ""
      else new String(bytes, o, 4, "US-ASCII")
    if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE")
      return None
    var off = 12
    var fmt: Option[(Int, Int, Long, Int)] = None // fmtCode, ch, rate, bits
    var dataSize = -1L
    var malformed = false
    while (!malformed && off + 8 <= bytes.length &&
      (fmt.isEmpty || dataSize < 0)) {
      val id = tag(off)
      val size = u32(off + 4)
      // a declared size past the payload is a truncated/corrupt file
      if (size > bytes.length.toLong) malformed = true
      else {
        if (id == "fmt " && off + 24 <= bytes.length)
          fmt = Some((u16(off + 8), u16(off + 10), u32(off + 12),
            u16(off + 22)))
        else if (id == "data") dataSize = math.min(size,
          (bytes.length - off - 8).toLong)
        off += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
      }
    }
    if (malformed) return None
    fmt match {
      case Some((1, ch, rate, bits))
          if ch > 0 && rate > 0 && bits > 0 && dataSize >= 0 =>
        val n = dataSize / (ch * bits / 8)
        Some(WavMeta(ch.toLong, rate, bits.toLong, n, n * 1000L / rate))
      case _ => None
    }
  }

  /** Does the payload CLAIM to be RIFF audio? Claim + failed decode =
    * quarantine (mirror of [[looksLikeImage]]). The 4-byte magic alone
    * would claim ordinary text starting with "RIFF", so the declared
    * RIFF size (bytes 4-7, LE) must also be plausible — at most the
    * payload minus the 8-byte header. ASCII text in the size field reads
    * as ~0x20202020 (hundreds of MB) and is rejected; every RIFF writer
    * (and the corrupt fixture, whose size field is intact) passes. */
  def looksLikeAudio(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 && bytes(0) == 'R' && bytes(1) == 'I' &&
      bytes(2) == 'F' && bytes(3) == 'F' && {
        new Bytes(bytes, LITTLE_ENDIAN).u32(4) <= bytes.length.toLong - 8L
      }

  /** Deterministic REAL PCM16 mono WAV payload: standard 44-byte header
    * plus `nSamples` samples that are a pure function of (seed, i).
    * Decodable by any WAV reader — the planted (rate, nSamples) are
    * what an oracle checks [[decodeWav]]'s output against. */
  def syntheticWav(nSamples: Int, sampleRate: Int, seed: Long): Array[Byte] = {
    val data = nSamples * 2
    val out = new Array[Byte](44 + data)
    def put(o: Int, s: String): Unit = { s.getBytes("US-ASCII")
      .copyToArray(out, o); () }
    val le = new Bytes(out, LITTLE_ENDIAN)
    import le.{p16, p32}
    put(0, "RIFF"); p32(4, 36L + data); put(8, "WAVE")
    put(12, "fmt "); p32(16, 16L); p16(20, 1); p16(22, 1)
    p32(24, sampleRate.toLong); p32(28, sampleRate.toLong * 2)
    p16(32, 2); p16(34, 16)
    put(36, "data"); p32(40, data.toLong)
    var i = 0
    while (i < nSamples) {
      p16(44 + 2 * i, (((seed + i * 2654435761L) >>> 16) & 0xFFFF).toInt)
      i += 1
    }
    out
  }

  /** Deterministic CORRUPT audio payload: a valid RIFF magic whose
    * container type is not WAVE — claims audio, fails every parse. */
  def corruptAudioPayload(seed: Long): Array[Byte] = {
    val b = syntheticWav(4, 8000, seed)
    b(8) = 'J'; b(9) = 'U'; b(10) = 'N'; b(11) = 'K'
    b
  }

  /** Partition-wise REAL audio decode over a `(doc_id, media binary)`
    * frame — the audio twin of [[extractMetaDecoded]]: PCM WAV rows get
    * true header facts; RIFF-claiming rows that fail the parse are
    * QUARANTINED with nulled meta; everything else is not audio. No
    * shuffle; the parse is row-local.
    */
  def extractAudioMeta(rows: DataFrame): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          decodeWav(bytes) match {
            case Some(m) =>
              (id, true, false, Some(m.channels), Some(m.sampleRate),
                Some(m.nSamples), Some(m.durationMs))
            case None if looksLikeAudio(bytes) =>
              (id, false, true, None: Option[Long], None: Option[Long],
                None: Option[Long], None: Option[Long])
            case None =>
              (id, false, false, None: Option[Long], None: Option[Long],
                None: Option[Long], None: Option[Long])
          }
        }
      }.toDF("doc_id", "is_audio", "quarantined", "channels",
        "sample_rate", "n_samples", "duration_ms")
  }

  /** REAL PCM16-mono sample extraction: the `data` chunk of a decodable
    * WAV as signed 16-bit values — the input every audio-side feature
    * (energy, crossings, VAD, resample) consumes. Same RIFF walk as
    * [[decodeWav]]; None for anything that isn't uncompressed 16-bit
    * mono PCM. */
  def wavSamples(bytes: Array[Byte]): Option[Array[Int]] = {
    val le = new Bytes(bytes, LITTLE_ENDIAN)
    import le.{u16, u32}
    def tag(o: Int): String =
      if (o + 4 > bytes.length) ""
      else new String(bytes, o, 4, "US-ASCII")
    if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE")
      return None
    var off = 12
    var pcm16mono = false
    var dataOff = -1; var dataLen = -1L
    var malformed = false
    while (!malformed && off + 8 <= bytes.length &&
      (!pcm16mono || dataOff < 0)) {
      val id = tag(off)
      val size = u32(off + 4)
      if (size > bytes.length.toLong) malformed = true
      else {
        if (id == "fmt " && off + 24 <= bytes.length)
          pcm16mono = u16(off + 8) == 1 && u16(off + 10) == 1 &&
            u16(off + 22) == 16
        else if (id == "data") {
          dataOff = off + 8
          dataLen = math.min(size, (bytes.length - off - 8).toLong)
        }
        off += 8 + size.toInt + (size.toInt & 1)
      }
    }
    if (malformed || !pcm16mono || dataOff < 0) None
    else {
      val n = (dataLen / 2).toInt
      val out = new Array[Int](n)
      var i = 0
      while (i < n) {
        out(i) = (((bytes(dataOff + 2 * i + 1) & 0xFF) << 8) |
          (bytes(dataOff + 2 * i) & 0xFF)).toShort.toInt
        i += 1
      }
      Some(out)
    }
  }

  /** Image channel statistics from the REAL raster — the pixel-side
    * quality screen (black-frame / washed-out / single-color triage):
    * per decodable row the true width/height and the exact per-channel
    * intensity sums Σr, Σg, Σb over every pixel. All integers, so for
    * LOSSLESS formats (PNG/BMP) an oracle replays them from planted
    * pixel arithmetic — the same contract resizeReal's thumbnails are
    * verified under. Non-decodable rows pass through with nulls.
    * Row-local mapPartitions, one reader per partition, no shuffle. */
  def extractImageFeatures(rows: DataFrame): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val img = readRaster(bytes)
          if (img == null)
            (id, false, None: Option[Long], None: Option[Long],
              None: Option[Long], None: Option[Long], None: Option[Long])
          else {
            var r = 0L; var g = 0L; var b = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val rgb = img.getRGB(x, y)
                r += (rgb >> 16) & 0xFF
                g += (rgb >> 8) & 0xFF
                b += rgb & 0xFF
                x += 1
              }
              y += 1
            }
            (id, true, Some(img.getWidth.toLong),
              Some(img.getHeight.toLong), Some(r), Some(g), Some(b))
          }
        }
      }.toDF("doc_id", "is_image", "width", "height",
        "sum_r", "sum_g", "sum_b")
  }

  /** Average-hash perceptual fingerprint from REAL decoded rasters —
    * the image-side near-dup signature (aHash without the resize step:
    * these fingerprints compare only within identical dimensions, so
    * the canonical-size normalization is unnecessary and every bit is
    * exact). Per decodable row: bit i (row-major, i = y·w + x) is set
    * iff gray_i · n ≥ Σgray (gray = r+g+b — the 3× scale cancels, the
    * cross-multiplied comparison avoids division entirely), packed
    * into one BIGINT. Hashes are engine-replayable because every step
    * is integer. Non-images report is_image = false with a null hash.
    * Requires w·h ≤ 63 as written (tiny thumbnails / already-resized
    * tiles); larger rasters would pack into multiple words.
    */
  def imagePerceptualHashes(rows: DataFrame): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val img = readRaster(bytes)
          if (img == null || img.getWidth * img.getHeight > 63)
            (id, false, None: Option[Long], None: Option[Long],
              None: Option[Long])
          else {
            val w = img.getWidth; val h = img.getHeight
            val grays = new Array[Long](w * h)
            var tot = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                val g = ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) +
                  (rgb & 0xFF)
                grays(y * w + x) = g
                tot += g
                x += 1
              }
              y += 1
            }
            var hash = 0L
            var i = 0
            while (i < grays.length) {
              if (grays(i) * grays.length >= tot) hash |= 1L << i
              i += 1
            }
            (id, true, Some(w.toLong), Some(h.toLong), Some(hash))
          }
        }
      }.toDF("doc_id", "is_image", "width", "height", "phash")
  }

  /** Near-duplicate image pairs from [[imagePerceptualHashes]] output
    * by banded Hamming search: a hash of n = w·h bits splits into
    * `maxHamming + 1` bands of ⌈n/(maxHamming+1)⌉ bits, and by
    * pigeonhole any pair within the Hamming budget shares at least one
    * band untouched — so candidates come from a hash equi-join on
    * (band, value, w, h), never an all-pairs comparison, and the exact
    * `bit_count(xor)` distance verifies each candidate. The image twin
    * of the MinHash band screen, with a DETERMINISTIC recall
    * guarantee (no probabilistic misses inside the budget).
    */
  def phashNearDupPairs(hashes: DataFrame,
                        maxHamming: Int = 2): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val bands = maxHamming + 1
    val withBw = hashes
      .where(col("is_image"))
      .select(col("doc_id"), col("width"), col("height"), col("phash"))
      .withColumn("__bw",
        expr(s"cast((width * height + ${bands - 1}) div $bands as int)"))
    val banded = withBw.select(col("doc_id"), col("width"),
        col("height"), col("phash"),
        explode(array((0 until bands).map { j =>
          struct(lit(j).as("band"),
            expr(s"shiftrightunsigned(phash, $j * __bw) & " +
              "((cast(1 as bigint) << __bw) - 1)").as("bv"))
        }: _*)).as("b"))
      .select(col("doc_id"), col("width"), col("height"), col("phash"),
        col("b.band").as("band"), col("b.bv").as("bv"))
    val l = banded.select(col("band"), col("bv"), col("width"),
      col("height"), col("doc_id").as("id_a"), col("phash").as("ph_a"))
    val r = banded.select(col("band"), col("bv"), col("width"),
      col("height"), col("doc_id").as("id_b"), col("phash").as("ph_b"))
    l.join(r, Seq("band", "bv", "width", "height"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long")
          .as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Audio DSP features from REAL decoded PCM — the signal-side quality
    * screen (silence/clipping/noise triage) a multimodal pipeline runs
    * at ingest: per decodable row the sample count, zero-crossing count
    * ((s_i < 0) != (s_{i+1} < 0) — the coarse pitch/noise proxy), total
    * energy Σ s², and Σ|s| — ALL exact integers (PCM16 squares over
    * bounded clips stay far under 2^63), so the features are
    * engine-identical and a SQL oracle can replay them from planted
    * synthesis arithmetic. Non-PCM rows pass through with nulls (the
    * extractAudioMeta stub/quarantine contract decides their fate;
    * this operator only computes where the decode is real). Row-local
    * mapPartitions — no shuffle, codec-free. */
  def extractAudioFeatures(rows: DataFrame): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          wavSamples(bytes) match {
            case Some(s) =>
              var zc = 0L; var energy = 0L; var absSum = 0L
              var i = 0
              while (i < s.length) {
                val v = s(i).toLong
                energy += v * v
                absSum += math.abs(v)
                if (i > 0 && ((s(i - 1) < 0) != (s(i) < 0))) zc += 1
                i += 1
              }
              (id, true, Some(s.length.toLong), Some(zc), Some(energy),
                Some(absSum))
            case None =>
              (id, false, None: Option[Long], None: Option[Long],
                None: Option[Long], None: Option[Long])
          }
        }
      }.toDF("doc_id", "is_audio", "n_samples", "zero_crossings",
        "energy", "abs_sum")
  }

  // ------------------------------------------------------------ EXIF
  // Metadata-level parsing needs NO codec: EXIF is a TIFF-structured
  // IFD embedded in a JPEG APP1 segment (or the IFD of a TIFF file
  // itself), and walking it is pure byte arithmetic — the JDK ships
  // everything required. This is the capture-metadata side of a media
  // pipeline (orientation normalization before resize/phash, capture
  // timestamps for temporal splits) and it must work on payloads this
  // library never wrote, so the walker bound-checks every offset and
  // quarantines malformed claims instead of throwing.

  /** Verdict of an EXIF probe — the metadata twin of the decode
    * trichotomy: FOUND (a well-formed IFD walked; fields that were
    * absent stay None), ABSENT (payload carries no EXIF/IFD claim),
    * CORRUPT (payload claims EXIF — an APP1 "Exif\0\0" header or a
    * TIFF magic — but its IFD is malformed/truncated: quarantine).
    *
    * GPS coordinates ride along when IFD0 carries a GPSInfo pointer
    * (tag 0x8825) to a well-formed GPS sub-IFD: signed MICRO-DEGREES
    * computed in exact integer arithmetic from the spec's
    * degree/minute/second unsigned rationals —
    * sign·(dn·10⁶ div dd + mn·10⁶ div (md·60) + sn·10⁶ div (sd·3600)),
    * truncating division per term, sign from the N/S/E/W ref — so a
    * SQL oracle replays the value bit-for-bit and no float ever forms.
    * GPS is PII a text-level scrub structurally cannot see (it lives
    * in image bytes); surfacing it is what lets a pipeline strip or
    * gate on location before training. */
  sealed trait ExifVerdict
  case class ExifFound(orientation: Option[Long], takenAt: Option[String],
                       bigEndian: Boolean,
                       gpsLatUdeg: Option[Long] = None,
                       gpsLonUdeg: Option[Long] = None) extends ExifVerdict
  case object ExifAbsent extends ExifVerdict
  case object ExifCorrupt extends ExifVerdict

  /** Walk one TIFF-structured IFD chain inside `bytes[tiff, limit)`
    * (`tiff` = offset of the byte-order mark; IFD offsets in the
    * structure are relative to it). Returns None for any structural
    * violation — bad magic, entry table or referenced value data
    * running past `limit`, a GPSInfo pointer whose sub-IFD is
    * malformed. IFD0 is read (EXIF places Orientation 0x0112 and
    * DateTime 0x0132 there) plus the GPS sub-IFD when IFD0 carries
    * the GPSInfo pointer 0x8825 — one more offset hop, same bounds
    * discipline; unknown tags are skipped, so foreign writers' IFDs
    * (the JDK's own TIFF encoder, real cameras) walk cleanly. */
  def parseTiffIfd(bytes: Array[Byte], tiff: Int,
                   limit: Int): Option[ExifFound] = {
    if (tiff + 8 > limit) return None
    val big =
      if (bytes(tiff) == 'M' && bytes(tiff + 1) == 'M') true
      else if (bytes(tiff) == 'I' && bytes(tiff + 1) == 'I') false
      else return None
    val in = new Bytes(bytes, if (big) BIG_ENDIAN else LITTLE_ENDIAN)
    import in.{u16, u32}
    if (u16(tiff + 2) != 42) return None
    val ifdOff = u32(tiff + 4)
    if (ifdOff < 8 || tiff + ifdOff + 2 > limit) return None
    val ifd = tiff + ifdOff.toInt
    val n = u16(ifd)
    if (ifd + 2 + 12 * n + 4 > limit) return None
    var orientation: Option[Long] = None
    var takenAt: Option[String] = None
    var gpsOff: Option[Long] = None
    var i = 0
    while (i < n) {
      val e = ifd + 2 + 12 * i
      val tag = u16(e)
      val typ = u16(e + 2)
      val cnt = u32(e + 4)
      if (tag == 0x0112 && typ == 3 && cnt == 1L) {
        // SHORT count=1: value inline in the first two value bytes
        orientation = Some(u16(e + 8).toLong)
      } else if (tag == 0x0132 && typ == 2 && cnt >= 2L) {
        // ASCII: count>4 means the value field is an offset (relative
        // to the TIFF header) to NUL-terminated text
        val off =
          if (cnt <= 4L) e + 8
          else {
            val v = u32(e + 8)
            if (tiff + v + cnt > limit) return None
            tiff + v.toInt
          }
        takenAt = Some(
          new String(bytes, off, cnt.toInt - 1, "US-ASCII"))
      } else if (tag == 0x8825 && typ == 4 && cnt == 1L) {
        // GPSInfo: LONG offset (relative to the TIFF header) of the
        // GPS sub-IFD
        gpsOff = Some(u32(e + 8))
      }
      i += 1
    }
    var gpsLat: Option[Long] = None
    var gpsLon: Option[Long] = None
    gpsOff match {
      case Some(g) =>
        // a GPSInfo claim with a malformed sub-IFD is CORRUPT, exactly
        // like a malformed IFD0 — location is the one field a privacy
        // pipeline must not silently lose
        if (g < 8 || tiff + g + 2 > limit) return None
        val gifd = tiff + g.toInt
        val gn = u16(gifd)
        if (gifd + 2 + 12 * gn + 4 > limit) return None
        // refs: ASCII count 2, inline ('N'/'S'/'E'/'W' + NUL); coords:
        // three unsigned RATIONALs (deg, min, sec) at a u32 offset
        var latSign: Option[Long] = None
        var lonSign: Option[Long] = None
        var latU: Option[Long] = None
        var lonU: Option[Long] = None
        def refSign(e: Int, pos: Char, neg: Char): Option[Long] =
          (bytes(e + 8) & 0xFF).toChar match {
            case c if c == pos => Some(1L)
            case c if c == neg => Some(-1L)
            case _ => None
          }
        // unsigned micro-degrees from 3 rationals; None = structural
        // violation (bounds / zero denominator)
        def udeg(e: Int): Option[Long] = {
          val v = u32(e + 8)
          if (tiff + v + 24 > limit) return None
          val o = tiff + v.toInt
          val dn = u32(o); val dd = u32(o + 4)
          val mn = u32(o + 8); val md = u32(o + 12)
          val sn = u32(o + 16); val sd = u32(o + 20)
          if (dd == 0L || md == 0L || sd == 0L) None
          else Some(dn * 1000000L / dd + mn * 1000000L / (md * 60L) +
            sn * 1000000L / (sd * 3600L))
        }
        var gi = 0
        while (gi < gn) {
          val e = gifd + 2 + 12 * gi
          val tag = u16(e)
          val typ = u16(e + 2)
          val cnt = u32(e + 4)
          if (tag == 0x0001 && typ == 2 && cnt == 2L) {
            latSign = refSign(e, 'N', 'S')
            if (latSign.isEmpty) return None
          } else if (tag == 0x0002 && typ == 5 && cnt == 3L) {
            latU = udeg(e)
            if (latU.isEmpty) return None
          } else if (tag == 0x0003 && typ == 2 && cnt == 2L) {
            lonSign = refSign(e, 'E', 'W')
            if (lonSign.isEmpty) return None
          } else if (tag == 0x0004 && typ == 5 && cnt == 3L) {
            lonU = udeg(e)
            if (lonU.isEmpty) return None
          }
          gi += 1
        }
        gpsLat = for (s <- latSign; u <- latU) yield s * u
        gpsLon = for (s <- lonSign; u <- lonU) yield s * u
      case None =>
    }
    Some(ExifFound(orientation, takenAt, big, gpsLat, gpsLon))
  }

  /** EXIF probe over one payload. JPEG: walk the marker stream for an
    * APP1 segment whose payload opens "Exif\0\0" and parse the TIFF
    * block inside it (bounded by the segment's declared length and the
    * payload end — a truncated segment is CORRUPT, never an
    * out-of-bounds read). Standalone TIFF: parse its own IFD (a
    * camera-written TIFF carries orientation in IFD0 exactly like
    * EXIF). Anything else — including a JPEG with no APP1/Exif — is
    * ABSENT. */
  def exifMeta(bytes: Array[Byte]): ExifVerdict = {
    val be = new Bytes(bytes, BIG_ENDIAN)
    import be.{u16 => be16}
    if (bytes.length >= 4 &&
      ((bytes(0) == 'I' && bytes(1) == 'I' && bytes(2) == 0x2A &&
        bytes(3) == 0) ||
        (bytes(0) == 'M' && bytes(1) == 'M' && bytes(2) == 0 &&
          bytes(3) == 0x2A))) {
      return parseTiffIfd(bytes, 0, bytes.length)
        .fold[ExifVerdict](ExifCorrupt)(identity)
    }
    if (bytes.length < 4 || (bytes(0) & 0xFF) != 0xFF ||
      (bytes(1) & 0xFF) != 0xD8) return ExifAbsent
    var off = 2
    while (off + 4 <= bytes.length && (bytes(off) & 0xFF) == 0xFF) {
      val marker = bytes(off + 1) & 0xFF
      if (marker == 0xFF) { // 0xFF fill bytes may pad before a marker
        off += 1
      } else if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD7)) {
        // STANDALONE markers (TEM, RST0-7) carry no length field —
        // reading one as a segment would mis-walk every marker after
        // it (EXIF misreported absent on real-world payloads)
        off += 2
      } else {
      if (marker == 0xD9 || marker == 0xDA) return ExifAbsent // SOS/EOI
      val len = be16(off + 2)
      if (len < 2) return ExifAbsent
      val segEnd = off + 2 + len
      if (marker == 0xE1 && off + 10 <= bytes.length &&
        bytes(off + 4) == 'E' && bytes(off + 5) == 'x' &&
        bytes(off + 6) == 'i' && bytes(off + 7) == 'f' &&
        bytes(off + 8) == 0 && bytes(off + 9) == 0) {
        // the declared segment may overrun the payload (truncated
        // file) — clamp, and let the IFD walker flag the cut
        val limit = math.min(segEnd, bytes.length)
        return parseTiffIfd(bytes, off + 10, limit)
          .fold[ExifVerdict](ExifCorrupt)(identity)
      }
      off = segEnd
      }
    }
    ExifAbsent
  }

  /** Deterministic JPEG-with-EXIF payload: a real decodable JPEG
    * ([[syntheticImage]]) with an APP1 Exif segment spliced after SOI —
    * IFD0 carries Orientation 0x0112 = `orientation` and DateTime
    * 0x0132 = `takenAt`, in either byte order. Decoders ignore APP1,
    * so the image stays decodable; EXIF readers (this library's and
    * real ones) see the planted tags. */
  def syntheticExifJpeg(w: Int, h: Int, seed: Long, orientation: Int,
                        takenAt: String, bigEndian: Boolean): Array[Byte] = {
    val jpeg = syntheticImage(w, h, seed, "jpg")
    val app1 = exifApp1(orientation, takenAt, bigEndian)
    val out = new Array[Byte](jpeg.length + app1.length)
    out(0) = jpeg(0); out(1) = jpeg(1) // SOI
    app1.copyToArray(out, 2)
    System.arraycopy(jpeg, 2, out, 2 + app1.length, jpeg.length - 2)
    out
  }

  /** The APP1 Exif segment bytes (marker..value data) — IFD0 with
    * exactly {Orientation, DateTime}, DateTime data right after the
    * entry table. */
  private def exifApp1(orientation: Int, takenAt: String,
                       bigEndian: Boolean): Array[Byte] = {
    val dt = takenAt.getBytes("US-ASCII") :+ 0.toByte // NUL-terminated
    // TIFF block: header(8) + count(2) + 2 entries(24) + next(4) + dt
    val tiffLen = 8 + 2 + 24 + 4 + dt.length
    val segLen = 2 + 6 + tiffLen // length field + "Exif\0\0" + TIFF
    val b = new Array[Byte](2 + segLen)
    val out = new Bytes(b, if (bigEndian) BIG_ENDIAN else LITTLE_ENDIAN)
    import out.{p16, p32}
    b(0) = 0xFF.toByte; b(1) = 0xE1.toByte
    b(2) = ((segLen >> 8) & 0xFF).toByte; b(3) = (segLen & 0xFF).toByte
    "Exif".getBytes("US-ASCII").copyToArray(b, 4)
    b(8) = 0; b(9) = 0
    val t = 10 // TIFF header offset in b
    if (bigEndian) { b(t) = 'M'; b(t + 1) = 'M' }
    else { b(t) = 'I'; b(t + 1) = 'I' }
    p16(t + 2, 42); p32(t + 4, 8L)
    p16(t + 8, 2) // two entries
    val e0 = t + 10
    p16(e0, 0x0112); p16(e0 + 2, 3); p32(e0 + 4, 1L)
    p16(e0 + 8, orientation); p16(e0 + 10, 0)
    val e1 = e0 + 12
    p16(e1, 0x0132); p16(e1 + 2, 2); p32(e1 + 4, dt.length.toLong)
    p32(e1 + 8, 38L) // 8 header + 2 count + 24 entries + 4 next
    p32(e1 + 12, 0L) // next-IFD
    dt.copyToArray(b, t + 38)
    b
  }

  /** Deterministic JPEG with EXIF + GPS: [[syntheticExifJpeg]]'s IFD0
    * plus the GPSInfo pointer and a GPS sub-IFD holding
    * {LatitudeRef, Latitude, LongitudeRef, Longitude} — latitude/
    * longitude as (deg/1, min/1, secNum/secDen) unsigned rationals in
    * either byte order, so the rational arithmetic (not just offsets)
    * is exercised. `corruptGps = true` keeps the GPSInfo claim but
    * points it past the payload — the quarantine fixture for a
    * malformed GPS sub-IFD. */
  def syntheticExifGpsJpeg(w: Int, h: Int, seed: Long, orientation: Int,
                           takenAt: String, bigEndian: Boolean,
                           latDeg: Int, latMin: Int, latSecNum: Int,
                           latSecDen: Int, north: Boolean,
                           lonDeg: Int, lonMin: Int, lonSecNum: Int,
                           lonSecDen: Int, east: Boolean,
                           corruptGps: Boolean = false): Array[Byte] = {
    val jpeg = syntheticImage(w, h, seed, "jpg")
    val app1 = exifGpsApp1(orientation, takenAt, bigEndian,
      latDeg, latMin, latSecNum, latSecDen, north,
      lonDeg, lonMin, lonSecNum, lonSecDen, east, corruptGps)
    val out = new Array[Byte](jpeg.length + app1.length)
    out(0) = jpeg(0); out(1) = jpeg(1) // SOI
    app1.copyToArray(out, 2)
    System.arraycopy(jpeg, 2, out, 2 + app1.length, jpeg.length - 2)
    out
  }

  /** APP1 Exif segment with IFD0 {Orientation, DateTime, GPSInfo} and
    * the GPS sub-IFD {LatRef, Lat, LonRef, Lon} behind it. */
  private def exifGpsApp1(orientation: Int, takenAt: String,
                          bigEndian: Boolean,
                          latDeg: Int, latMin: Int, latSecNum: Int,
                          latSecDen: Int, north: Boolean,
                          lonDeg: Int, lonMin: Int, lonSecNum: Int,
                          lonSecDen: Int, east: Boolean,
                          corruptGps: Boolean): Array[Byte] = {
    val dt = takenAt.getBytes("US-ASCII") :+ 0.toByte
    // IFD0: header(8) + count(2) + 3 entries(36) + next(4) = 50, then
    // dt; GPS IFD: count(2) + 4 entries(48) + next(4) = 54, then
    // 2 × 3 rationals (24 each)
    val gpsIfd = 50 + dt.length
    val tiffLen = gpsIfd + 54 + 48
    val segLen = 2 + 6 + tiffLen
    val b = new Array[Byte](2 + segLen)
    val out = new Bytes(b, if (bigEndian) BIG_ENDIAN else LITTLE_ENDIAN)
    import out.{p16, p32}
    b(0) = 0xFF.toByte; b(1) = 0xE1.toByte
    b(2) = ((segLen >> 8) & 0xFF).toByte; b(3) = (segLen & 0xFF).toByte
    "Exif".getBytes("US-ASCII").copyToArray(b, 4)
    b(8) = 0; b(9) = 0
    val t = 10
    if (bigEndian) { b(t) = 'M'; b(t + 1) = 'M' }
    else { b(t) = 'I'; b(t + 1) = 'I' }
    p16(t + 2, 42); p32(t + 4, 8L)
    p16(t + 8, 3) // three IFD0 entries
    val e0 = t + 10
    p16(e0, 0x0112); p16(e0 + 2, 3); p32(e0 + 4, 1L)
    p16(e0 + 8, orientation); p16(e0 + 10, 0)
    val e1 = e0 + 12
    p16(e1, 0x0132); p16(e1 + 2, 2); p32(e1 + 4, dt.length.toLong)
    p32(e1 + 8, 50L)
    val e2 = e1 + 12
    p16(e2, 0x8825); p16(e2 + 2, 4); p32(e2 + 4, 1L)
    p32(e2 + 8, if (corruptGps) tiffLen + 1000L else gpsIfd.toLong)
    p32(e2 + 12, 0L) // next-IFD
    dt.copyToArray(b, t + 50)
    // GPS sub-IFD
    val g = t + gpsIfd
    p16(g, 4)
    def refEntry(o: Int, tag: Int, c: Char): Unit = {
      p16(o, tag); p16(o + 2, 2); p32(o + 4, 2L)
      b(o + 8) = c.toByte; b(o + 9) = 0; b(o + 10) = 0; b(o + 11) = 0
    }
    val latRatOff = gpsIfd + 54
    val lonRatOff = latRatOff + 24
    refEntry(g + 2, 0x0001, if (north) 'N' else 'S')
    p16(g + 14, 0x0002); p16(g + 16, 5); p32(g + 18, 3L)
    p32(g + 22, latRatOff.toLong)
    refEntry(g + 26, 0x0003, if (east) 'E' else 'W')
    p16(g + 38, 0x0004); p16(g + 40, 5); p32(g + 42, 3L)
    p32(g + 46, lonRatOff.toLong)
    p32(g + 50, 0L) // next-IFD
    def rats(o: Int, deg: Int, min: Int, sn: Int, sd: Int): Unit = {
      p32(o, deg.toLong); p32(o + 4, 1L)
      p32(o + 8, min.toLong); p32(o + 12, 1L)
      p32(o + 16, sn.toLong); p32(o + 20, sd.toLong)
    }
    rats(t + latRatOff, latDeg, latMin, latSecNum, latSecDen)
    rats(t + lonRatOff, lonDeg, lonMin, lonSecNum, lonSecDen)
    b
  }

  /** Deterministic CORRUPT EXIF payload: SOI + an APP1 that declares a
    * full Exif segment but ends 12 bytes in — claims EXIF, and the
    * IFD walk runs out of bytes. The quarantine fixture for
    * [[extractExif]]. */
  def truncatedExifJpeg(seed: Long, orientation: Int,
                        takenAt: String): Array[Byte] = {
    val full = syntheticExifJpeg(3, 3, seed, orientation, takenAt,
      bigEndian = false)
    full.take(2 + 12) // SOI + marker/len/"Exif\0\0" + 2 TIFF bytes
  }

  /** Partition-wise EXIF extraction over a `(doc_id, media binary)`
    * frame — the capture-metadata stage of a media pipeline, pure byte
    * walking (works against 100 TB of crawl media with no codec
    * installed): orientation + capture timestamp + byte order for
    * payloads with a well-formed EXIF/IFD; CORRUPT claims quarantined
    * with nulled fields; everything else passes through as
    * has_exif = false. Row-local, no shuffle. */
  def extractExif(rows: DataFrame): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          exifMeta(bytes) match {
            case ExifFound(o, dt, big, lat, lon) =>
              (id, true, false, o, dt, Some(big), lat, lon)
            case ExifCorrupt =>
              (id, false, true, None: Option[Long],
                None: Option[String], None: Option[Boolean],
                None: Option[Long], None: Option[Long])
            case ExifAbsent =>
              (id, false, false, None: Option[Long],
                None: Option[String], None: Option[Boolean],
                None: Option[Long], None: Option[Long])
          }
        }
      }.toDF("doc_id", "has_exif", "quarantined", "orientation",
        "taken_at", "big_endian", "gps_lat_udeg", "gps_lon_udeg")
  }

  /** Attach the media payload as a BINARY column (stand-in for reading
    * image/audio bytes from a blob store column). */
  def withMediaBinary(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("media", col(textCol).cast("binary"))

  /** Partition-wise decode: BINARY payload → typed MediaMeta rows.
    * One digest (⇒ one codec) instance per partition, rows streamed.
    */
  def extractMeta(docs: DataFrame): Dataset[MediaMeta] = {
    val spark = docs.sparkSession
    import spark.implicits._
    withMediaBinary(docs, "text")
      .select(col("doc_id"), col("media"), col("n_chars"))
      .as[(Long, Array[Byte], Long)]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes, nChars) =>
          decodeStub(id, bytes, nChars, digest)
        }
      }
  }

  /** Video frame sampling: one row per kept frame, every `stride`-th
    * frame of each media row (frame 0 always kept). The fan-out is a
    * row-local generate (sequence + explode — no shuffle, no driver
    * loop); each frame gets a stable uid so downstream per-frame stages
    * (dedup, embedding) can key on it. Media with zero frames (images /
    * corrupt rows) simply produce no output rows.
    */
  def sampleFrames(meta: Dataset[MediaMeta], stride: Int): DataFrame =
    meta.toDF()
      .where(col("frames") > 0)
      .select(col("doc_id"), col("content_id"), col("frames"),
        explode(sequence(lit(0L), col("frames") - 1L, lit(stride.toLong)))
          .as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        md5(concat(col("content_id"), lit(":"),
          col("frame_idx").cast("string"))).as("frame_uid"))

  /** REAL nearest-neighbor resize for ImageIO-decodable payloads (the
    * PNG/BMP/GIF/JPEG formats the JDK decodes — same real/stub/
    * quarantine trichotomy as [[extractMetaDecoded]]): decode, sample
    * the raster at `srcX = xo·W div w` / `srcY = yo·H div h`, and emit
    * the w×h thumbnail as packed RGB bytes plus `pix_sum` — the exact
    * integer sum of the sampled 24-bit pixels, the deterministic
    * raster fingerprint a media pipeline stores for thumbnail-level
    * dedup (and the value the oracle recomputes from planted-pixel
    * arithmetic for lossless formats). Rows that CLAIM an image magic
    * but fail decode are quarantined (null raster); non-image rows
    * take the digest-cycled stub path (byte-sum replayable from the
    * payload md5). One codec/digest instance per partition.
    */
  def resizeReal(media: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) =>
          val img = readRaster(bytes)
          if (img != null) {
            val out = new Array[Byte](w * h * 3)
            var sum = 0L
            var yo = 0
            while (yo < h) {
              var xo = 0
              while (xo < w) {
                val sx = xo * img.getWidth / w
                val sy = yo * img.getHeight / h
                val rgb = img.getRGB(sx, sy) & 0xFFFFFF
                sum += rgb
                val o = (yo * w + xo) * 3
                out(o) = ((rgb >> 16) & 0xFF).toByte
                out(o + 1) = ((rgb >> 8) & 0xFF).toByte
                out(o + 2) = (rgb & 0xFF).toByte
                xo += 1
              }
              yo += 1
            }
            (id, "real", out, Some(w.toLong), Some(h.toLong), Some(sum))
          } else if (looksLikeImage(bytes)) {
            (id, "quarantine", null: Array[Byte],
              None: Option[Long], None: Option[Long], None: Option[Long])
          } else {
            digest.reset()
            val seed = digest.digest(bytes)
            val out = Array.tabulate[Byte](w * h)(i => seed(i % seed.length))
            val sum = out.foldLeft(0L)((a, b) => a + (b & 0xFF))
            (id, "stub", out, Some(w.toLong), Some(h.toLong), Some(sum))
          }
        }
      }.toDF("doc_id", "path", "media", "out_w", "out_h", "pix_sum")
  }
}
