package graft

import graft.Tables
import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {

  test("extractMeta: schema contract and deterministic stub features") {
    val docs = Tables.load(spark, sf0001, "documents").limit(20)
    val out = Multimodal.extractMeta(docs).collect()
    assert(out.length == 20)
    out.foreach { m =>
      assert(m.content_id.length == 32, "md5 hex content id")
      assert(m.n_bytes > 0)
      assert(m.width == m.n_bytes % 640)
      assert(m.height == (m.n_bytes * 7) % 480)
    }
  }

  test("decodeImage reads REAL PNG dimensions; non-image bytes fall " +
    "back to the stub") {
    val digest = java.security.MessageDigest.getInstance("MD5")
    val png = Multimodal.syntheticPng(5, 3, seed = 42L)
    // PNG magic: a real encoder wrote this, a real decoder reads it
    assert((png(0) & 0xFF) == 0x89 && png(1) == 'P'.toByte)
    val (meta, isImg) = Multimodal.decodeImage(7L, png, 99L, digest)
    assert(isImg && meta.width == 5 && meta.height == 3 && meta.frames == 1)
    assert(meta.n_bytes == png.length)
    val (stub, isImg2) = Multimodal.decodeImage(
      7L, "not an image".getBytes("UTF-8"), 99L, digest)
    assert(!isImg2 && stub.width == stub.n_bytes % 640)
  }

  test("extractMetaDecoded decodes mixed media partition-wise and " +
    "quarantines corrupt image payloads") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.syntheticPng(11, 4, 1L), 10L),
      (2L, "plain text payload".getBytes("UTF-8"), 18L),
      (3L, Multimodal.syntheticImage(9, 6, 3L, "bmp"), 12L),
      (4L, Multimodal.syntheticImage(7, 2, 4L, "gif"), 13L),
      (5L, Multimodal.corruptImagePayload(5L), 14L))
      .toDF("doc_id", "media", "n_chars")
    val out = Multimodal.extractMetaDecoded(rows)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4),
          if (r.isNullAt(5)) -1L else r.getLong(5)))).toMap
    assert(out(1L) == ((true, false, 11L, 4L, 1L)), "real PNG dims")
    assert(out(3L) == ((true, false, 9L, 6L, 1L)), "real BMP dims")
    assert(out(4L) == ((true, false, 7L, 2L, 1L)), "real GIF dims")
    val nb = "plain text payload".getBytes("UTF-8").length.toLong
    assert(out(2L) == ((false, false, nb % 640, nb * 7 % 480, 18L % 30)),
      "non-image bytes take the stub fallback, not quarantine")
    assert(out(5L) == ((false, true, -1L, -1L, -1L)),
      "image magic + failed decode must quarantine with nulled meta")
  }

  test("TIFF: real decode, truncated-payload quarantine, both byte " +
    "orders claimed") {
    import spark.implicits._
    val tiff = Multimodal.syntheticImage(8, 5, 21L, "tiff")
    assert(tiff(0) == 'I'.toByte || tiff(0) == 'M'.toByte,
      "JDK TIFF writer must emit a II/MM header")
    assert(Multimodal.looksLikeImage(tiff))
    // big-endian header variant is a claim too
    assert(Multimodal.looksLikeImage(
      Array[Byte]('M', 'M', 0, 0x2A, 1, 2, 3, 4)))
    val rows = Seq(
      (1L, tiff, 10L),
      (2L, tiff.take(10), 11L), // truncated: claims, cannot decode
      (3L, "ordinary text row".getBytes("UTF-8"), 12L))
      .toDF("doc_id", "media", "n_chars")
    val out = Multimodal.extractMetaDecoded(rows)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    assert(out(1L) == ((true, false, 8L, 5L)), "real TIFF dims")
    assert(out(2L) == ((false, true, -1L, -1L)),
      "truncated TIFF must quarantine, never stub")
    assert(out(3L)._1 == false && out(3L)._2 == false,
      "text must stay on the stub lane")
  }

  test("sniffs never claim on printable-ASCII text (property over " +
    "seeded random prose, including 'BM'/'RIFF'/'GIF8' prefixes)") {
    val rnd = new scala.util.Random(42)
    val prefixes = Seq("", "BM", "RIFF", "GIF8", "BM ", "RIFF ")
    (0 until 500).foreach { i =>
      val body = Array.fill(rnd.nextInt(200))(
        (0x20 + rnd.nextInt(0x5F)).toChar).mkString
      val s = prefixes(i % prefixes.length) + body
      val b = s.getBytes("US-ASCII")
      // GIF8 prose CAN claim (the 4-byte magic is its full header
      // sniff) — that is the documented limit; BM and RIFF must not,
      // their tightened sniffs check binary header structure
      if (!s.startsWith("GIF8"))
        assert(!Multimodal.looksLikeImage(b),
          s"text must not claim image: ${s.take(30)}")
      assert(!Multimodal.looksLikeAudio(b),
        s"text must not claim audio: ${s.take(30)}")
    }
    // and the real payloads still claim
    assert(Multimodal.looksLikeImage(Multimodal.syntheticImage(3, 3, 1L, "bmp")))
    assert(Multimodal.looksLikeAudio(Multimodal.syntheticWav(4, 8000, 1L)))
  }

  test("codec-boundary trichotomy is exhaustive and mutually exclusive " +
    "over the planted media fixture (real / stub / quarantine)") {
    import spark.implicits._
    // one payload per documented class, including the sniff edge cases
    // (ordinary text starting with 'BM' / 'RIFF' must take the STUB
    // path, not quarantine)
    val fixture = Seq(
      1L -> Multimodal.syntheticImage(5, 4, 1L, "png"),
      2L -> Multimodal.syntheticImage(6, 3, 2L, "bmp"),
      3L -> Multimodal.syntheticImage(4, 4, 3L, "gif"),
      4L -> Multimodal.syntheticImage(8, 2, 4L, "jpg"),
      5L -> Multimodal.syntheticAnimatedGif(3, 3, 4, 5L),
      6L -> Multimodal.corruptImagePayload(6L),
      7L -> "just ordinary prose, no media claim".getBytes("UTF-8"),
      8L -> "BMW drivers wrote this text payload".getBytes("UTF-8"),
      9L -> "RIFF through this prose, no audio here".getBytes("UTF-8"))
    val img = Multimodal.extractMetaDecoded(
      fixture.map { case (id, b) => (id, b, 10L) }
        .toDF("doc_id", "media", "n_chars"))
      .select("doc_id", "is_image", "quarantined").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    // exhaustive: every row classified; exclusive: never both flags
    assert(img.size == fixture.size)
    img.values.foreach { case (real, quar) => assert(!(real && quar)) }
    Seq(1L, 2L, 3L, 4L, 5L).foreach(id =>
      assert(img(id) == ((true, false)), s"doc $id must REAL-decode"))
    assert(img(6L) == ((false, true)), "corrupt claim must QUARANTINE")
    Seq(7L, 8L, 9L).foreach(id =>
      assert(img(id) == ((false, false)),
        s"doc $id must take the honest STUB path (no false claim)"))
    // audio trichotomy over the same contract
    val aud = Multimodal.extractAudioMeta(Seq(
        11L -> Multimodal.syntheticWav(160, 8000, 11L),
        12L -> Multimodal.corruptAudioPayload(12L),
        13L -> "RIFF riff prose that is not a container".getBytes("UTF-8"),
        14L -> "no claim at all".getBytes("UTF-8"))
      .toDF("doc_id", "media"))
      .select("doc_id", "is_audio", "quarantined").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(aud(11L) == ((true, false)) && aud(12L) == ((false, true)) &&
      aud(13L) == ((false, false)) && aud(14L) == ((false, false)))
  }

  test("decodeWav parses real PCM headers; corrupt RIFF quarantines") {
    val wav = Multimodal.syntheticWav(320, 16000, seed = 9L)
    val m = Multimodal.decodeWav(wav).get
    assert(m.channels == 1 && m.sampleRate == 16000 && m.bits == 16)
    assert(m.nSamples == 320 && m.durationMs == 20)
    assert(Multimodal.looksLikeAudio(wav))
    val bad = Multimodal.corruptAudioPayload(9L)
    assert(Multimodal.decodeWav(bad).isEmpty &&
      Multimodal.looksLikeAudio(bad),
      "corrupt RIFF must fail the parse while claiming audio")
    assert(Multimodal.decodeWav("plain text".getBytes("UTF-8")).isEmpty)
  }

  test("extractAudioMeta splits decoded / quarantined / not-audio") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.syntheticWav(8000, 8000, 1L)),
      (2L, Multimodal.corruptAudioPayload(2L)),
      (3L, "text payload".getBytes("UTF-8")))
      .toDF("doc_id", "media")
    val out = Multimodal.extractAudioMeta(rows).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(6)) -1L else r.getLong(6)))).toMap
    assert(out(1L) == ((true, false, 8000L, 1000L)))
    assert(out(2L) == ((false, true, -1L, -1L)))
    assert(out(3L) == ((false, false, -1L, -1L)))
  }

  test("animated GIF round-trips its exact frame count and dims") {
    val gif = Multimodal.syntheticAnimatedGif(4, 3, 5, seed = 11L)
    assert(Multimodal.realFrameCount(gif).contains((4L, 3L, 5L)))
    // a still PNG reports one frame; garbage reports none
    assert(Multimodal.realFrameCount(
      Multimodal.syntheticPng(2, 2, 1L)).contains((2L, 2L, 1L)))
    assert(Multimodal.realFrameCount("nope".getBytes("UTF-8")).isEmpty)
  }

  test("sampleFramesDecoded fans out decoded frame counts by stride") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.syntheticAnimatedGif(2, 2, 5, 1L)),
      (2L, "not media".getBytes("UTF-8")))
      .toDF("doc_id", "media")
    val out = Multimodal.sampleFramesDecoded(rows, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet === Set((1L, 0L, 5L), (1L, 2L, 5L), (1L, 4L, 5L)),
      s"got ${out.toSeq}")
  }

  test("sampleFrames keeps every stride-th frame with stable uids") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf0001, "documents").limit(40)
    val meta = Multimodal.extractMeta(docs)
    val frames = Multimodal.sampleFrames(meta, 5)
    val perDoc = frames.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    meta.collect().foreach { m =>
      val expect = if (m.frames > 0) (m.frames + 4) / 5 else 0L
      assert(perDoc.getOrElse(m.doc_id, 0L) == expect,
        s"doc ${m.doc_id} frames=${m.frames}")
    }
    // uid is a function of (content, frame): re-running yields same uids
    val a = frames.select("frame_uid").collect().map(_.getString(0)).toSet
    val b = Multimodal.sampleFrames(Multimodal.extractMeta(docs), 5)
      .select("frame_uid").collect().map(_.getString(0)).toSet
    assert(a == b && a.nonEmpty)
  }

  test("media binary column round-trips UTF-8 byte length") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf0001, "documents").limit(50)
    val mismatch = Multimodal.withMediaBinary(docs, "text")
      .where(length(col("media")) =!= octet_length(col("text")))
      .count()
    assert(mismatch == 0)
  }

  test("resizeReal: exact NN thumbnail of a lossless raster, " +
    "quarantine and stub paths intact") {
    import spark.implicits._
    val media = Seq(
      (1L, Multimodal.syntheticPng(8, 6, 42L)), // real: 8x6 -> 4x3
      (2L, Multimodal.corruptImagePayload(7L)), // claims PNG, fails
      (3L, "plain text".getBytes("UTF-8"))) // stub
      .toDF("doc_id", "media")
    val out = Multimodal.resizeReal(media, 4, 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) === "real")
    assert(out(2L).getString(1) === "quarantine")
    assert(out(3L).getString(1) === "stub")
    // hand-verify every sampled pixel: srcX = xo*8/4, srcY = yo*6/3,
    // planted rgb = ((seed + x*31 + y*131) * 2654435761) & 0xFFFFFF
    val bytes = out(1L).getAs[Array[Byte]](2)
    assert(bytes.length === 4 * 3 * 3)
    var expSum = 0L
    for (yo <- 0 until 3; xo <- 0 until 4) {
      val (sx, sy) = (xo * 8 / 4, yo * 6 / 3)
      val rgb = ((42L + sx * 31L + sy * 131L) * 2654435761L) & 0xFFFFFFL
      expSum += rgb
      val o = (yo * 4 + xo) * 3
      val got = ((bytes(o) & 0xFFL) << 16) |
        ((bytes(o + 1) & 0xFFL) << 8) | (bytes(o + 2) & 0xFFL)
      assert(got === rgb, s"pixel ($xo,$yo) mismatch")
    }
    assert(out(1L).getLong(5) === expSum)
    assert(out(2L).isNullAt(5))
  }

  test("wavSamples round-trips the planted PCM16 values exactly") {
    val seed = 77L
    val wav = Multimodal.syntheticWav(16, 8000, seed)
    val got = Multimodal.wavSamples(wav).get
    val exp = (0 until 16).map { i =>
      (((seed + i * 2654435761L) >>> 16) & 0xFFFF).toInt.toShort.toInt
    }
    assert(got.toSeq == exp)
    // corrupt container and plain text decode no samples
    assert(Multimodal.wavSamples(Multimodal.corruptAudioPayload(1L)).isEmpty)
    assert(Multimodal.wavSamples("RIFFxxxxTEXT".getBytes("US-ASCII")).isEmpty)
  }

  test("extractImageFeatures channel sums match planted pixel arithmetic") {
    import spark.implicits._
    val media = Seq(
      (1L, Multimodal.syntheticImage(4, 3, 1L, "png")),
      (2L, Multimodal.syntheticImage(5, 2, 2L, "bmp")),
      (3L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "media")
    val out = Multimodal.extractImageFeatures(media)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(3L).getBoolean(1) === false)
    assert(out(3L).isNullAt(4))
    for ((id, w, h) <- Seq((1L, 4, 3), (2L, 5, 2))) {
      var er = 0L; var eg = 0L; var eb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = ((id + x * 31L + y * 131L) * 2654435761L) & 0xFFFFFFL
        er += (rgb >> 16) & 0xFF; eg += (rgb >> 8) & 0xFF; eb += rgb & 0xFF
      }
      val r = out(id)
      assert(r.getBoolean(1) && r.getLong(2) == w.toLong &&
        r.getLong(3) == h.toLong)
      assert((r.getLong(4), r.getLong(5), r.getLong(6)) == ((er, eg, eb)),
        s"image $id channel sums mismatch")
    }
  }

  test("imagePerceptualHashes packs the exact mean-threshold bits") {
    import spark.implicits._
    val media = Seq(
      (1L, Multimodal.syntheticImage(4, 3, 9L, "png")),
      (2L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "media")
    val out = Multimodal.imagePerceptualHashes(media)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out(2L).getBoolean(1) && out(2L).isNullAt(4))
    // driver replay of the bit packing
    val grays = for (y <- 0 until 3; x <- 0 until 4) yield {
      val rgb = ((9L + x * 31L + y * 131L) * 2654435761L) & 0xFFFFFFL
      ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
    }
    val tot = grays.sum
    val expect = grays.zipWithIndex.collect {
      case (g, i) if g * grays.length >= tot => 1L << i
    }.sum
    assert(out(1L).getBoolean(1) && out(1L).getLong(4) === expect)
  }

  test("phashNearDupPairs: pigeonhole recall inside the Hamming " +
    "budget, exact distances, dimension isolation") {
    import spark.implicits._
    // 40 base images; twins get a one-bit pixel perturbation
    val media = (0L until 80L).map { id =>
      val base = id / 2
      (id, Multimodal.syntheticImage((base % 4).toInt + 3,
        (base % 2).toInt + 2, base * 13 + 5, "png",
        if (id % 2 == 1) 1 else 0))
    }.toDF("doc_id", "media")
    val hashes = Multimodal.imagePerceptualHashes(media)
    val pairs = Multimodal.phashNearDupPairs(hashes, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // exhaustive ground truth from the hashes themselves
    val hs = hashes.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    val truth = (for {
      (a, wa, ha, pa) <- hs; (b, wb, hb, pb) <- hs
      if a < b && wa == wb && ha == hb
      d = java.lang.Long.bitCount(pa ^ pb)
      if d <= 2
    } yield (a, b) -> d.toLong).toMap
    assert(pairs == truth, "banded screen must equal exhaustive search")
    // every planted twin pair is within budget and found
    (0L until 40L).foreach { base =>
      assert(pairs.contains((base * 2, base * 2 + 1)),
        s"planted twin pair of base $base missed")
    }
  }

  test("extractAudioFeatures matches a driver-side DSP replay") {
    import spark.implicits._
    val media = Seq(
      (1L, Multimodal.syntheticWav(50, 8000, 1L)),
      (2L, Multimodal.corruptAudioPayload(2L)),
      (3L, "just text".getBytes("UTF-8")))
      .toDF("doc_id", "media")
    val out = Multimodal.extractAudioFeatures(media)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(1) && !out(2L).getBoolean(1)
      && !out(3L).getBoolean(1))
    assert(out(2L).isNullAt(4) && out(3L).isNullAt(4))
    val s = (0 until 50).map { i =>
      (((1L + i * 2654435761L) >>> 16) & 0xFFFF).toInt.toShort.toLong
    }
    assert(out(1L).getLong(2) === 50L)
    assert(out(1L).getLong(3) ===
      s.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)).toLong)
    assert(out(1L).getLong(4) === s.map(v => v * v).sum)
    assert(out(1L).getLong(5) === s.map(math.abs).sum)
  }

  test("EXIF: planted JPEG APP1 round-trips in both byte orders and " +
    "stays a decodable image") {
    for (big <- Seq(false, true)) {
      val b = Multimodal.syntheticExifJpeg(5, 4, 77L, 6,
        "2026:03:09 14:07:21", big)
      Multimodal.exifMeta(b) match {
        case Multimodal.ExifFound(o, dt, be, lat, lon) =>
          assert(o.contains(6L), s"orientation (big=$big)")
          assert(lat.isEmpty && lon.isEmpty,
            "no GPS IFD was planted: coordinates must stay None")
          assert(dt.contains("2026:03:09 14:07:21"), s"datetime (big=$big)")
          assert(be == big, "parsed byte order must match the written one")
        case v => fail(s"expected ExifFound, got $v (big=$big)")
      }
      // APP1 must not break the image: decoders skip it
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(b))
      assert(img != null && img.getWidth == 5 && img.getHeight == 4,
        s"EXIF-spliced JPEG must still decode (big=$big)")
    }
  }

  test("EXIF verdicts: truncated APP1 quarantines, a FOREIGN JDK TIFF " +
    "IFD walks cleanly with no orientation, non-claims are absent") {
    assert(Multimodal.exifMeta(Multimodal.truncatedExifJpeg(5L, 3,
      "2026:01:01 00:00:00")) == Multimodal.ExifCorrupt,
      "declared-but-cut APP1 must be CORRUPT, not absent")
    // the JDK's own TIFF writer: 12 baseline tags, MM order, no
    // 0x0112/0x0132 — the walker must skip unknown tags, not choke
    Multimodal.exifMeta(Multimodal.syntheticImage(8, 5, 21L, "tiff")) match {
      case Multimodal.ExifFound(o, dt, be, _, _) =>
        assert(o.isEmpty && dt.isEmpty && be,
          "foreign baseline IFD: present, no orientation/datetime, MM")
      case v => fail(s"expected ExifFound on a real TIFF IFD, got $v")
    }
    assert(Multimodal.exifMeta(
      "plain text".getBytes("UTF-8")) == Multimodal.ExifAbsent)
    assert(Multimodal.exifMeta(
      Multimodal.syntheticImage(3, 3, 9L, "jpg")) == Multimodal.ExifAbsent,
      "a JPEG without an Exif APP1 is ABSENT, not corrupt")
  }

  test("EXIF walker skips 0xFF fill bytes before a marker (the JPEG " +
    "padding rule real encoders use)") {
    val b = Multimodal.syntheticExifJpeg(3, 3, 5L, 7,
      "2026:02:02 02:02:02", bigEndian = false)
    // splice two fill bytes between SOI and the APP1 marker
    val padded = Array[Byte](b(0), b(1), 0xFF.toByte, 0xFF.toByte) ++
      b.drop(2)
    Multimodal.exifMeta(padded) match {
      case Multimodal.ExifFound(o, dt, _, _, _) =>
        assert(o.contains(7L) && dt.contains("2026:02:02 02:02:02"))
      case v => fail(s"padded APP1 must still parse, got $v")
    }
    // STANDALONE markers (TEM 0x01, RST0-7) carry no length field: a
    // walker that reads one as a segment mis-walks everything after it
    val withTem = Array[Byte](b(0), b(1), 0xFF.toByte, 0x01.toByte) ++
      b.drop(2)
    val withRst = Array[Byte](b(0), b(1), 0xFF.toByte, 0xD3.toByte) ++
      b.drop(2)
    for ((p, tag) <- Seq((withTem, "TEM"), (withRst, "RST3")))
      Multimodal.exifMeta(p) match {
        case Multimodal.ExifFound(o, _, _, _, _) =>
          assert(o.contains(7L), s"$tag: orientation lost")
        case v => fail(s"APP1 after a standalone $tag must parse, got $v")
      }
  }

  test("EXIF GPS: planted sub-IFD round-trips in both byte orders as " +
    "exact signed micro-degrees; corrupt GPS quarantines") {
    for (big <- Seq(false, true)) {
      // 37°48'14.04"N, 122°25'9.96"W — seconds as 1404/100, 996/100
      val b = Multimodal.syntheticExifGpsJpeg(3, 3, 9L, 1,
        "2026:01:02 03:04:05", big,
        37, 48, 1404, 100, north = true,
        122, 25, 996, 100, east = false)
      Multimodal.exifMeta(b) match {
        case Multimodal.ExifFound(o, dt, be, lat, lon) =>
          assert(o.contains(1L) && dt.contains("2026:01:02 03:04:05") &&
            be == big)
          // 37·10⁶ + 48·10⁶ div 60 + 1404·10⁶ div 360000
          assert(lat.contains(37000000L + 800000L + 3900L),
            s"lat (big=$big): $lat")
          // −(122·10⁶ + 25·10⁶ div 60 + 996·10⁶ div 360000); the
          // minute term truncates: 25000000 div 60 = 416666
          assert(lon.contains(-(122000000L + 416666L + 2766L)),
            s"lon (big=$big): $lon")
        case v => fail(s"expected ExifFound with GPS, got $v (big=$big)")
      }
      // GPS APP1 must not break the image either
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(b))
      assert(img != null && img.getWidth == 3 && img.getHeight == 3)
    }
    // GPSInfo pointer past the payload: CORRUPT, never a silent pass —
    // location is the one field a privacy gate must not lose
    assert(Multimodal.exifMeta(Multimodal.syntheticExifGpsJpeg(
      3, 3, 9L, 1, "2026:01:02 03:04:05", bigEndian = false,
      37, 48, 1404, 100, north = true,
      122, 25, 996, 100, east = false,
      corruptGps = true)) == Multimodal.ExifCorrupt)
    // zero denominator in a rational: CORRUPT
    assert(Multimodal.exifMeta(Multimodal.syntheticExifGpsJpeg(
      3, 3, 9L, 1, "2026:01:02 03:04:05", bigEndian = false,
      37, 48, 1404, 0, north = true,
      122, 25, 996, 100, east = false)) == Multimodal.ExifCorrupt)
  }

  test("extractExif: partition-wise trichotomy over mixed media") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.syntheticExifJpeg(3, 3, 1L, 2,
        "2026:05:05 05:05:05", bigEndian = false)),
      (2L, Multimodal.truncatedExifJpeg(2L, 4, "2026:06:06 06:06:06")),
      (3L, "not media at all".getBytes("UTF-8")),
      (4L, Multimodal.syntheticImage(4, 2, 4L, "tiff")))
      .toDF("doc_id", "media")
    val out = Multimodal.extractExif(rows).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(1) && !out(1L).isNullAt(3) &&
      out(1L).getLong(3) == 2L && !out(1L).getBoolean(5),
      "EXIF JPEG: found, orientation 2, little-endian")
    assert(!out(2L).getBoolean(1) && out(2L).getBoolean(2) &&
      out(2L).isNullAt(3), "truncated: quarantined, nulled fields")
    assert(!out(3L).getBoolean(1) && !out(3L).getBoolean(2),
      "text: absent, never quarantined")
    assert(out(4L).getBoolean(1) && out(4L).isNullAt(3) &&
      out(4L).getBoolean(5), "real TIFF: present, MM, no orientation")
  }
}
