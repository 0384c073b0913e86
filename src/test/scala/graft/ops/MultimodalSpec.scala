package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession

/** Multimodal: REAL decode kernels (P6, PNG/JPEG/GIF/BMP via the
  * JDK's javax.imageio, RIFF/WAVE PCM-16) plus the Spark contract
  * around them — schema, batch shape, row preservation. Byte-stub
  * kernels remain only for codecs absent from the JVM (MP3/video
  * codecs other than MJPEG/DIB-in-AVI, see VideoSpec). */
class MultimodalSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private lazy val blobs = {
    val raw = Seq(
      (1L, Array.tabulate(4096)(i => (i % 251).toByte)),
      (2L, Array.tabulate(1024)(i => ((i * 7) % 256).toByte)),
      (3L, Array.empty[Byte]))
      .toDF("id", "payload")
    Multimodal.asBlobTable(raw, "id", "payload", "image/fake")
  }

  /** Hand-built 4x2 P6: left half red-ish gradient, right half blue. */
  private def ppm(w: Int = 4, h: Int = 2): Array[Byte] = {
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val i = 3 * (y * w + x)
      if (x < w / 2) { rgb(i) = 200.toByte; rgb(i + 1) = 10; rgb(i + 2) = 10 }
      else { rgb(i) = 10; rgb(i + 1) = 10; rgb(i + 2) = 200.toByte }
    }
    Multimodal.encodePpm(w, h, rgb)
  }

  test("P6 decode is real: header, pixels, strict length, comments") {
    val img = ppm()
    val Some((w, h, rgb)) = Multimodal.decodePpm(img)
    assert((w, h) === (4, 2))
    assert(rgb.length === 24)
    assert((rgb(0) & 0xFF) === 200 && (rgb(11) & 0xFF) === 200)
    // comment lines in the header parse
    val withComment = ("P6\n# a comment\n4 2\n255\n").getBytes("US-ASCII") ++
      rgb
    assert(Multimodal.decodePpm(withComment).map(_._1) === Some(4))
    // strict length: trailing junk or truncation rejects
    assert(Multimodal.decodePpm(img ++ Array[Byte](0)) === None)
    assert(Multimodal.decodePpm(img.dropRight(1)) === None)
    // text that merely starts with P6 rejects
    assert(Multimodal.decodePpm("P6 is a chess opening".getBytes) === None)
    assert(Multimodal.decodePpm(null) === None)
  }

  test("P6 payloads get real dimensions, features, and resize") {
    val raw = Seq((1L, ppm(8, 4)), (2L, "not an image".getBytes))
      .toDF("id", "payload")
    val b = Multimodal.asBlobTable(raw, "id", "payload", "image/x-ppm")
    val dims = b.select("blob_id", "meta.width", "meta.height")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(dims(1L) === ((8, 4))) // REAL header dims
    assert(dims(2L)._1 >= 1 && dims(2L)._1 <= 1920) // stub synthesis
    // features: luminance histogram of the PIXELS — half the image is
    // red (lum 66 -> bin 4) and half blue (lum 31 -> bin 1), 0.5 each
    val f = Multimodal.extractFeatures(b.where(col("blob_id") === 1), 16)
      .head().getSeq[Float](1)
    assert(f.sum === 1.0f)
    assert(f(4) === 0.5f && f(1) === 0.5f, f.toList.toString)
    // real resize: re-decodes as a valid halved P6 with sampled pixels
    val resized = Multimodal.resize(b.where(col("blob_id") === 1), 4)
    val out = resized.select("data").head().getAs[Array[Byte]](0)
    val Some((nw, nh, nrgb)) = Multimodal.decodePpm(out)
    assert((nw, nh) === (4, 2))
    val metaDims = resized.select("meta.width", "meta.height").head()
    assert((metaDims.getInt(0), metaDims.getInt(1)) === ((4, 2)))
    assert((nrgb(0) & 0xFF) === 200 && (nrgb(11) & 0xFF) === 200)
  }

  test("blob table carries binary payload + typed metadata") {
    assert(blobs.schema("data").dataType.typeName === "binary")
    val meta = blobs.schema("meta").dataType
    assert(meta.isInstanceOf[org.apache.spark.sql.types.StructType])
    assert(blobs.select("meta.mime").distinct().head().getString(0) === "image/fake")
    assert(blobs.count() === 3)
  }

  test("feature extraction: fixed-width vectors, rows preserved, no shuffle") {
    val feats = Multimodal.extractFeatures(blobs, bins = 16)
    assert(feats.count() === 3)
    val rows = feats.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rows.values.forall(_.length === 16))
    // normalized histogram sums to ~1 for non-empty payloads
    assert(math.abs(rows(1L).sum - 1f) < 1e-3)
    assert(rows(3L).sum === 0f) // empty payload -> zero vector
    // narrow plan: no exchange in the optimized plan
    val plan = feats.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("resize caps width, rescales height, shrinks payload") {
    val resized = Multimodal.resize(blobs, maxWidth = 100)
    val row = resized.where(col("meta.width") === 100)
    // any blob wider than 100 was capped
    val widths = resized.select("meta.width").collect().map(_.getInt(0))
    assert(widths.forall(_ <= 1920))
    assert(resized.count() === 3)
  }

  test("frame sampling strides through metadata-declared frames") {
    val frames = Multimodal.sampleFrames(blobs, stride = 10)
    val perBlob = frames.groupBy("blob_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val declared = blobs.select("blob_id", "meta.n_frames").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    for ((id, n) <- declared)
      assert(perBlob(id) === (n + 9) / 10, s"blob $id: $n frames")
    assert(frames.columns.contains("byte_offset"))
  }

  test("metadata-only projection drops the payload column") {
    val m = Multimodal.metadataOnly(blobs)
    assert(!m.columns.contains("data"))
    assert(m.columns.contains("payload_bytes"))
    assert(m.count() === 3)
  }

  /** Deterministic 8x4 RGB used by the raster-codec tests (same
    * arithmetic family as q90/q176's synthesis). */
  private def rgbPattern(w: Int = 8, h: Int = 4, seed: Long = 5L): Array[Byte] = {
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val i = 3 * (y * w + x)
      rgb(i) = ((seed * 31 + x * 7 + y * 13) % 256).toByte
      rgb(i + 1) = ((seed * 17 + x * 11 + y * 5) % 256).toByte
      rgb(i + 2) = ((seed * 29 + x * 3 + y * 19) % 256).toByte
    }
    rgb
  }

  test("PNG decode is real and lossless: bit-exact RGB round-trip") {
    val rgb = rgbPattern()
    val png = Multimodal.encodePng(8, 4, rgb)
    assert((png(0) & 0xFF) === 0x89 && png(1) === 'P') // actual PNG bytes
    val Some((w, h, back)) = Multimodal.decodeRaster(png)
    assert((w, h) === (8, 4))
    assert(back.toSeq === rgb.toSeq) // lossless: every triplet survives
    // decodeImage dispatch reaches the raster path and the shared
    // luminance kernel gives the identical histogram as raw P6
    assert(Multimodal.decodeImage(png).get._3.toSeq === rgb.toSeq)
    assert(Multimodal.decodeBytes(png, 16).toSeq ===
      Multimodal.decodeBytes(Multimodal.encodePpm(8, 4, rgb), 16).toSeq)
  }

  test("BMP decode is lossless; GIF decodes exactly for palette-sized images") {
    val rgb = rgbPattern()
    val Some((bw, bh, bmpBack)) = Multimodal.decodeRaster(Multimodal.encodeBmp(8, 4, rgb))
    assert((bw, bh) === (8, 4) && bmpBack.toSeq === rgb.toSeq)
    // a 4-color image fits any GIF palette: round-trip must be exact
    // (8x8, not 8x4 — the JDK's own GIF LZW writer mangles the last
    // row of very small images; that is the writer, not our decode)
    val quad = Array.tabulate(8 * 8 * 3) { i =>
      val p = i / 3
      (Seq(10, 70, 130, 200)((p % 8) / 2)).toByte
    }
    val baos = new java.io.ByteArrayOutputStream()
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (p <- 0 until 64)
      img.setRGB(p % 8, p / 8,
        ((quad(3 * p) & 0xFF) << 16) | ((quad(3 * p + 1) & 0xFF) << 8) |
          (quad(3 * p + 2) & 0xFF))
    javax.imageio.ImageIO.write(img, "gif", baos)
    val Some((gw, gh, gifBack)) = Multimodal.decodeRaster(baos.toByteArray)
    assert((gw, gh) === (8, 8) && gifBack.toSeq === quad.toSeq)
  }

  test("JPEG decode: exact dimensions, bounded pixel error, deterministic") {
    // smooth horizontal luminance ramp — JPEG's best case; quality
    // 0.95 keeps every channel within a small absolute error
    val w = 16; val h = 8
    val rgb = Array.tabulate(w * h * 3) { i => ((i / 3) % w * 16 + 8).toByte }
    val jpg = Multimodal.encodeJpeg(w, h, rgb)
    assert((jpg(0) & 0xFF) === 0xFF && (jpg(1) & 0xFF) === 0xD8)
    val Some((dw, dh, back)) = Multimodal.decodeRaster(jpg)
    assert((dw, dh) === (w, h)) // dims are EXACT through a lossy codec
    val maxErr = rgb.indices.map(i => math.abs((rgb(i) & 0xFF) - (back(i) & 0xFF))).max
    assert(maxErr <= 8, s"jpeg error $maxErr")
    // decode is deterministic: two decodes agree bit-for-bit
    assert(Multimodal.decodeRaster(jpg).get._3.toSeq === back.toSeq)
  }

  test("raster sniff is strict: magic without a valid body falls to the stub") {
    val fake = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10) ++
      Array.tabulate(64)(i => (i * 3).toByte)
    assert(Multimodal.decodeRaster(fake) === None)
    assert(Multimodal.decodeBytes(fake, 16).toSeq ===
      Multimodal.decodeBytesStub(fake, 16).toSeq)
    // plain text and tiny payloads never reach ImageIO
    assert(Multimodal.looksLikeRaster("GIF89a?".getBytes) === false)
    assert(Multimodal.decodeRaster("BM not a bitmap, a text".getBytes) === None)
  }

  test("PNG payloads get real ingest dims and a real lossless resize") {
    val rgb = rgbPattern()
    val raw = Seq((1L, Multimodal.encodePng(8, 4, rgb))).toDF("id", "payload")
    val b = Multimodal.asBlobTable(raw, "id", "payload", "image/png")
    val m = b.select("meta.width", "meta.height").head()
    assert((m.getInt(0), m.getInt(1)) === ((8, 4))) // REAL decoded dims
    val resized = Multimodal.resize(b, maxWidth = 4)
    val out = resized.select("data").head().getAs[Array[Byte]](0)
    assert((out(0) & 0xFF) === 0x89) // re-encoded as canonical PNG
    val Some((nw, nh, nrgb)) = Multimodal.decodeRaster(out)
    assert((nw, nh) === (4, 2))
    // lossless container: the resample IS the shared nn kernel
    assert(nrgb.toSeq === Multimodal.nnResizeRgb(8, 4, rgb, 4, 2).toSeq)
    val md = resized.select("meta.width", "meta.height").head()
    assert((md.getInt(0), md.getInt(1)) === ((4, 2)))
  }

  /** A 3-sample stereo + a mono ramp for the WAV tests. */
  private def wav(samples: Array[Short], rate: Int = 8000,
                  channels: Int = 1): Array[Byte] =
    Multimodal.encodeWav(Multimodal.PcmAudio(rate, channels, samples))

  test("WAV decode is real: round-trip, chunk walk, strict rejects") {
    val s = Array[Short](0, 100, -200, 32767, -32768, 5)
    val Some(a) = Multimodal.decodeWav(wav(s, rate = 44100, channels = 2))
    assert(a.sampleRate === 44100 && a.channels === 2)
    assert(a.samples.toSeq === s.toSeq)
    // an extra chunk between fmt and data still parses (chunk walk)
    val extra = {
      val base = wav(s)
      val head = base.take(36) // RIFF..fmt
      val tail = base.drop(36) // data chunk
      val junk = "LIST".getBytes("US-ASCII") ++
        Array[Byte](4, 0, 0, 0) ++ Array[Byte](1, 2, 3, 4)
      val out = head ++ junk ++ tail
      // fix RIFF size
      val riffSize = out.length - 8
      out(4) = riffSize.toByte; out(5) = (riffSize >> 8).toByte
      out
    }
    assert(Multimodal.decodeWav(extra).map(_.samples.toSeq) === Some(s.toSeq))
    // strict: truncated data chunk, non-PCM, bytes starting RIFF
    assert(Multimodal.decodeWav(wav(s).dropRight(1)) === None)
    assert(Multimodal.decodeWav("RIFF but not audio at all".getBytes) === None)
    assert(Multimodal.decodeWav(null) === None)
    val notPcm = wav(s); notPcm(20) = 3 // format code != 1
    assert(Multimodal.decodeWav(notPcm) === None)
  }

  test("G.711 decode: µ-law/A-law expand through the shared WAV path") {
    // classic extremes: 0x00 -> -32124, 0x80 -> +32124, both zeros
    assert(Multimodal.ulawToLinear(0x00.toByte) === -32124)
    assert(Multimodal.ulawToLinear(0x80.toByte) === 32124)
    assert(Multimodal.ulawToLinear(0xFF.toByte) === 0)
    assert(Multimodal.ulawToLinear(0x7F.toByte) === 0)
    // A-law: 0x55 -> -8, 0xD5 -> +8 (the canonical near-zero pair)
    assert(Multimodal.alawToLinear(0x55.toByte) === -8)
    assert(Multimodal.alawToLinear(0xD5.toByte) === 8)
    // a µ-law WAV decodes to the expanded linear samples
    val bytes = Array[Byte](0x00, 0xFF.toByte, 0x80.toByte, 0x12)
    val Some(a) = Multimodal.decodeWav(
      Multimodal.encodeWavG711(8000, 1, bytes))
    assert(a.sampleRate === 8000 && a.channels === 1)
    assert(a.samples.toSeq ===
      bytes.map(Multimodal.ulawToLinear).toSeq)
    // A-law container round-trips through the same chunk walk
    val Some(al) = Multimodal.decodeWav(
      Multimodal.encodeWavG711(16000, 2, bytes, aLaw = true))
    assert(al.samples.toSeq === bytes.map(Multimodal.alawToLinear).toSeq)
    // strict: a G.711 header claiming 16 bits rejects
    val bad = Multimodal.encodeWavG711(8000, 1, bytes)
    bad(34) = 16
    assert(Multimodal.decodeWav(bad) === None)
  }

  test("audio feature kernel: peak, zero crossings, energy") {
    val f = Multimodal.audioFeatureKernel(
      Multimodal.PcmAudio(8000, 1, Array[Short](10, -20, 30, -32768)))
    assert(f.peakAbs === 32768) // |-32768| doesn't overflow
    assert(f.zeroCrossings === 3)
    assert(f.sumSq === 10L * 10 + 20L * 20 + 30L * 30 + 32768L * 32768)
    // sign(0) counts as non-negative: 0 -> -1 crosses, -1 -> 0 crosses
    assert(Multimodal.audioFeatureKernel(
      Multimodal.PcmAudio(8000, 1, Array[Short](0, -1, 0))).zeroCrossings === 2)
  }

  test("extractAudioFeatures: real stats for WAV, nulls for opaque") {
    val raw = Seq(
      (1L, wav(Array[Short](1000, -1000, 1000, -1000))),
      (2L, "not audio".getBytes))
      .toDF("blob_id", "data")
    val rows = Multimodal.extractAudioFeatures(raw)
      .orderBy("blob_id").collect()
    assert(rows(0).getInt(1) === 8000 && rows(0).getInt(4) === 1000)
    assert(rows(0).getInt(5) === 3) // three sign changes
    assert(rows(0).getLong(6) === 4L * 1000 * 1000)
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(6)) // honest nulls
  }

  test("decimateAudio keeps every k-th frame per channel, halves rate") {
    // stereo: frames (L,R) = (1,2),(3,4),(5,6),(7,8); factor 2 keeps
    // frames 0 and 2 -> samples 1,2,5,6
    val raw = Seq((1L,
      wav(Array[Short](1, 2, 3, 4, 5, 6, 7, 8), rate = 8000, channels = 2)))
      .toDF("blob_id", "data")
    val out = Multimodal.decimateAudio(raw, 2).collect()(0)
      .getAs[Array[Byte]]("data")
    val Some(a) = Multimodal.decodeWav(out)
    assert(a.sampleRate === 4000 && a.channels === 2)
    assert(a.samples.toSeq === Seq[Short](1, 2, 5, 6))
    // factor 1 is identity; opaque payloads pass through
    val opaque = Seq((1L, "zzz".getBytes)).toDF("blob_id", "data")
    assert(Multimodal.decimateAudio(opaque, 3).collect()(0)
      .getAs[Array[Byte]]("data").toSeq === "zzz".getBytes.toSeq)
  }

  test("audio fingerprint: replication invariant, near-dups pair") {
    def pcm16(samples: Array[Short]) =
      Multimodal.encodeWav(Multimodal.PcmAudio(8000, 1, samples))
    val base = Array.tabulate[Short](130)(i => ((i * 37) % 200 - 100).toShort)
    val up2x = Array.tabulate[Short](260)(i => base(i / 2))
    val other = Array.tabulate[Short](130)(i => ((i * 53) % 180 - 90).toShort)
    val blobs = Seq(
      (1L, pcm16(base)),
      (2L, pcm16(up2x)),   // 2x sample replication
      (3L, pcm16(other)),  // a different envelope
      (4L, "not audio".getBytes("UTF-8")))
      .toDF("blob_id", "data")
    val hashes = Multimodal.audioPerceptualHash(blobs).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(hashes(1L).isDefined)
    assert(hashes(2L) === hashes(1L)) // replication-invariant
    assert(hashes(3L) !== hashes(1L))
    assert(hashes(4L) === None) // undecodable: honest null row
    val pairs = Multimodal.audioNearDupPairs(blobs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("perceptual hash: codec/replication invariant, near-dups pair") {
    val w = 36; val h = 24
    def rgbOf(f: (Int, Int) => Int): Array[Byte] = {
      val a = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val v = f(x, y)
        val i = 3 * (y * w + x)
        a(i) = (v % 256).toByte
        a(i + 1) = ((v * 3) % 256).toByte
        a(i + 2) = ((v * 7) % 256).toByte
      }
      a
    }
    val base = rgbOf((x, y) => x * 11 + y * 5)
    val other = rgbOf((x, y) => 255 - (x * 11 + y * 5) % 256)
    val base2x = {
      val a = new Array[Byte](2 * w * 2 * h * 3)
      for (y <- 0 until 2 * h; x <- 0 until 2 * w) {
        val s = 3 * ((y / 2) * w + (x / 2))
        val d = 3 * (y * 2 * w + x)
        a(d) = base(s); a(d + 1) = base(s + 1); a(d + 2) = base(s + 2)
      }
      a
    }
    val blobs = Seq(
      (1L, Multimodal.encodePpm(w, h, base)),     // base, P6
      (2L, Multimodal.encodePng(w, h, base)),     // lossless re-encode
      (3L, Multimodal.encodePpm(2 * w, 2 * h, base2x)), // 2x replication
      (4L, Multimodal.encodeBmp(w, h, other)),    // a different image
      (5L, "not an image".getBytes("UTF-8")))     // undecodable
      .toDF("blob_id", "data")
    val hashes = Multimodal.perceptualHash(blobs).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // lossless re-encode and pixel replication leave the hash EXACT
    assert(hashes(1L).isDefined)
    assert(hashes(2L) === hashes(1L))
    assert(hashes(3L) === hashes(1L))
    assert(hashes(4L) !== hashes(1L))
    // undecodable payload keeps its row with a null hash — honest
    assert(hashes(5L) === None)
    val pairs = Multimodal.imageNearDupPairs(blobs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) &&
      pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("perceptualNovelFlag: map-only blob gate — dups flagged, novels and opaques pass") {
    val w = 36; val h = 24
    def img(k: Int): Array[Byte] = {
      val a = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val i = 3 * (y * w + x)
        a(i) = ((k * 61 + x * 11 + y * 5) % 256).toByte
        a(i + 1) = ((k * 23 + x * 3) % 256).toByte
        a(i + 2) = ((k * 37 + y * 7) % 256).toByte
      }
      a
    }
    def pcm16(samples: Array[Short]) =
      Multimodal.encodeWav(Multimodal.PcmAudio(8000, 1, samples))
    val tone = Array.tabulate[Short](130)(i => ((i * 37) % 200 - 100).toShort)
    val admitted = Seq(
      (0L, Multimodal.encodePpm(w, h, img(0))),
      (1L, pcm16(tone)))
      .toDF("blob_id", "data")
    val idx = Multimodal.fitPerceptualIndex(
      Multimodal.perceptualSignature(admitted), fpp = 1e-6)
    val batch = Seq(
      // cross-codec copy of an admitted image: MUST flag (Hamming 0)
      (10L, Multimodal.encodePng(w, h, img(0))),
      // 2x-replicated copy of an admitted tone: MUST flag
      (11L, pcm16(Array.tabulate[Short](260)(i => tone(i / 2)))),
      // genuinely different image: should pass (chunk collision with
      // the 2-signature index is astronomically unlikely here)
      (12L, Multimodal.encodeBmp(w, h, img(9))),
      // opaque payload: novel by contract
      (13L, "opaque".getBytes("UTF-8")))
      .toDF("blob_id", "data")
    val flags = Multimodal.perceptualNovelFlag(batch, idx, "data", "novel")
      .select("blob_id", "novel")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!flags(10L) && !flags(11L))
    assert(flags(12L) && flags(13L))
    // Curate.streamingGate wiring: the blob prefilter drops the dups
    // at the edge, same code path batch or streamed
    val docs = batch.withColumn("text",
      concat(lit("clean words about the weather and the sea id "),
        col("blob_id")))
    val gated = Curate.streamingGate(docs, minQuality = 0.0,
      maxDup2gramFrac = 1.0,
      perceptualIndex = Some(("data", idx)))
      .select("blob_id").collect().map(_.getLong(0)).toSet
    assert(gated === Set(12L, 13L))
    // the index refuses a non-signature frame
    intercept[IllegalArgumentException] {
      Multimodal.fitPerceptualIndex(admitted)
    }
  }

  test("perceptualPairsIncremental: batch-touching pairs only, equals the filtered self-join") {
    val w = 36; val h = 24
    def img(k: Int): Array[Byte] = {
      val a = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val i = 3 * (y * w + x)
        a(i) = ((k * 41 + x * 11 + y * 5) % 256).toByte
        a(i + 1) = ((k * 13 + x * 3) % 256).toByte
        a(i + 2) = ((k * 29 + y * 7) % 256).toByte
      }
      a
    }
    def pcm16(samples: Array[Short]) =
      Multimodal.encodeWav(Multimodal.PcmAudio(8000, 1, samples))
    val tone = Array.tabulate[Short](130)(i => ((i * 37) % 200 - 100).toShort)
    val tone2x = Array.tabulate[Short](260)(i => tone(i / 2))
    // ids 0-9 = admitted corpus, 10-14 = the new batch; planted:
    // image dup new×old (10~0), image dup old×old (1~2 — must NOT
    // appear), image dup new×new (11~12), audio dup new×old (13~3)
    val rows = Seq(
      (0L, Multimodal.encodePpm(w, h, img(0))),
      (1L, Multimodal.encodePpm(w, h, img(7))),
      (2L, Multimodal.encodePng(w, h, img(7))), // old×old pair with 1
      (3L, pcm16(tone)),
      (4L, Multimodal.encodeBmp(w, h, img(4))),
      (10L, Multimodal.encodePng(w, h, img(0))), // new×old with 0
      (11L, Multimodal.encodePpm(w, h, img(9))),
      (12L, Multimodal.encodePng(w, h, img(9))), // new×new with 11
      (13L, pcm16(tone2x)),                      // audio new×old with 3
      (14L, "opaque".getBytes("UTF-8")))
      .toDF("blob_id", "data")
    val newBatch = rows.where($"blob_id" >= 10)
    val oldSigs = Multimodal.perceptualSignature(
      rows.where($"blob_id" < 10))
    val inc = Multimodal.perceptualPairsIncremental(
      newBatch, oldSigs, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc.contains((0L, 10L)))  // new×old, id-normalized
    assert(inc.contains((11L, 12L))) // new×new
    assert(inc.contains((3L, 13L)))  // audio new×old
    assert(!inc.contains((1L, 2L)))  // old×old never re-paired
    assert(!inc.exists(p => p._1 == 14L || p._2 == 14L)) // opaque
    // and it equals the FULL self-join filtered to batch-touching
    // pairs (the exactness contract q199's oracle brute-forces)
    val full = Multimodal.imageNearDupPairs(rows, maxHamming = 0)
      .unionByName(Multimodal.audioNearDupPairs(rows, maxHamming = 0))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc === full.filter(p => p._1 >= 10L || p._2 >= 10L))
    // a batch run IS the incremental run against an empty admitted
    // side: pairing every row against nothing ≡ the full self-join
    val againstNothing = Multimodal.perceptualPairsIncremental(rows,
      Multimodal.perceptualSignature(rows.limit(0)), maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(againstNothing === full)
    // the old side must be a signature frame, not raw blobs
    intercept[IllegalArgumentException] {
      Multimodal.perceptualPairsIncremental(newBatch,
        rows.where($"blob_id" < 10))
    }
  }

  test("dropPerceptualDuplicates: per-modality clusters, keep-best, honest opaques") {
    val w = 36; val h = 24
    def rgbOf(k: Int): Array[Byte] = {
      val a = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val i = 3 * (y * w + x)
        a(i) = ((k * 31 + x * 11 + y * 5) % 256).toByte
        a(i + 1) = ((k * 17 + x * 3) % 256).toByte
        a(i + 2) = ((k * 7 + y * 13) % 256).toByte
      }
      a
    }
    def pcm16(samples: Array[Short]) =
      Multimodal.encodeWav(Multimodal.PcmAudio(8000, 1, samples))
    val tone = Array.tabulate[Short](130)(i => ((i * 37) % 200 - 100).toShort)
    val tone2x = Array.tabulate[Short](260)(i => tone(i / 2))
    val rows = Seq(
      // image cluster {1, 2}: same pixels across codecs (Hamming 0)
      (1L, Multimodal.encodePpm(w, h, rgbOf(1)), 0.5),
      (2L, Multimodal.encodePng(w, h, rgbOf(1)), 0.9), // best score wins
      // image singleton
      (3L, Multimodal.encodeBmp(w, h, rgbOf(9)), 0.1),
      // audio cluster {4, 5}: sample-replicated copy
      (4L, pcm16(tone), 0.8),
      (5L, pcm16(tone2x), 0.2),
      // opaque payload: no signature, NEVER dropped
      (6L, "neither image nor audio".getBytes("UTF-8"), 0.0))
      .toDF("doc_id", "blob", "score")
    // keep-best policy: highest score per cluster survives
    val best = Multimodal.dropPerceptualDuplicates(
      rows, "doc_id", "blob", maxHamming = 0, scoreCol = Some("score"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(best === Set(2L, 3L, 4L, 6L))
    // min-id policy without a score column
    val minId = Multimodal.dropPerceptualDuplicates(
      rows, "doc_id", "blob", maxHamming = 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(minId === Set(1L, 3L, 4L, 6L))
    // the signature frame tags modalities and nulls opaques honestly
    val sigs = Multimodal.perceptualSignature(rows, "doc_id", "blob")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getString(1)))).toMap
    assert(sigs(1L) === Some("image") && sigs(4L) === Some("audio"))
    assert(sigs(6L) === None)

    // broadcast guard (the ivfPqSearchBatch recipe): the hint is
    // present under the cap and ABSENT above it — the analyzed plan
    // keeps hints; the physical plan may still pick a broadcast join
    // for a tiny frame via AQE, the guard only stops the engine from
    // FORCING a corpus-scale one — and both plan shapes drop the same
    // rows
    def shaped(maxBytes: Long) = Multimodal.dropPerceptualDuplicates(
      rows, "doc_id", "blob", maxHamming = 0, scoreCol = Some("score"),
      broadcastMaxBytes = maxBytes)
    assert(shaped(64L << 20).queryExecution.analyzed.toString
      .toLowerCase.contains("broadcast"))
    assert(!shaped(0L).queryExecution.analyzed.toString
      .toLowerCase.contains("broadcast"))
    assert(shaped(0L).select("doc_id")
      .collect().map(_.getLong(0)).toSet === best)
  }

  test("fitPerceptualIndex: Bloom sized at the finite key space, saturation visible") {
    // a "corpus" far past the 2^19 key-space cap: 600k signatures.
    // Uncapped, the old sizing would build the Bloom for 2.4M expected
    // insertions (~41 Mbit); capped at the key space it needs ~9 Mbit.
    val sigs = spark.range(600000).select(
      col("id").as("blob_id"), lit("image").as("modality"),
      (col("id") % 1000).as("sig"))
    val idx = Multimodal.fitPerceptualIndex(sigs)
    assert(idx.bloom.bitSize() < (16L << 20),
      s"Bloom not capped at the key space: ${idx.bloom.bitSize()} bits")
    // exact distinct keys: sigs 0..999 contribute 1000 distinct
    // chunk-0 values and one (zero) value for each of chunks 1-3
    assert(idx.distinctKeys === 1003L)
    assert(idx.saturation === 1003.0 / Multimodal.PerceptualKeySpace)
    // a saturated index is VISIBLE: all 2^16 chunk-0 values admitted
    // (plus the three zero chunks) reads as the exact key fraction
    val wide = spark.range(1 << 16).select(
      col("id").as("blob_id"), lit("image").as("modality"),
      col("id").as("sig"))
    val sat = Multimodal.fitPerceptualIndex(wide)
    assert(sat.distinctKeys === (1L << 16) + 3L)
    assert(sat.saturation > 0.12 && sat.saturation < 0.13)
  }
}
