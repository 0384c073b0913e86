package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal columns: image/audio/video as opaque `binary` payloads
 * with typed metadata, plus the decode / feature-extract / resize /
 * frame-sample plumbing an LLM-data pipeline needs. Extension surface
 * (no reference counterpart).
 *
 * Decode reality, by format: binary PPM (P6) is decoded FOR REAL in
 * pure JVM ([[decodePpm]] — header parse + raw RGB, no codec
 * dependency), and the compressed raster codecs the JDK itself ships
 * (PNG, JPEG, GIF, BMP via `javax.imageio`, part of `java.desktop` —
 * still zero external dependencies) are decoded FOR REAL too
 * ([[decodeRaster]]): true dimensions, true luminance features, a
 * true nearest-neighbor resize, all proven against an arithmetic
 * DuckDB oracle for the lossless formats (q176) and against exact
 * dimensions for JPEG (q177). Only codecs absent from the JVM
 * entirely (MP3/ffmpeg video) fall back to deterministic STUBS —
 * byte-level statistics standing in for pixel decoding, each clearly
 * marked. The Spark-side contract is the same either way and is real
 * and tested: schema, null-safe batch iteration, per-partition
 * processing, row-count preservation. A production deployment swaps
 * [[decodeBytesStub]] for a JNI/opencv call (Scala) or runs the same
 * schema through `mapInPandas` with PIL/torchvision (PySpark) — batch
 * shape and column contract identical, exactly as the real paths
 * demonstrate.
 *
 * Scale notes: payload columns are heavy — every operator here keeps
 * them in ONE map stage (mapPartitions/expressions, no shuffle), and
 * projections carry metadata instead of payloads wherever possible so
 * pruned scans never read the blob pages of parquet row groups.
 */
object Multimodal {

  /** Typed metadata carried next to every payload. */
  val MetadataType: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("duration_ms", LongType)))

  val BlobSchema: StructType = StructType(Seq(
    StructField("blob_id", LongType, nullable = false),
    StructField("data", BinaryType),
    StructField("meta", MetadataType)))

  /** Wrap a (id, payload) frame into the canonical blob schema — the
    * "parse container headers at ingest" contract. Width/height are
    * REAL for everything the engine can decode: P6, the JDK raster
    * codecs PNG/JPEG/GIF/BMP (header-only probe, no pixel decode at
    * ingest), and AVI video ([[Video.parseAvi]] — which also yields
    * the REAL n_frames and duration_ms). Opaque payloads keep the
    * size-derived stub synthesis. */
  def asBlobTable(df: DataFrame, idCol: String, payloadCol: String,
                  mime: String): DataFrame = {
    val probe = udf((data: Array[Byte]) =>
      decodePpm(data).map { case (w, h, _) => (w, h) }
        .orElse(rasterDims(data)) match {
        case Some((w, h)) => Some((w, h, Option.empty[Int], Option.empty[Long]))
        case None => Video.parseAvi(data).map(i =>
          (i.width, i.height, Option(i.nFrames), Option(i.durationMs)))
      })
    df.select(
      col(idCol).cast("long").as("blob_id"),
      col(payloadCol).cast("binary").as("data"),
      probe(col(payloadCol).cast("binary")).as("__dims"),
      col(payloadCol).alias("__p"))
      .select(
        col("blob_id"), col("data"),
        struct(
          lit(mime).as("mime"),
          coalesce(col("__dims._1"),
            (pmod(xxhash64(col("__p")), lit(1920)) + 1).cast("int"))
            .as("width"),
          coalesce(col("__dims._2"),
            (pmod(xxhash64(col("__p"), lit(1)), lit(1080)) + 1).cast("int"))
            .as("height"),
          coalesce(col("__dims._3"),
            (pmod(xxhash64(col("__p"), lit(2)), lit(300)) + 1).cast("int"))
            .as("n_frames"),
          coalesce(col("__dims._4"),
            (length(col("__p")) * 8).cast("long")).as("duration_ms")).as("meta"))
  }

  /** REAL decode for binary PPM (P6, maxval 255) — pure JVM, no codec
    * dependency. Parses the ASCII header (magic, optional `#` comment
    * lines, width, height, maxval, one whitespace) and returns the raw
    * RGB triplets. STRICT payload-length match, so arbitrary bytes
    * that happen to start with "P6" (e.g. text payloads) never
    * false-positive into the image path. Returns None for anything
    * that is not a well-formed P6 — those fall back to the stubs. */
  private[ops] def decodePpm(data: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (data == null || data.length < 11 ||
        data(0) != 'P' || data(1) != '6') return None
    var i = 2
    def skipWs(): Unit = {
      var done = false
      while (!done && i < data.length) {
        val c = (data(i) & 0xFF).toChar
        if (c == '#') { while (i < data.length && data(i) != '\n') i += 1 }
        else if (c.isWhitespace) i += 1
        else done = true
      }
    }
    def readInt(): Int = {
      skipWs()
      var v = 0
      var any = false
      while (i < data.length && data(i) >= '0' && data(i) <= '9' &&
             v <= 214748363) {
        v = v * 10 + (data(i) - '0'); i += 1; any = true
      }
      if (any) v else -1
    }
    val w = readInt(); val h = readInt(); val maxv = readInt()
    if (w <= 0 || h <= 0 || maxv != 255 || i >= data.length ||
        !(data(i) & 0xFF).toChar.isWhitespace) return None
    i += 1 // exactly one whitespace separates the header from pixels
    val need = w.toLong * h * 3
    if (data.length - i != need) None
    else Some((w, h, java.util.Arrays.copyOfRange(data, i, data.length)))
  }

  /** Re-encode raw RGB as a canonical P6 payload. */
  def encodePpm(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(rgb, 0, out, header.length, rgb.length)
    out
  }

  // ---------------------------------------------------------------
  // Compressed raster codecs: PNG / JPEG / GIF / BMP — decoded FOR
  // REAL via the JDK's own `javax.imageio` (module `java.desktop`,
  // present in every full JRE; no external dependency, no native
  // libs, headless-safe for these formats). PNG/BMP are lossless, so
  // a decode can be replayed arithmetically by the oracle; JPEG is
  // lossy but its dimensions are exact.
  // ---------------------------------------------------------------

  /** One-time ImageIO setup: never spill decode buffers to temp
    * files (executors may have read-only tmp; memory cache is also
    * faster for the small-blob shapes here). */
  private lazy val imageIoReady: Boolean = {
    javax.imageio.ImageIO.setUseCache(false)
    true
  }

  /** Magic-byte sniff for the four JDK-decodable raster containers.
    * Cheap guard so arbitrary binary/text payloads never pay an
    * ImageIO reader probe (and never false-positive: the full decode
    * still has to succeed). */
  private[ops] def looksLikeRaster(d: Array[Byte]): Boolean =
    d != null && d.length >= 16 && (
      (d(0) == 0x89.toByte && d(1) == 'P' && d(2) == 'N' && d(3) == 'G') ||
      ((d(0) & 0xFF) == 0xFF && (d(1) & 0xFF) == 0xD8 &&
        (d(2) & 0xFF) == 0xFF) ||
      (d(0) == 'G' && d(1) == 'I' && d(2) == 'F' && d(3) == '8') ||
      (d(0) == 'B' && d(1) == 'M'))

  /** Pixel-count ceiling for a single decoded raster (64 Mpx ≈ 192 MB
    * of RGB): a corrupt or adversarial header that declares absurd
    * dimensions must not OOM an executor. */
  private val MaxRasterPixels: Long = 64L * 1024 * 1024

  /** REAL decode for PNG/JPEG/GIF/BMP payloads — `javax.imageio`,
    * pure JDK. Returns the same (width, height, packed RGB triplets)
    * shape as [[decodePpm]] so every downstream kernel (luminance
    * histogram, nearest-neighbor resize) is shared. Alpha is
    * dropped (composited as-is from the ARGB int), palette formats
    * are expanded by the reader. Returns None for anything ImageIO
    * cannot fully decode — those fall back to the stubs. */
  private[ops] def decodeRaster(data: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (!looksLikeRaster(data) || !imageIoReady) return None
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(data))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) return None
      val reader = readers.next()
      val img = try {
        reader.setInput(in, true, true)
        // header-declared dims BEFORE any pixel allocation: a corrupt
        // or adversarial header cannot OOM the executor
        val dw = reader.getWidth(0); val dh = reader.getHeight(0)
        if (dw <= 0 || dh <= 0 || dw.toLong * dh > MaxRasterPixels) return None
        reader.read(0)
      } finally reader.dispose()
      if (img == null) return None
      val w = img.getWidth; val h = img.getHeight
      if (w <= 0 || h <= 0 || w.toLong * h > MaxRasterPixels) return None
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      val rgb = new Array[Byte](w * h * 3)
      var i = 0
      while (i < px.length) {
        rgb(3 * i) = ((px(i) >> 16) & 0xFF).toByte
        rgb(3 * i + 1) = ((px(i) >> 8) & 0xFF).toByte
        rgb(3 * i + 2) = (px(i) & 0xFF).toByte
        i += 1
      }
      Some((w, h, rgb))
    } catch { case scala.util.control.NonFatal(_) => None }
    finally in.close()
  }

  /** Header-only raster probe: REAL dimensions without decoding a
    * single pixel — what ingest-time metadata extraction should cost.
    * (ImageReader.getWidth/getHeight read the container header.) */
  private[ops] def rasterDims(data: Array[Byte]): Option[(Int, Int)] = {
    if (!looksLikeRaster(data) || !imageIoReady) return None
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(data))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) return None
      val reader = readers.next()
      try {
        reader.setInput(in, true, true)
        val w = reader.getWidth(0); val h = reader.getHeight(0)
        if (w <= 0 || h <= 0) None else Some((w, h))
      } finally reader.dispose()
    } catch { case scala.util.control.NonFatal(_) => None }
    finally in.close()
  }

  /** Unified real image decode: P6 first (cheapest sniff), then the
    * JDK raster codecs. */
  private[ops] def decodeImage(data: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    decodePpm(data).orElse(decodeRaster(data))

  /** Encode raw RGB as PNG (lossless — decodes back bit-exact, which
    * is what lets q176 prove the compressed-codec path against an
    * arithmetic oracle). */
  def encodePng(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] =
    encodeRaster(w, h, rgb, "png")

  /** Encode raw RGB as baseline JPEG at a pinned quality (0.95) so
    * fixtures are deterministic within a JDK version. Lossy: only
    * dimensions survive a round-trip exactly. */
  def encodeJpeg(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(imageIoReady)
    val img = toBufferedImage(w, h, rgb)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(0.95f)
    val baos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    try {
      writer.setOutput(out)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      out.flush()
    } finally { writer.dispose(); out.close() }
    baos.toByteArray
  }

  /** Encode raw RGB as BMP (lossless, like PNG). */
  def encodeBmp(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] =
    encodeRaster(w, h, rgb, "bmp")

  private def toBufferedImage(w: Int, h: Int, rgb: Array[Byte]): java.awt.image.BufferedImage = {
    require(rgb.length == w * h * 3,
      s"rgb payload is ${rgb.length} bytes, expected ${w * h * 3} for ${w}x$h")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    var i = 0
    while (i < px.length) {
      px(i) = ((rgb(3 * i) & 0xFF) << 16) |
        ((rgb(3 * i + 1) & 0xFF) << 8) | (rgb(3 * i + 2) & 0xFF)
      i += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    img
  }

  private def encodeRaster(w: Int, h: Int, rgb: Array[Byte], fmt: String): Array[Byte] = {
    require(imageIoReady)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(toBufferedImage(w, h, rgb), fmt, baos)
    baos.toByteArray
  }

  /** Real feature kernel for decodable payloads: L1-normalized
    * `bins`-bin histogram of PIXEL LUMINANCE (BT.601 integer weights),
    * i.e. an actual image statistic, not a byte statistic. */
  private[ops] def luminanceHistogram(rgb: Array[Byte], bins: Int): Array[Float] = {
    val hist = new Array[Float](bins)
    val n = rgb.length / 3
    if (n == 0) return hist
    var p = 0
    while (p < n) {
      val r = rgb(3 * p) & 0xFF
      val g = rgb(3 * p + 1) & 0xFF
      val b = rgb(3 * p + 2) & 0xFF
      val y = (299 * r + 587 * g + 114 * b) / 1000 // BT.601, integer
      hist((y * bins) / 256) += 1f
      p += 1
    }
    var i = 0
    while (i < bins) { hist(i) /= n; i += 1 }
    hist
  }

  /** Dispatching decode: REAL luminance histogram for P6 and
    * JDK-decodable raster payloads (PNG/JPEG/GIF/BMP), byte-histogram
    * STUB for everything else (codecs absent from the JVM). */
  private[ops] def decodeBytes(data: Array[Byte], bins: Int): Array[Float] =
    decodeImage(data) match {
      case Some((_, _, rgb)) => luminanceHistogram(rgb, bins)
      case None => decodeBytesStub(data, bins)
    }

  /**
   * STUB decode kernel: 16-bin byte-value histogram, L1-normalized —
   * deterministic stand-in for "decode image and compute features".
   * Real implementation: replace the body with the codec call; the
   * signature (bytes -> fixed-width Float vector) is the contract.
   */
  private[ops] def decodeBytesStub(data: Array[Byte], bins: Int): Array[Float] = {
    val hist = new Array[Float](bins)
    if (data == null || data.isEmpty) return hist
    var i = 0
    while (i < data.length) {
      hist(((data(i) & 0xFF) * bins) / 256) += 1f
      i += 1
    }
    var b = 0
    while (b < bins) { hist(b) /= data.length; b += 1 }
    hist
  }

  /** Decode + feature-extract: one narrow mapPartitions stage, payload
    * never shuffled. Emits (blob_id, features); downstream joins fetch
    * metadata separately so the feature table stays narrow. */
  def extractFeatures(blobs: DataFrame, bins: Int = 16): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("blob_id"), col("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, data) =>
        (id, decodeBytes(data, bins))
      })
      .toDF("blob_id", "features")
  }

  /** 64-bit dHash (difference hash, Krawetz 2011) of one decoded
    * image: luminance (r+g+b, integer) area-pooled onto a 9-wide,
    * 8-tall grid (cell (r,c) covers rows [r·h/8,(r+1)·h/8), cols
    * [c·w/9,(c+1)·w/9) — integer boundaries), bit r*8+c set iff cell
    * (r,c)'s average is strictly below its RIGHT neighbor's —
    * compared by cross-multiplication so uneven cell areas stay
    * integer-exact. Invariant under pixel replication (k× upscale
    * multiplies every cell sum and count by k², preserving every
    * strict comparison) and under any lossless re-encode — the
    * property image dedup rides on. Pure integer arithmetic, so an
    * oracle replays it bit for bit on synthesized fixtures. */
  private[ops] def dhash64(w: Int, h: Int, rgb: Array[Byte]): Long = {
    val sums = Array.ofDim[Long](8, 9)
    val counts = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < h) {
      val r = math.min((y.toLong * 8 / h).toInt, 7)
      var x = 0
      while (x < w) {
        val c = math.min((x.toLong * 9 / w).toInt, 8)
        val i = 3 * (y * w + x)
        sums(r)(c) += (rgb(i) & 0xFF) + (rgb(i + 1) & 0xFF) +
          (rgb(i + 2) & 0xFF)
        counts(r)(c) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (counts(r)(c) > 0 && counts(r)(c + 1) > 0 &&
            sums(r)(c) * counts(r)(c + 1) < sums(r)(c + 1) * counts(r)(c))
          hash |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    hash
  }

  /** Per-blob perceptual hash: decode (P6 or any JDK raster codec) →
    * [[dhash64]]. Output (blob_id, width, height, dhash); an
    * undecodable payload keeps its row with nulls (honest, countable
    * — never silently dropped). One narrow map stage, payloads never
    * shuffle. */
  def perceptualHash(blobs: DataFrame, idCol: String = "blob_id",
                     dataCol: String = "data"): DataFrame = {
    val f = udf((data: Array[Byte]) =>
      decodeImage(data).map { case (w, h, rgb) => (w, h, dhash64(w, h, rgb)) })
    blobs.select(col(idCol), f(col(dataCol)).as("__d"))
      .select(col(idCol), col("__d._1").as("width"),
        col("__d._2").as("height"), col("__d._3").as("dhash"))
  }

  /** IMAGE near-duplicate pairs — the multimodal member of the dedup
    * family: perceptual hashes through [[SimHash.nearDupPairsFromSigs]]'
    * banded Hamming join (16-bit chunk buckets, never all-pairs;
    * EXACT recall for maxHamming <= 3 by pigeonhole). Catches
    * re-encoded, rescaled, and lightly-edited copies that exact
    * byte-hash dedup misses; undecodable blobs are excluded from
    * pairing (surface them via [[perceptualHash]]'s null rows). */
  def imageNearDupPairs(blobs: DataFrame, idCol: String = "blob_id",
                        dataCol: String = "data",
                        maxHamming: Int = 2): DataFrame =
    SimHash.nearDupPairsFromSigs(
      perceptualHash(blobs, idCol, dataCol).where(col("dhash").isNotNull),
      idCol, "dhash", maxHamming)

  /** 64-bit audio fingerprint — [[dhash64]]'s idea on the energy
    * envelope: absolute sample amplitudes pooled into 65 equal
    * windows (integer boundaries i·65/n), bit k set iff window k's
    * MEAN energy is strictly below window k+1's (cross-multiplied so
    * uneven windows stay integer-exact). BIT-EXACT under k-fold
    * sample replication when the windows divide the length
    * (n % 65 == 0; off alignment the replicated clip's integer
    * window boundaries shift edge samples — a few-bit perturbation
    * the Hamming threshold absorbs, not bit equality) — the
    * property audio dedup rides on; robust
    * to container/codec changes because it runs on DECODED samples.
    * Pure integer arithmetic, oracle-replayable. */
  private[ops] def audioHash64(samples: Array[Short]): Long = {
    val n = samples.length
    val sums = new Array[Long](65)
    val counts = new Array[Long](65)
    var i = 0
    while (i < n) {
      val w = math.min((i.toLong * 65 / n).toInt, 64)
      sums(w) += math.abs(samples(i).toLong)
      counts(w) += 1
      i += 1
    }
    var hash = 0L
    var k = 0
    while (k < 64) {
      if (counts(k) > 0 && counts(k + 1) > 0 &&
          sums(k) * counts(k + 1) < sums(k + 1) * counts(k))
        hash |= 1L << k
      k += 1
    }
    hash
  }

  /** Per-blob audio fingerprint: the REAL WAV chunk walk (PCM-16 +
    * G.711 µ/A-law via [[decodeWav]]) → [[audioHash64]]. Output
    * (blob_id, sample_rate, n_samples, ahash); undecodable payloads
    * keep their row with nulls (honest, countable). One narrow map
    * stage, payloads never shuffle. */
  def audioPerceptualHash(blobs: DataFrame, idCol: String = "blob_id",
                          dataCol: String = "data"): DataFrame = {
    val f = udf((data: Array[Byte]) =>
      decodeWav(data).map(a =>
        (a.sampleRate, a.samples.length, audioHash64(a.samples))))
    blobs.select(col(idCol), f(col(dataCol)).as("__a"))
      .select(col(idCol), col("__a._1").as("sample_rate"),
        col("__a._2").as("n_samples"), col("__a._3").as("ahash"))
  }

  /** AUDIO near-duplicate pairs — the audio member of the dedup
    * family, completing the modality set (text SimHash, embedding
    * cosine, image dHash, audio envelope): fingerprints through
    * [[SimHash.nearDupPairsFromSigs]]' banded Hamming join (16-bit
    * chunk buckets, never all-pairs; EXACT recall for maxHamming <=
    * 3 by pigeonhole). Catches re-encoded and integer-upsampled
    * copies that byte-level dedup misses. */
  def audioNearDupPairs(blobs: DataFrame, idCol: String = "blob_id",
                        dataCol: String = "data",
                        maxHamming: Int = 2): DataFrame =
    SimHash.nearDupPairsFromSigs(
      audioPerceptualHash(blobs, idCol, dataCol)
        .where(col("ahash").isNotNull),
      idCol, "ahash", maxHamming)

  /** Modality-tagged 64-bit perceptual signature of a binary payload:
    * image dHash when the payload decodes as an image (P6 or any JDK
    * raster codec), audio envelope hash when it decodes as WAV
    * (PCM-16 / G.711); nulls otherwise (honest, countable — the
    * [[perceptualHash]] contract). The modality column keeps image
    * and audio hashes from ever cross-pairing: the two 64-bit spaces
    * are unrelated, and a coincidental bit match across them is
    * noise, not a duplicate. One narrow map stage, payloads never
    * shuffle. Output: (idCol, modality, sig). */
  def perceptualSignature(blobs: DataFrame, idCol: String = "blob_id",
                          dataCol: String = "data"): DataFrame = {
    val f = udf((data: Array[Byte]) =>
      decodeImage(data) match {
        case Some((w, h, rgb)) => Some(("image", dhash64(w, h, rgb)))
        case None => decodeWav(data).map(a =>
          ("audio", audioHash64(a.samples)))
      })
    blobs.select(col(idCol), f(col(dataCol)).as("__s"))
      .select(col(idCol), col("__s._1").as("modality"),
        col("__s._2").as("sig"))
  }

  /** Broadcastable perceptual NOVELTY index — the admitted corpus'
    * signature chunk keys in one Bloom filter (keys encode
    * (modality-bit, chunk position, 16-bit chunk value) into a long,
    * so image and audio keys never collide by construction). The
    * [[graft.ops.Novelty.BandIndex]] shape for blob corpora: fit once
    * per corpus version from a [[perceptualSignature]] frame, gate
    * every ingest batch map-only. */
  final case class PerceptualIndex(
      bloom: org.apache.spark.util.sketch.BloomFilter,
      distinctKeys: Long) {
    /** Fraction of the FINITE chunk-key space this index has admitted
      * — the gate's visibility signal: each key packs (modality bit
      * << 18 | chunk << 16 | 16-bit value), so at most
      * [[Multimodal.PerceptualKeySpace]] distinct keys can ever be
      * inserted no matter how many blobs the corpus holds. As
      * saturation approaches 1 the gate flags EVERYTHING non-novel
      * (every possible chunk is admitted) — a corpus that large needs
      * the exact [[Multimodal.perceptualPairsIncremental]] join, not
      * a prefilter, and this number is how a pipeline notices. */
    def saturation: Double =
      distinctKeys.toDouble / Multimodal.PerceptualKeySpace
  }

  /** The perceptual chunk-key space: 1 modality bit × 4 chunk
    * positions × 2^16 chunk values = 2^19 possible keys. */
  val PerceptualKeySpace: Long = 1L << 19

  /** Fit a [[PerceptualIndex]] from a [[perceptualSignature]] frame
    * (duplicate inserts set the same bits, so no distinct shuffle —
    * [[graft.ops.Novelty.fitBandIndex]]'s sizing rule), with the
    * expected-insertion estimate CAPPED at [[PerceptualKeySpace]]:
    * the key space is finite by construction, so sizing the Bloom at
    * 4×rows past that point only buys gigabytes of bits with strictly
    * HIGHER fpp than the ~1.3 MB the capped size needs. The exploded
    * key frame is PERSISTED for the fit's lifetime so the signature
    * lineage (often a live blob-decode) evaluates ONCE: one combined
    * aggregate yields both the insertion estimate and the exact
    * distinct-key count (what makes saturation a visible number
    * instead of a silent flag-everything failure), then the Bloom
    * pass reads the cache; a fit whose saturation exceeds 0.9 logs a
    * loud warning. */
  def fitPerceptualIndex(sigs: DataFrame,
                         fpp: Double = 0.001): PerceptualIndex = {
    require(Set("modality", "sig").subsetOf(sigs.columns.toSet),
      "fitPerceptualIndex expects a perceptualSignature frame " +
        s"(modality, sig); got ${sigs.columns.mkString(",")}")
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val keyed = sigs.where(col("sig").isNotNull)
      .select(col("sig"),
        when(col("modality") === "image", 0L).otherwise(lit(1L)).as("__m"))
      .select(explode(array((0 until 4).map { j =>
        shiftleft(col("__m"), 18)
          .bitwiseOR(lit(j.toLong << 16))
          .bitwiseOR(shiftrightunsigned(col("sig"), j * 16)
            .bitwiseAND(lit(0xFFFFL)))
      }: _*)).as("__k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idx = try {
      // exactly 4 keys per live signature, so the keyed count IS the
      // old live.count()*4 insertion estimate
      val r = keyed.agg(count(lit(1)), countDistinct(col("__k"))).head()
      val nEst = math.min(math.max(r.getLong(0), 1L), PerceptualKeySpace)
      val bloom = keyed.stat.bloomFilter("__k", nEst, fpp / 4)
      PerceptualIndex(bloom, r.getLong(1))
    } finally { keyed.unpersist(); () }
    if (idx.saturation > 0.9)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        f"fitPerceptualIndex: the chunk-key space is ${idx.saturation * 100}%.1f%% " +
          "saturated — the novelty gate will flag nearly every payload " +
          "non-novel; route batches through perceptualPairsIncremental " +
          "for exact pairing instead of relying on the prefilter")
    idx
  }

  /** Map-only perceptual NOVELTY gate — [[graft.ops.Novelty
    * .nearNovelFlag]]'s shape for blob corpora, STREAMING-SAFE (one
    * broadcast value, no join, no state): each row's payload is
    * decoded and hashed, and flagged NOT novel iff ANY of its four
    * signature chunk keys hits the admitted index. Pigeonhole gives
    * the gate's guarantee: a true near-dup within Hamming <= 3 of an
    * admitted signature ALWAYS shares at least one chunk — the gate
    * never misses one. A collision is NOT proof (same-chunk far
    * signatures, plus the Bloom's fpp), so the flag is a PREFILTER:
    * drop flagged rows at the ingest edge when over-dropping is
    * acceptable, or route them to the exact
    * [[perceptualPairsIncremental]] join. Undecodable payloads flag
    * novel (no signature is no evidence — the family's contract). */
  def perceptualNovelFlag(df: DataFrame, index: PerceptualIndex,
                          dataCol: String, outCol: String): DataFrame = {
    require(!df.columns.contains(outCol),
      s"input column $outCol collides with the gate's output column")
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(index.bloom)
    val f = udf((data: Array[Byte]) => {
      val sigOpt = decodeImage(data) match {
        case Some((w, h, rgb)) => Some((0L, dhash64(w, h, rgb)))
        case None => decodeWav(data).map(a => (1L, audioHash64(a.samples)))
      }
      sigOpt match {
        case None => true
        case Some((mBit, sig)) =>
          var j = 0
          var hit = false
          while (j < 4 && !hit) {
            val key = (mBit << 18) | (j.toLong << 16) |
              ((sig >>> (j * 16)) & 0xFFFFL)
            hit = bc.value.mightContain(key)
            j += 1
          }
          !hit
      }
    })
    df.withColumn(outCol, f(col(dataCol)))
  }

  /** INCREMENTAL perceptual near-dup pairs — the
    * [[graft.ops.Dedup.minhashPairsIncremental]] shape for the
    * multimodal modalities (the daily-ingest path at 100 TB): pairs
    * between a NEW blob batch and itself plus the PRECOMPUTED
    * signature frame of the already-admitted corpus
    * ([[perceptualSignature]]'s (id, modality, sig) output, persisted
    * when earlier batches landed), without re-decoding or re-pairing
    * the corpus. The new batch pays decode+hash for ITSELF only; the
    * corpus side contributes narrow 64-bit signature rows to the
    * banded candidate join, per modality (image and audio hashes
    * never cross-pair). New×old pairs are id-normalized; old×old
    * pairs were found when those batches landed. */
  def perceptualPairsIncremental(newBlobs: DataFrame, oldSigs: DataFrame,
                                 idCol: String = "blob_id",
                                 dataCol: String = "data",
                                 maxHamming: Int = 2): DataFrame =
    perceptualPairsIncrementalFromSigs(
      perceptualSignature(newBlobs, idCol, dataCol)
        .where(col("sig").isNotNull),
      oldSigs, idCol, maxHamming)

  /** [[perceptualPairsIncremental]] over an ALREADY-SIGNATURED new
    * batch — the entry a caller uses when it needs the batch's
    * signature frame for something else too (the streaming tail
    * pairs with it AND persists it as state: decoding every payload
    * twice would double the stage's dominant cost). */
  def perceptualPairsIncrementalFromSigs(newSigs: DataFrame,
                                         oldSigs: DataFrame,
                                         idCol: String = "blob_id",
                                         maxHamming: Int = 2): DataFrame = {
    Seq(newSigs -> "newSigs", oldSigs -> "oldSigs").foreach { case (f, n) =>
      require(Set(idCol, "modality", "sig").subsetOf(f.columns.toSet),
        s"$n must be a perceptualSignature frame " +
          s"($idCol, modality, sig); got ${f.columns.mkString(",")}")
    }
    // ONE candidate join with modality riding the join key (r18):
    // image and audio hashes still never cross-pair — equal modality
    // is part of the equi-join key — but the old one-branch-per-
    // modality union paid every join/dedup stage twice, once of them
    // always empty on a single-modality corpus. Identical pair set.
    SimHash.nearDupPairsFromSigsGrouped(
      newSigs.where(col("modality").isNotNull && col("sig").isNotNull),
      Some(oldSigs.where(col("modality").isNotNull && col("sig").isNotNull)),
      idCol, "sig", Seq("modality"), maxHamming)
  }

  /** PERCEPTUAL near-duplicate REMOVAL — the curation-stage form of
    * [[imageNearDupPairs]]/[[audioNearDupPairs]] for blob-bearing
    * corpora: signature each row's payload ([[perceptualSignature]]),
    * pair within each modality through the banded Hamming join (never
    * all-pairs; exact recall for maxHamming <= 3 by pigeonhole),
    * close the pair graph into duplicate clusters (min-label
    * propagation — a chain A~B~C collapses even when A,C never paired
    * directly), and keep ONE representative per cluster: the highest
    * `scoreCol` (ties to the smallest id — [[Dedup.exactKeepBest]]'s
    * q70 policy, the copy worth training on) or the smallest id when
    * no score is given. Rows whose payload decodes as neither image
    * nor audio are NEVER dropped (no signature = no evidence — the
    * honest default; gate undecodables upstream if they should die).
    *
    * Scale shape: one narrow map stage for the signatures (payloads
    * never shuffle), a (chunk, key)-bucketed candidate join over
    * 64-bit rows, closure over the (small) pair graph, and the
    * tag-back/anti-join of the cluster and loser frames onto the
    * corpus — broadcast while a driver-side estimate says they fit
    * `broadcastMaxBytes` (they hold one row per clustered id: tiny on
    * a mostly-unique corpus, corpus-scale on a duplicate-heavy crawl
    * — exactly where this stage matters most), plain shuffle joins
    * above the cap, results identical ([[Dedup.hintIfSmall]], the
    * `ivfPqSearchBatch` guard recipe). */
  def dropPerceptualDuplicates(df: DataFrame, idCol: String,
                               dataCol: String, maxHamming: Int = 2,
                               scoreCol: Option[String] = None,
                               broadcastMaxBytes: Long = 64L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!df.columns.contains("__pd_comp") && !df.columns.contains("__pd_rn"),
      "input columns collide with dropPerceptualDuplicates' reserved names")
    // the batch run of perceptualPairsIncrementalFromSigs' modality-keyed
    // candidate join: no admitted side
    val pairs = SimHash.nearDupPairsFromSigsGrouped(
      perceptualSignature(df, idCol, dataCol)
        .where(col("modality").isNotNull && col("sig").isNotNull),
      None, idCol, "sig", Seq("modality"), maxHamming)
    val comps = Dedup.componentsOf(pairs)
      .select(col("node").as(idCol), col("comp").as("__pd_comp"))
    // componentsOf returns a localCheckpointed frame: one cheap count
    // guards BOTH joins (every loser id is a clustered id, so the
    // loser frame can never outgrow the component frame)
    val compRows = comps.count()
    // only rows in some duplicate cluster enter the winner window —
    // the rest of the corpus never shuffles
    val order = scoreCol.map(s => Seq(col(s).desc, col(idCol).asc))
      .getOrElse(Seq(col(idCol).asc))
    val w = Window.partitionBy(col("__pd_comp")).orderBy(order: _*)
    val losers = df.join(Dedup.hintIfSmall(comps, compRows,
        broadcastMaxBytes), Seq(idCol))
      .withColumn("__pd_rn", row_number().over(w))
      .where(col("__pd_rn") =!= 1)
      .select(col(idCol))
    df.join(Dedup.hintIfSmall(losers, compRows, broadcastMaxBytes),
      Seq(idCol), "left_anti")
  }

  /** Shared nearest-neighbor resample over packed RGB triplets —
    * the one pixel kernel behind both the P6 and the raster-codec
    * resize paths (and the arithmetic the oracles replay). */
  private[ops] def nnResizeRgb(w: Int, h: Int, rgb: Array[Byte],
                               nw: Int, nh: Int): Array[Byte] = {
    val out = new Array[Byte](nw * nh * 3)
    var y = 0
    while (y < nh) {
      val sy = (y.toLong * h / nh).toInt
      var x = 0
      while (x < nw) {
        val sx = (x.toLong * w / nw).toInt
        val s = 3 * (sy * w + sx)
        val d = 3 * (y * nw + x)
        out(d) = rgb(s); out(d + 1) = rgb(s + 1); out(d + 2) = rgb(s + 2)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Resize to `maxWidth`, preserving aspect ratio. P6 payloads get a
    * REAL nearest-neighbor resize (decode → sample → re-encode as
    * canonical P6, dimensions matching the metadata rescale formula
    * exactly, output strictly smaller); JDK-raster payloads
    * (PNG/JPEG/GIF/BMP) get the same REAL pixel resample, re-encoded
    * as lossless PNG (strictly fewer pixels; the canonical container
    * keeps a later decode bit-exact regardless of the input codec);
    * opaque payloads keep the STUB byte subsample (every k-th byte
    * stands in for every k-th pixel row). Contract either way:
    * metadata updated by one shared formula, rows preserved. */
  def resize(blobs: DataFrame, maxWidth: Int): DataFrame = {
    val resizeUdf = udf((data: Array[Byte], width: Int) => {
      decodePpm(data) match {
        case Some((w, h, rgb)) if w > maxWidth =>
          val nh = (h.toLong * maxWidth / w).toInt // metadata formula
          encodePpm(maxWidth, nh, nnResizeRgb(w, h, rgb, maxWidth, nh))
        case Some(_) => data // real image already within bounds
        case None => decodeRaster(data) match {
          case Some((w, h, rgb)) if w > maxWidth =>
            val nh = (h.toLong * maxWidth / w).toInt // metadata formula
            encodePng(maxWidth, nh, nnResizeRgb(w, h, rgb, maxWidth, nh))
          case Some(_) => data // real image already within bounds
          case None =>
            if (data == null || width <= maxWidth) data
            else {
              val k = math.max(1, width / maxWidth)
              data.indices.collect { case i if i % k == 0 => data(i) }.toArray
            }
        }
      }
    })
    blobs
      .withColumn("data", resizeUdf(col("data"), col("meta.width")))
      .withColumn("meta", struct(
        col("meta.mime").as("mime"),
        least(col("meta.width"), lit(maxWidth)).as("width"),
        when(col("meta.width") > maxWidth,
          (col("meta.height") * maxWidth / col("meta.width")).cast("int"))
          .otherwise(col("meta.height")).as("height"),
        col("meta.n_frames").as("n_frames"),
        col("meta.duration_ms").as("duration_ms")))
  }

  /** Frame sampling for video payloads: emit every `stride`-th frame
    * index with its byte offset (stub offsets: payload split evenly by
    * n_frames). Explode is bounded by n_frames/stride per row. */
  def sampleFrames(blobs: DataFrame, stride: Int): DataFrame =
    blobs.select(
      col("blob_id"),
      col("meta.n_frames").as("n_frames"),
      explode(sequence(lit(0), col("meta.n_frames") - 1, lit(stride)))
        .as("frame_idx"),
      (length(col("data")) / greatest(col("meta.n_frames"), lit(1))).as("frame_bytes"))
      .withColumn("byte_offset", col("frame_idx") * col("frame_bytes"))
      .drop("frame_bytes")

  /** Metadata-only projection — the narrow frame downstream filters
    * use so parquet never reads payload pages. */
  def metadataOnly(blobs: DataFrame): DataFrame =
    blobs.select(col("blob_id"), col("meta.*"),
      length(col("data")).cast("long").as("payload_bytes"))

  // ---------------------------------------------------------------
  // Audio: RIFF/WAVE PCM-16 — decoded FOR REAL in pure JVM, the
  // audio counterpart of the P6 image path. No codec dependency:
  // canonical WAV is a 44-byte header + raw little-endian samples.
  // ---------------------------------------------------------------

  /** Decoded PCM audio: sample rate, channel count, interleaved
    * 16-bit samples. */
  final case class PcmAudio(sampleRate: Int, channels: Int,
                            samples: Array[Short])

  private def le32(d: Array[Byte], i: Int): Int =
    (d(i) & 0xFF) | ((d(i + 1) & 0xFF) << 8) |
      ((d(i + 2) & 0xFF) << 16) | ((d(i + 3) & 0xFF) << 24)

  private def le16(d: Array[Byte], i: Int): Int =
    (d(i) & 0xFF) | ((d(i + 1) & 0xFF) << 8)

  /** G.711 µ-law expansion (the standard telephony codec): one byte
    * to one linear 16-bit sample, pure integer arithmetic — which is
    * what lets q183 replay a COMPRESSED-audio decode in SQL. */
  private[ops] def ulawToLinear(b: Byte): Short = {
    val u = (~b) & 0xFF
    var t = ((u & 0x0F) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    (if ((u & 0x80) != 0) 0x84 - t else t - 0x84).toShort
  }

  /** G.711 A-law expansion (the E1-world twin of µ-law). */
  private[ops] def alawToLinear(b: Byte): Short = {
    val a = (b ^ 0x55) & 0xFF
    var t = (a & 0x0F) << 4
    val seg = (a & 0x70) >> 4
    if (seg == 0) t += 8
    else { t += 0x108; t <<= seg - 1 }
    (if ((a & 0x80) != 0) t else -t).toShort
  }

  /** REAL decode for RIFF/WAVE — pure JVM: PCM format 1 (16-bit) plus
    * the G.711 telephony formats (6 = A-law, 7 = µ-law; 8-bit bytes
    * expanded to linear 16-bit, so every downstream kernel is
    * shared). Walks the chunk list (so writers that emit LIST/fact
    * chunks still parse), requires a well-formed fmt chunk before
    * data, and STRICTLY bounds the data chunk to the payload, so
    * arbitrary bytes starting with "RIFF" never false-positive.
    * Returns None for anything else — those fall back to the stubs,
    * exactly like non-P6 images. */
  private[ops] def decodeWav(data: Array[Byte]): Option[PcmAudio] = {
    if (data == null || data.length < 44) return None
    if (data(0) != 'R' || data(1) != 'I' || data(2) != 'F' || data(3) != 'F' ||
        data(8) != 'W' || data(9) != 'A' || data(10) != 'V' || data(11) != 'E')
      return None
    var i = 12
    var rate = -1; var channels = -1; var bits = -1; var fmt = -1
    while (i + 8 <= data.length) {
      val size = le32(data, i + 4)
      if (size < 0 || i + 8 + size > data.length) return None
      val tag = new String(data, i, 4, "US-ASCII")
      if (tag == "fmt ") {
        if (size < 16) return None
        fmt = le16(data, i + 8)
        if (fmt != 1 && fmt != 6 && fmt != 7) return None // PCM / A-law / µ-law
        channels = le16(data, i + 10)
        rate = le32(data, i + 12)
        bits = le16(data, i + 22)
      } else if (tag == "data") {
        if (rate <= 0 || channels <= 0) return None
        if (fmt == 1) {
          if (bits != 16 || size % 2 != 0) return None
          val n = size / 2
          val out = new Array[Short](n)
          var s = 0
          while (s < n) { out(s) = le16(data, i + 8 + 2 * s).toShort; s += 1 }
          return Some(PcmAudio(rate, channels, out))
        } else { // G.711: one byte per sample
          if (bits != 8) return None
          val out = new Array[Short](size)
          var s = 0
          while (s < size) {
            out(s) = if (fmt == 7) ulawToLinear(data(i + 8 + s))
                     else alawToLinear(data(i + 8 + s))
            s += 1
          }
          return Some(PcmAudio(rate, channels, out))
        }
      }
      i += 8 + size + (size & 1) // chunks are word-aligned
    }
    None
  }

  /** Encode raw G.711 bytes (µ-law fmt 7 / A-law fmt 6) as a WAV
    * payload — the fixture/sink side of the telephony decode. */
  def encodeWavG711(rate: Int, channels: Int, bytes: Array[Byte],
                    aLaw: Boolean = false): Array[Byte] = {
    val out = new Array[Byte](44 + bytes.length)
    def w32(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
      out(i + 2) = (v >> 16).toByte; out(i + 3) = (v >> 24).toByte
    }
    def w16(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
    }
    def tag(i: Int, s: String): Unit = {
      val b = s.getBytes("US-ASCII"); System.arraycopy(b, 0, out, i, 4)
    }
    tag(0, "RIFF"); w32(4, 36 + bytes.length); tag(8, "WAVE")
    tag(12, "fmt "); w32(16, 16); w16(20, if (aLaw) 6 else 7)
    w16(22, channels); w32(24, rate); w32(28, rate * channels)
    w16(32, channels); w16(34, 8)
    tag(36, "data"); w32(40, bytes.length)
    System.arraycopy(bytes, 0, out, 44, bytes.length)
    out
  }

  /** Re-encode PCM-16 as a canonical 44-byte-header WAV payload. */
  def encodeWav(a: PcmAudio): Array[Byte] = {
    val dataBytes = a.samples.length * 2
    val out = new Array[Byte](44 + dataBytes)
    def w32(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
      out(i + 2) = (v >> 16).toByte; out(i + 3) = (v >> 24).toByte
    }
    def w16(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
    }
    def tag(i: Int, s: String): Unit = {
      val b = s.getBytes("US-ASCII"); System.arraycopy(b, 0, out, i, 4)
    }
    tag(0, "RIFF"); w32(4, 36 + dataBytes); tag(8, "WAVE")
    tag(12, "fmt "); w32(16, 16); w16(20, 1); w16(22, a.channels)
    w32(24, a.sampleRate); w32(28, a.sampleRate * a.channels * 2)
    w16(32, a.channels * 2); w16(34, 16)
    tag(36, "data"); w32(40, dataBytes)
    var s = 0
    while (s < a.samples.length) {
      w16(44 + 2 * s, a.samples(s) & 0xFFFF); s += 1
    }
    out
  }

  private[ops] final case class AudioFeatures(
    sampleRate: Int, channels: Int, nSamples: Int,
    peakAbs: Int, zeroCrossings: Int, sumSq: Long)

  /** Integer-exact audio statistics (SQL-replayable, like the q90
    * luminance path): peak |amplitude|, sign-change count, energy
    * (sum of squared samples). */
  private[ops] def audioFeatureKernel(a: PcmAudio): AudioFeatures = {
    var peak = 0; var zc = 0; var sumSq = 0L
    var i = 0
    val s = a.samples
    while (i < s.length) {
      val v = s(i).toInt
      val av = if (v < 0) -v else v
      if (av > peak) peak = av
      if (i > 0 && ((s(i - 1) < 0) != (v < 0))) zc += 1
      sumSq += v.toLong * v
      i += 1
    }
    AudioFeatures(a.sampleRate, a.channels, s.length, peak, zc, sumSq)
  }

  /** Decode + audio feature-extract: one narrow map stage, payloads
    * never shuffled. Non-WAV payloads emit nulls (feature columns)
    * rather than fake numbers — audio has no honest byte-level stub. */
  def extractAudioFeatures(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("blob_id"), col("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, data) =>
        decodeWav(data) match {
          case Some(a) =>
            val f = audioFeatureKernel(a)
            (id, Some(f.sampleRate), Some(f.channels), Some(f.nSamples),
              Some(f.peakAbs), Some(f.zeroCrossings), Some(f.sumSq))
          case None =>
            (id, None, None, None, None, None, None)
        }
      })
      .toDF("blob_id", "sample_rate", "channels", "n_samples",
        "peak_abs", "zero_crossings", "sum_sq")
  }

  /** REAL decimating resample for WAV payloads: keep every
    * `factor`-th frame (all channels of it), divide the declared
    * sample rate — nearest-neighbor in time, the audio analogue of
    * [[resize]]. Non-WAV payloads pass through untouched. */
  def decimateAudio(blobs: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"decimation factor must be >= 1, got $factor")
    val dec = udf((data: Array[Byte]) =>
      decodeWav(data) match {
        case Some(a) if factor > 1 =>
          val frames = a.samples.length / a.channels
          val keptFrames = (frames + factor - 1) / factor
          val out = new Array[Short](keptFrames * a.channels)
          var f = 0
          while (f < keptFrames) {
            var c = 0
            while (c < a.channels) {
              out(f * a.channels + c) = a.samples(f * factor * a.channels + c)
              c += 1
            }
            f += 1
          }
          encodeWav(PcmAudio(a.sampleRate / factor, a.channels, out))
        case _ => data
      })
    blobs.withColumn("data", dec(col("data")))
  }
}
