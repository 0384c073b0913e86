package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/**
 * Novelty gates for continuous ingest: is an incoming document already
 * in the historical corpus? Both forms work identically on a batch
 * frame and a streaming frame (the streaming wrappers below), because
 * they avoid stateful streaming operators entirely — the corpus is the
 * state, carried as a static frame or a broadcast sketch.
 *
 * Extension surface beyond the reference (batch sentiment only); the
 * dedup-at-ingest shape is standard practice for training-data
 * pipelines that continuously crawl.
 *
 * Scale design (100 TB corpus, GB-scale daily ingest):
 *  - [[exactNovel]] anti-joins on a 16-byte md5 of the normalized text
 *    — the corpus side reduces to a (key) frame that is precomputable
 *    and incrementally appendable (union yesterday's keys with
 *    yesterday's novel keys); only narrow keys shuffle. md5 (not
 *    xxhash64) so the key — and therefore the whole contract — is
 *    replayable by any engine (the DuckDB oracle included).
 *  - [[nearNovel]] goes further: the corpus' banded-MinHash bucket keys
 *    collapse into a broadcast Bloom filter, making the check MAP-ONLY
 *    (no join, no shuffle, no streaming state). Semantics are LSH
 *    candidate semantics: kept == no band collision with the corpus
 *    (novel at the banding's threshold/recall), with an extra-drop
 *    rate bounded by the filter's fpp per band.
 */
object Novelty {

  private def exactKey(textCol: String) =
    md5(Dedup.normalized(col(textCol)).cast("binary"))

  /** The exact-novelty key expression (md5 hex of the normalized
    * text) — public so pipelines can PRECOMPUTE a corpus key frame
    * once per landing batch and gate later ingests against it via
    * [[exactNovelVsKeys]] instead of re-reading the corpus text. */
  def exactKeyCol(textCol: String): org.apache.spark.sql.Column =
    exactKey(textCol)

  /** [[exactNovel]] against a PRECOMPUTED key frame (a `__nk` column
    * of [[exactKeyCol]] values): the incremental-state form — the
    * corpus text never loads, only its 32-hex-char keys. No distinct
    * on the key side: anti-join semantics are duplicate-insensitive,
    * and the state-maintenance contract (keys written only for
    * ADMITTED, already-novel rows) keeps them unique anyway. */
  def exactNovelVsKeys(docs: DataFrame, corpusKeys: DataFrame,
                       textCol: String): DataFrame = {
    require(corpusKeys.columns.contains("__nk"),
      "corpusKeys must carry the __nk key column (Novelty.exactKeyCol)")
    require(!docs.columns.contains("__nk"),
      "input column __nk collides with exactNovelVsKeys's reserved name")
    val ck = corpusKeys.select(col("__nk"))
    docs.join(ck, exactKey(textCol) === ck("__nk"), "left_anti")
  }

  /** Documents whose normalized text does not appear in `corpus` —
    * exact novelty via a left-anti join on md5(normalized). Works as a
    * stream-static join when `docs` is streaming (left_anti with a
    * static right side is a supported shape; no watermark or state). */
  def exactNovel(docs: DataFrame, corpus: DataFrame,
                 textCol: String): DataFrame = {
    require(!docs.columns.contains("__nk"),
      "input column __nk collides with exactNovel's reserved name")
    val corpusKeys = corpus.select(exactKey(textCol).as("__nk")).distinct()
    docs.join(corpusKeys,
      exactKey(textCol) === corpusKeys("__nk"), "left_anti")
  }

  /** [[exactNovel]] as an ANNOTATION instead of a filter: docs plus a
    * boolean `flagCol` (true = novel). Lets a multi-gate pipeline fold
    * the novelty decision into one shared projection/cache instead of
    * materializing a filtered frame per gate; same key arithmetic, and
    * the corpus key set is distinct so the left join cannot fan rows
    * out. */
  def exactNovelFlag(docs: DataFrame, corpus: DataFrame, textCol: String,
                     flagCol: String): DataFrame = {
    require(!docs.columns.contains("__nk"),
      "input column __nk collides with exactNovelFlag's reserved name")
    require(!docs.columns.contains(flagCol),
      s"input column $flagCol already exists")
    val corpusKeys = corpus.select(exactKey(textCol).as("__nk")).distinct()
    docs.join(corpusKeys, exactKey(textCol) === corpusKeys("__nk"), "left")
      .withColumn(flagCol, col("__nk").isNull)
      .drop("__nk")
  }

  /** File-source stream wired through [[exactNovel]]. */
  def streamExactNovel(spark: SparkSession, dir: String, corpus: DataFrame,
                       textCol: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    exactNovel(spark.readStream.schema(schema).parquet(dir), corpus, textCol)
  }

  /** The broadcast-able near-dup state of a corpus: a Bloom filter over
    * its banded-MinHash bucket keys (band position is baked into each
    * key by [[Dedup.bandHashes]]' per-band seed). */
  final case class BandIndex(bloom: BloomFilter, shingleSize: Int,
                             numHashes: Int, bands: Int)

  /** Fit the [[BandIndex]] of a historical corpus. Fit once per corpus
    * version; the filter is a few bytes per corpus document at the
    * default fpp, so even a billion-doc corpus ships to executors.
    *
    * `fpp` is the PER-DOCUMENT false-drop budget: [[nearNovel]] probes
    * `bands` keys per doc, so the filter is built at fpp/bands per
    * lookup — a novel doc's chance of being falsely dropped stays
    * ~fpp, not ~bands*fpp. */
  def fitBandIndex(corpus: DataFrame, textCol: String,
                   shingleSize: Int = 3, numHashes: Int = 12,
                   bands: Int = 4, fpp: Double = 0.001): BandIndex = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val r = numHashes / bands
    // Size the filter from the corpus row count (metadata-cheap), not
    // from counting the distinct band keys: distinct keys <= docs x
    // bands, and OVERestimating n only adds bits (lowers fpp — always
    // safe). This keeps the fit to ONE pass over the expensive
    // shingle+signature pipeline — no persist, no distinct shuffle, no
    // separate count action (duplicate inserts set the same bits).
    val nEst = math.max(corpus.count() * bands, 1L)
    val bloom = corpus
      .select(Dedup.shingles(col(textCol), shingleSize).as("__sh"))
      .where(size(col("__sh")) > 0)
      .withColumn("__sig", Dedup.minhashSignature(col("__sh"), numHashes))
      .select(explode(Dedup.bandHashes(col("__sig"), bands, r)).as("__bh"))
      .stat.bloomFilter("__bh", nEst, fpp / bands)
    BandIndex(bloom, shingleSize, numHashes, bands)
  }

  /** Persist a fitted [[BandIndex]]: the Bloom filter's bitset via a
    * Hadoop-FS stream (works on HDFS/S3A paths, not just local disk)
    * plus a one-row parquet of the banding parameters — the durable
    * half of "fit once per corpus version, gate every ingest batch":
    * serving jobs load the index instead of re-reading the corpus. */
  def saveBandIndex(spark: SparkSession, index: BandIndex,
                    dir: String): Unit = {
    import spark.implicits._
    val path = new org.apache.hadoop.fs.Path(s"$dir/bloom.bin")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try index.bloom.writeTo(out) finally out.close()
    Seq((index.shingleSize, index.numHashes, index.bands))
      .toDF("shingle_size", "num_hashes", "bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a [[BandIndex]] persisted by [[saveBandIndex]]. */
  def loadBandIndex(spark: SparkSession, dir: String): BandIndex = {
    val m = spark.read.parquet(s"$dir/meta").head()
    val path = new org.apache.hadoop.fs.Path(s"$dir/bloom.bin")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    val bloom = try BloomFilter.readFrom(in) finally in.close()
    BandIndex(bloom, m.getInt(0), m.getInt(1), m.getInt(2))
  }

  /** Documents with NO banded-MinHash band collision against the
    * indexed corpus — near-dup novelty as a map-only filter (streaming-
    * safe: per-row expressions plus a broadcast sketch, no state). */
  def nearNovel(docs: DataFrame, index: BandIndex,
                textCol: String): DataFrame = {
    val r = index.numHashes / index.bands
    val sc = docs.sparkSession.sparkContext
    val bloomB = sc.broadcast(index.bloom)
    val anyHit = udf((bhs: Seq[Long]) =>
      bhs != null && bhs.exists(bloomB.value.mightContain))
    val cols = docs.columns
    val clash = cols.toSet.intersect(Set("__sh", "__sig", "__bhs"))
    require(clash.isEmpty,
      s"input columns ${clash.mkString(", ")} collide with nearNovel's reserved names")
    docs
      .withColumn("__sh", Dedup.shingles(col(textCol), index.shingleSize))
      .withColumn("__sig", Dedup.minhashSignature(col("__sh"), index.numHashes))
      .withColumn("__bhs", Dedup.bandHashes(col("__sig"), index.bands, r))
      .where(size(col("__sh")) === 0 || !anyHit(col("__bhs")))
      .drop("__sh", "__sig", "__bhs")
  }

  /** [[nearNovel]] as an ANNOTATION instead of a filter: docs plus a
    * boolean `flagCol` (true = no band collision against the indexed
    * corpus). Same map-only shape — per-row expressions plus the
    * broadcast sketch; the shingle/signature intermediates are
    * projected and dropped, so the optimizer computes each once. */
  def nearNovelFlag(docs: DataFrame, index: BandIndex, textCol: String,
                    flagCol: String): DataFrame = {
    val r = index.numHashes / index.bands
    val sc = docs.sparkSession.sparkContext
    val bloomB = sc.broadcast(index.bloom)
    val anyHit = udf((bhs: Seq[Long]) =>
      bhs != null && bhs.exists(bloomB.value.mightContain))
    val clash = docs.columns.toSet
      .intersect(Set("__sh", "__sig", "__bhs", flagCol))
    require(clash.isEmpty,
      s"input columns ${clash.mkString(", ")} collide with nearNovelFlag's names")
    docs
      .withColumn("__sh", Dedup.shingles(col(textCol), index.shingleSize))
      .withColumn("__sig", Dedup.minhashSignature(col("__sh"), index.numHashes))
      .withColumn("__bhs", Dedup.bandHashes(col("__sig"), index.bands, r))
      .withColumn(flagCol, size(col("__sh")) === 0 || !anyHit(col("__bhs")))
      .drop("__sh", "__sig", "__bhs")
  }
}
