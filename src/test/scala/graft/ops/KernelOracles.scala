package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parity oracles for the per-row native kernels ([[Kernels]], reached
  * through the `graft_*` expressions): Scala-UDF, higher-order-function
  * and scalar forms of each kernel's semantics, written independently
  * of the kernel. The suites pin the kernels to these bit-for-bit; no
  * production path calls them. */
object KernelOracles {

  /** 60-bit md5-prefix base hash of one string's UTF-8 bytes. */
  def md5Base60(md: java.security.MessageDigest, s: String): Long = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Dedup.md5Base60Range(md, bytes, 0, bytes.length)
  }

  /** Scala-UDF form of `graft_shingles`. */
  def shinglesUdf(text: Column, n: Int): Column =
    udf((s: String) => Dedup.shingleSet(s, n)).apply(text)

  /** The original pure-expression formulation of the shingle set. */
  def shinglesExpr(text: Column, n: Int): Column = {
    val tokens = split(Dedup.normalized(text), " ")
    val grams = transform(
      sequence(lit(0), greatest(size(tokens) - n, lit(0))),
      i => concat_ws(" ", slice(tokens, i + lit(1), lit(n))))
    array_distinct(filter(grams, g => g =!= ""))
  }

  /** MinHash signature over String shingles. Null elements contribute
    * nothing — the kernel's skip contract, so the two cannot fork on a
    * caller-supplied `array<string>` with nulls. */
  def signatureOf(shingles: Array[String], k: Int): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sig = Array.fill(k)(-1L) // unsigned max sentinel
    var i = 0
    while (i < shingles.length) {
      if (shingles(i) != null) {
        val base = md5Base60(md, shingles(i))
        var s = 0
        while (s < k) {
          val h = Dedup.seedHash(base, s)
          if (java.lang.Long.compareUnsigned(h, sig(s)) < 0) sig(s) = h
          s += 1
        }
      }
      i += 1
    }
    sig
  }

  /** Scala-UDF form of `graft_minhash` (null array -> all--1L). */
  def minhashSignatureUdf(shingleCol: Column, numHashes: Int): Column =
    udf((sh: Seq[String]) =>
      if (sh == null) Array.fill(numHashes)(-1L)
      else signatureOf(sh.toArray, numHashes)).apply(shingleCol)

  /** Scala-UDF form of the SimHash signature over a token array. */
  val simhashUdf = udf((tokens: Seq[String]) =>
    if (tokens == null) 0L else SimHash.simhash64(tokens))

  /** 60-bit md5-prefix hash of each character k-gram of `norm`,
    * 1-based positions; empty array when the text is shorter than k. */
  def gramHashArray(norm: Column, k: Int): Column =
    when(length(norm) >= k,
      transform(sequence(lit(1), length(norm) - lit(k - 1)),
        i => conv(substring(md5(norm.substr(i, lit(k)).cast("binary")), 1, 15),
          16, 10).cast("long")))
      .otherwise(array().cast("array<bigint>"))

  /** Distinct window-min fingerprints of a gram-hash array column.
    * Fewer than `w` hashes form one window over all of them. */
  def winnowArray(hashes: Column, w: Int): Column =
    when(size(hashes) >= 1,
      array_distinct(transform(
        sequence(lit(1), greatest(size(hashes) - lit(w - 1), lit(1))),
        j => array_min(slice(hashes, j, lit(w))))))
      .otherwise(array().cast("array<bigint>"))

  /** The HOF fingerprint chain over `df`'s `norm` column, as column
    * `fps`. The gram hashes are projected as a column first and
    * winnowed second: nested inline, Spark re-evaluates the whole
    * gram-hash array inside every window's `slice`. */
  def winnowHof(df: DataFrame, norm: String, k: Int, w: Int): DataFrame =
    df.withColumn("__hs", gramHashArray(col(norm), k))
      .withColumn("fps", winnowArray(col("__hs"), w))
      .drop("__hs")

  /** Scalar reference model of the winnowing kernel: same
    * normalization (ASCII-space inputs; Spark `trim` only strips
    * 0x20), same 60-bit md5-prefix gram hash, same window-min-by-value
    * selection. All hashes are in [0, 2^60), so signed `min` equals
    * unsigned. */
  def winnowScalar(text: String, k: Int, w: Int): Seq[Long] = {
    require(k > 0 && w > 0, "k and w must be positive")
    if (text == null) return Seq.empty
    val norm = text.toLowerCase.replaceAll("\\s+", " ")
      .replaceAll("^ +| +$", "")
    if (norm.length < k) return Seq.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = Array.tabulate(norm.length - k + 1)(i =>
      md5Base60(md, norm.substring(i, i + k)))
    val nw = math.max(hashes.length - w + 1, 1)
    (0 until nw).map(j =>
      hashes.slice(j, math.min(j + w, hashes.length)).min).distinct
  }

  /** The original column-expression formulation of
    * [[TextStats.qualityScore]] — the readable SPECIFICATION of the
    * score, the shape every DuckDB oracle replays. */
  def qualityScoreHof(text: Column): Column = {
    import TextStats._
    val n = tokenCount(text).cast("double")
    val lengthTerm = least(n / lit(20.0), lit(1.0)) // ramps to 1 at 20 tokens
    val punctTerm = lit(1.0) - least(punctRatio(text) * 4, lit(1.0))
    val stopTerm = least(stopwordRatio(text) * 4, lit(1.0))
    val mtl = meanTokenLength(text)
    val mtlTerm = when(mtl.between(3.0, 9.0), lit(1.0)).otherwise(lit(0.5))
    // 3 decimals, not 4: the pre-round sum differs between engines in
    // the last ulp, and at sf0.1 one of 5000 docs landed exactly on a
    // 4-decimal rounding boundary (0.86875), flipping the cross-engine
    // compare. Coarser granularity has 10x fewer boundaries; the score
    // is a heuristic gate, 3 decimals lose nothing.
    round((lengthTerm * 0.3 + punctTerm * 0.2 + stopTerm * 0.3 + mtlTerm * 0.2), 3)
  }
}
