package graft.ops

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

/**
 * Static Catalyst-typed kernels: the one method each per-row native
 * expression ([[graft.plans.KernelExpression]]: `graft_stem`,
 * `graft_clean`, `graft_simhash`, `graft_shingles`, `graft_minhash`,
 * `graft_winnow`, `graft_quality`, `graft_normalize`) calls, from generated code and from
 * the interpreted path alike.
 *
 * These operate directly on `UTF8String` / `ArrayData` so the
 * generated code makes ONE static call per row with no Scala-UDF
 * Option-boxing, no Row encoder round-trip, and no String round-trip
 * where the bytes suffice (minhash and winnow hash straight from the
 * UTF8 backing array). Semantics are pinned bit-for-bit to the
 * test-side oracles (`graft.ops.KernelOracles`: the Scala-UDF and
 * higher-order-function forms) by GraftExtensionsSpec and OpsSpec —
 * the md5-base60 + multiply-add family that every DuckDB oracle
 * replays must not fork.
 */
object Kernels {

  /** Porter stem of one token ([[graft.text.Stemmer.stem]]). */
  def stemUtf8(token: UTF8String): UTF8String =
    UTF8String.fromString(graft.text.Stemmer.stem(token.toString))

  /** The tweet cleaning chain ([[graft.text.TextClean.cleanString]]). */
  def cleanUtf8(text: UTF8String): UTF8String =
    UTF8String.fromString(graft.text.TextClean.cleanString(text.toString))

  /** The tweet normalisation chain ([[graft.text.TextClean.normalize]]). */
  def normalizeUtf8(text: UTF8String, stem: Boolean): UTF8String =
    UTF8String.fromString(graft.text.TextClean.normalize(text.toString, stem))

  /** 64-bit SimHash of the normalized text ([[SimHash.simhashOfText]]). */
  def simhashUtf8(text: UTF8String): Long =
    SimHash.simhashOfText(text.toString)

  /** Word n-gram shingle set of a text value — [[Dedup.shingleSet]]
    * lifted to Catalyst types. Null-safe: null text yields the empty
    * set (the Scala-UDF oracle's contract). */
  def shinglesUtf8(text: UTF8String, n: Int): ArrayData = {
    val arr =
      if (text == null) Array.empty[String]
      else Dedup.shingleSet(text.toString, n)
    val out = new Array[AnyRef](arr.length)
    var i = 0
    while (i < arr.length) {
      out(i) = UTF8String.fromString(arr(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature of a shingle array: per seed s, the UNSIGNED
    * min over shingles of [[Dedup.seedHash]] of the shingle's 60-bit
    * md5 base. The md5 base hashes the element's UTF-8
    * bytes directly from the UTF8String (identical bytes to
    * `String.getBytes(UTF_8)` for any well-formed string — all Spark
    * string expressions produce well-formed UTF-8; on ill-formed bytes
    * smuggled in via a binary cast this raw-byte view is canonical,
    * matching what a parquet-reading oracle like DuckDB hashes, where
    * a String round-trip would substitute replacement chars). No
    * String materialization. Null-safe: a null array (or null
    * elements — same skip contract as the UDF) contributes nothing, so
    * the signature degenerates to the all--1L (unsigned max) sentinel
    * the UDF returns. Output is an UnsafeArrayData over a primitive
    * long array — no boxing on the write side either. */
  def minhashUtf8(shingles: ArrayData, k: Int): ArrayData = {
    val sig = Array.fill(k)(-1L) // unsigned max sentinel
    if (shingles != null) {
      val md = java.security.MessageDigest.getInstance("MD5")
      val n = shingles.numElements()
      var i = 0
      while (i < n) {
        if (!shingles.isNullAt(i)) {
          val bytes = shingles.getUTF8String(i).getBytes
          val base = Dedup.md5Base60Range(md, bytes, 0, bytes.length)
          var s = 0
          while (s < k) {
            val h = Dedup.seedHash(base, s)
            if (java.lang.Long.compareUnsigned(h, sig(s)) < 0) sig(s) = h
            s += 1
          }
        }
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** ASCII whitespace class of Java regex `\s` (no UNICODE flag):
    * exactly the separators `split(text, "\\s+")` splits on. U+00A0
    * and other Unicode spaces are NOT separators — parity with the
    * column form, not with intuition. */
  private def isSep(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
      cp == '\f' || cp == '\r'

  /** ASCII punctuation class of Java regex `\p{Punct}` (POSIX punct),
    * as a 128-entry lookup. */
  private val punctTable: Array[Boolean] = {
    val t = new Array[Boolean](128)
    "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~".foreach(c => t(c) = true)
    t
  }

  /** [[graft.ops.TextStats.EnglishStopTokens]] as a hash set, plus the
    * longest member's length — tokens longer than that can't match,
    * so the stop pass never materializes long token strings. */
  private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    graft.ops.TextStats.EnglishStopTokens.foreach(s.add)
    s
  }
  private lazy val stopMaxLen: Int =
    graft.ops.TextStats.EnglishStopTokens.map(_.length).max

  /** Composite quality score ([[graft.ops.TextStats.qualityScore]]) in
    * ONE pass over the string (plus one pass over its lowercase form
    * for the stop-token component), replacing four independent
    * interpreted passes (three regex `split`s + array filter/aggregate
    * HOFs and one regex replace) per row.
    *
    * Bit-parity contract (OpsSpec pins kernel == the legacy column
    * chain on the fixture corpus and edge strings):
    *  - token boundaries: maximal runs of non-`\s` code points, `\s`
    *    being the ASCII-only Java class ([[isSep]]);
    *  - token/text lengths in CODE POINTS (Spark `length` semantics);
    *  - punctuation: Java `\p{Punct}` (ASCII POSIX class);
    *  - the stop pass tokenizes `UTF8String.toLowerCase` of the whole
    *    text (exactly `split(lower(text))`'s input), with its own
    *    token count for the ratio's denominator (lowercasing can
    *    change code-point counts — İ — so raw and lowered counts are
    *    tracked independently, as the column form does);
    *  - blend arithmetic replicated in the same IEEE operation order,
    *    3-decimal HALF_UP round.
    * NULL handling lives in the Column wrapper ([[graft.ops.TextStats
    * .qualityScore]]): the legacy chain scored NULL text 0.6 (its
    * null length term vanishes inside `least`), preserved there. */
  def qualityUtf8(text: UTF8String): Double = {
    val s = text.toString
    // raw pass: code-point length, punct count, token count + lengths
    var len = 0
    var punct = 0
    var nTokens = 0
    var sumTokenLen = 0L
    var inTok = false
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      len += 1
      if (cp < 128 && punctTable(cp)) punct += 1
      if (isSep(cp)) inTok = false
      else {
        if (!inTok) { nTokens += 1; inTok = true }
        sumTokenLen += 1
      }
      i += Character.charCount(cp)
    }
    // stop pass over the LOWERED text (Spark lower()'s exact output)
    val lower = text.toLowerCase.toString
    var nLower = 0
    var hits = 0
    var j = 0
    while (j < lower.length) {
      // skip separators
      while (j < lower.length && isSep(lower.codePointAt(j)))
        j += Character.charCount(lower.codePointAt(j))
      if (j < lower.length) {
        nLower += 1
        val start = j
        while (j < lower.length && !isSep(lower.codePointAt(j)))
          j += Character.charCount(lower.codePointAt(j))
        if (j - start <= stopMaxLen &&
            stopSet.contains(lower.substring(start, j))) hits += 1
      }
    }
    // the blend, in the column form's exact operation order
    val n = nTokens.toDouble
    val lengthTerm = math.min(n / 20.0, 1.0)
    val punctRatio = if (len > 0) punct.toDouble / len.toDouble else 0.0
    val punctTerm = 1.0 - math.min(punctRatio * 4, 1.0)
    val stopRatio =
      if (nLower > 0) hits.toDouble / nLower.toDouble else 0.0
    val stopTerm = math.min(stopRatio * 4, 1.0)
    val mtl =
      if (nTokens > 0) sumTokenLen.toDouble / nTokens.toDouble else 0.0
    val mtlTerm = if (mtl >= 3.0 && mtl <= 9.0) 1.0 else 0.5
    BigDecimal(lengthTerm * 0.3 + punctTerm * 0.2 + stopTerm * 0.3 +
      mtlTerm * 0.2).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Winnowing fingerprint selection ([[graft.ops.Fingerprint]]) of an
    * already-NORMALIZED text value, lifted to Catalyst types — the
    * codegen replacement for the interpreted HOF chain (per-character
    * `transform`+`substr`+`md5` gram hashing, then `slice`+`array_min`
    * per window), which was the battery's worst scale-decade grower.
    *
    * Bit-parity contract (GraftExtensionsSpec pins all three forms):
    *  - gram hash = 60-bit md5 prefix of the UTF-8 bytes of each
    *    k-CHARACTER substring — character positions, exactly
    *    `substr(norm, i, k)`'s code-point semantics (grams are sliced
    *    off the byte array via a code-point offset walk, no per-gram
    *    String or byte-array allocation);
    *  - windows of `w` consecutive gram hashes, min BY VALUE per
    *    window (monotonic-deque O(n) instead of the HOF's O(n*w));
    *  - distinct preserving first occurrence (array_distinct's order).
    * Texts shorter than k characters yield the empty array; fewer
    * than w hashes form one window over all of them. */
  def winnowUtf8(norm: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = norm.getBytes
    // code-point start offsets: starts(c) = byte offset of char c
    val nBytes = bytes.length
    var nChars = 0
    var b = 0
    while (b < nBytes) {
      b += UTF8String.numBytesForFirstByte(bytes(b))
      nChars += 1
    }
    if (nChars < k)
      return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val starts = new Array[Int](nChars + 1)
    var c = 0
    b = 0
    while (b < nBytes) {
      starts(c) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      c += 1
    }
    starts(nChars) = nBytes
    val nGrams = nChars - k + 1
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      hashes(i) = Dedup.md5Base60Range(md, bytes, starts(i),
        starts(i + k) - starts(i))
      i += 1
    }
    // window minima: one window over everything when nGrams <= w,
    // else the standard fixed-width monotonic-deque sliding min
    // (values are in [0, 2^60), so signed min == unsigned min)
    val nw = math.max(nGrams - w + 1, 1)
    val mins = new Array[Long](nw)
    if (nGrams <= w) {
      var m = Long.MaxValue
      i = 0
      while (i < nGrams) { if (hashes(i) < m) m = hashes(i); i += 1 }
      mins(0) = m
    } else {
      val dq = new Array[Int](nGrams)
      var h = 0
      var t = 0 // deque is dq[h until t]
      i = 0
      while (i < nGrams) {
        while (t > h && hashes(dq(t - 1)) >= hashes(i)) t -= 1
        dq(t) = i; t += 1
        val j = i - w + 1
        if (j >= 0) {
          while (dq(h) < j) h += 1
          mins(j) = hashes(dq(h))
        }
        i += 1
      }
    }
    // distinct, first-occurrence order (array_distinct's contract)
    val seen = new java.util.HashSet[java.lang.Long](nw * 2)
    val out = new Array[Long](nw)
    var m = 0
    var j = 0
    while (j < nw) {
      if (seen.add(mins(j))) { out(m) = mins(j); m += 1 }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, m))
  }
}
