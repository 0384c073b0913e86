package graft.wordscore

import scala.io.Source

import graft.text.Stemmer

/**
 * The ±1 sentiment dictionary with stem-merge and fuzzy lookup.
 *
 * Reference semantics
 * (`/root/reference/src/main/scala-2.11/ch/uzh/sentiment/utils/WordList.scala:9-62`):
 *  - positive/negative word lists are lowercased, Porter-stemmed, and
 *    merged; a stem appearing in both lists averages to its mean score
 *    (collisions -> 0.0);
 *  - `value(word)`: evaluate the word, and if its stem differs also the
 *    stem, returning whichever has the larger |score|;
 *  - `evaluate(w)`: exact map hit, else hit on `w.distinct` (dedup
 *    chars, "noooo"->"no"), else fuzzy: mean score of dictionary words
 *    at the minimal edit distance d_min when d_min <= 3, else 0.0.
 *
 * Two deliberate deviations from the reference, intended semantics per
 * SURVEY.md §2.8 U4:
 *  - the reference's `dx` guard `getAll.exists(distance > 3) => 0.0`
 *    fires for every real dictionary (some word is always >3 away), so
 *    its fuzzy path is dead code; ours keys on the distance to the
 *    NEAREST entry;
 *  - the reference's distance ladder can average over an empty set
 *    (0/0 = NaN) when d_min == 3; ours averages over the words AT the
 *    minimal distance, which is never empty when d_min <= 3.
 *
 * Scale design: the dictionary is a per-JVM lazy singleton loaded from
 * the library's own classpath resources — each executor materializes it
 * once locally, with zero driver->executor serialization (strictly
 * cheaper than the reference's broadcast-a-WordList-instance at 1000
 * executors). The fuzzy scan visits only the length buckets within 3 of
 * the query, stopping at the first longer bucket whose length gap
 * exceeds the best distance so far. The best distance starts at the
 * radius, 3, not above it. In each bucket the scan skips every entry
 * whose character-class lower bound ([[Distance.maskLowerBound]], one
 * precomputed 64-bit mask per entry) already exceeds the best distance
 * so far: such an entry could neither lower it nor tie it, so the result
 * is bit-identical to scanning all of them while most entries never
 * reach the DP. The survivors run the banded early-exit Levenshtein
 * bounded by the best distance so far.
 *
 * Nothing here is memoised: the one per-JVM memo is
 * [[WordScore]]'s token memo, which holds each token's raw-pass and
 * stemmed-pass values, because token frequency follows Zipf's law — the
 * same tokens recur millions of times at 100 TB.
 */
object WordList {

  private def loadResource(path: String): List[String] = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"classpath resource $path missing")
    try Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Positive words, lowercased (3,491 entries; Hu & Liu opinion lexicon,
    * same data as the reference's `positive.txt` resource). */
  lazy val positive: List[String] = loadResource("/graft/positive.txt").map(_.toLowerCase)

  /** Negative words, lowercased (7,603 entries). */
  lazy val negative: List[String] = loadResource("/graft/negative.txt").map(_.toLowerCase)

  /** Stem-merged score map: stem -> mean(+1/-1 over source lists). */
  lazy val scores: Map[String, Double] = {
    val pos = positive.map(w => Stemmer.stem(w) -> 1.0)
    val neg = negative.map(w => Stemmer.stem(w) -> -1.0)
    (pos ++ neg).groupBy(_._1)
      .map { case (stem, vs) => stem -> vs.map(_._2).sum / vs.length }
  }

  /** One length bucket of the fuzzy-scan dictionary, struct-of-arrays:
    * entry i is `keys(i)` with score `scores(i)` and character-class set
    * `masks(i)` ([[Distance.charMask]]). */
  private final class Bucket(val keys: Array[String], val scores: Array[Double],
                             val masks: Array[Long])

  /** Length-bucketed dictionary for the fuzzy scan: bucket i holds the
    * entries with key length i. Candidates for a d<=3 lookup are only
    * the buckets within +-3 of the query length. */
  private lazy val byLength: Array[Bucket] = {
    val maxLen = scores.keysIterator.map(_.length).max
    val buckets = Array.fill(maxLen + 1)(List.empty[(String, Double)])
    scores.foreach { case kv @ (k, _) =>
      buckets(k.length) = kv :: buckets(k.length)
    }
    buckets.map { b =>
      new Bucket(b.map(_._1).toArray, b.map(_._2).toArray,
        b.map(kv => Distance.charMask(kv._1)).toArray)
    }
  }

  /** The fuzzy radius: entries farther than this never contribute. */
  private val MaxFuzzyDistance = 3

  /** Mean score of dictionary entries at the minimal edit distance from
    * `word` when that distance <= 3; 0.0 otherwise. The search bound
    * starts AT the radius, so neither the mask prune nor the DP admits
    * an entry that could not contribute. */
  def fuzzy(word: String): Double = {
    var bestDist = MaxFuzzyDistance
    var sum = 0.0
    var n = 0
    val len = word.length
    val lo = math.max(0, len - MaxFuzzyDistance)
    val hi = math.min(byLength.length - 1, len + MaxFuzzyDistance)
    if (lo > hi) return 0.0
    val mask = Distance.charMask(word)
    var l = lo
    // buckets longer than the query by more than bestDist can neither
    // lower nor tie it
    while (l <= hi && l - len <= bestDist) {
      val bucket = byLength(l)
      val keys = bucket.keys
      val masks = bucket.masks
      var i = 0
      while (i < keys.length) {
        // entries skipped here are farther than bestDist: they would
        // neither lower it nor tie it
        if (Distance.maskLowerBound(masks(i), mask) <= bestDist) {
          val d = Distance.bounded(keys(i), word, bestDist)
          if (d <= bestDist) {
            val v = bucket.scores(i)
            if (d < bestDist || n == 0) { bestDist = d; sum = v; n = 1 }
            else { sum += v; n += 1 }
          }
        }
        i += 1
      }
      l += 1
    }
    if (n == 0) 0.0 else sum / n
  }

  /** `word` without the repeats of any char after its first occurrence
    * (Scala's `word.distinct`: "noooo" -> "no", "hello" -> "helo");
    * `word` itself when no char repeats. ASCII chars are tracked in two
    * 64-bit sets; a non-ASCII char looks back through the prefix. */
  private def distinctChars(word: String): String = {
    val n = word.length
    var lo = 0L
    var hi = 0L
    var out: Array[Char] = null
    var k = 0
    var i = 0
    while (i < n) {
      val c = word.charAt(i)
      val seen =
        if (c < 64) (lo & (1L << c)) != 0
        else if (c < 128) (hi & (1L << (c - 64))) != 0
        else word.lastIndexOf(c, i - 1) >= 0
      if (seen) {
        if (out == null) {
          out = new Array[Char](n)
          word.getChars(0, i, out, 0)
          k = i
        }
      } else {
        if (c < 64) lo |= 1L << c else if (c < 128) hi |= 1L << (c - 64)
        if (out != null) { out(k) = c; k += 1 }
      }
      i += 1
    }
    if (out == null) word else new String(out, 0, k)
  }

  /** `a` if its magnitude is strictly larger, else `b` (the reference's
    * tie-break toward the second operand). */
  private[wordscore] def maxAbs(a: Double, b: Double): Double =
    if (math.abs(a) > math.abs(b)) a else b

  /** Exact -> char-dedup -> fuzzy lookup (reference `evaluate`). */
  private[wordscore] def evaluate(word: String): Double =
    scores.get(word) match {
      case Some(v) => v
      case None =>
        val dedup = distinctChars(word)
        if (dedup eq word) fuzzy(word)
        else scores.get(dedup) match {
          case Some(v) => v
          case None => maxAbs(fuzzy(word), fuzzy(dedup))
        }
    }

  /** Score of a single token in [-1, 1] (reference `value`): the word
    * and, when its stem differs, the stem, whichever scores larger. */
  def value(word: String): Double = {
    val stem = Stemmer.stem(word)
    if (stem == word) evaluate(word) else maxAbs(evaluate(word), evaluate(stem))
  }
}
