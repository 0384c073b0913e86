package graft.wordscore

import graft.text.Stemmer

/** The per-call form of word-score scoring: `value` -> `evaluate` -> a
  * memoised fuzzy scan whose best distance starts above the radius (4)
  * and whose char-class masks fold chars by `c % 64`, and the
  * array-per-pass `computeSentiment`. The bit-exact parity oracle of
  * [[WordScore.computeSentiment]] and its token memo; no production path
  * calls it. */
object WordScoreOracle {

  private final class Bucket(val keys: Array[String], val scores: Array[Double],
                             val masks: Array[Long])

  private def charMask(s: String): Long = {
    var m = 0L
    var i = 0
    while (i < s.length) { m |= 1L << (s.charAt(i) % 64); i += 1 }
    m
  }

  // the production bucket order: the same fold over the same map
  private lazy val byLength: Array[Bucket] = {
    val maxLen = WordList.scores.keysIterator.map(_.length).max
    val buckets = Array.fill(maxLen + 1)(List.empty[(String, Double)])
    WordList.scores.foreach { case kv @ (k, _) =>
      buckets(k.length) = kv :: buckets(k.length)
    }
    buckets.map { b =>
      new Bucket(b.map(_._1).toArray, b.map(_._2).toArray,
        b.map(kv => charMask(kv._1)).toArray)
    }
  }

  private val fuzzyCache =
    new BoundedLruCache[String, java.lang.Double](1 << 17)

  def fuzzy(word: String): Double = {
    val hit = fuzzyCache.get(word)
    if (hit != null) return hit.doubleValue()
    var bestDist = 4
    var sum = 0.0
    var n = 0
    val len = word.length
    val mask = charMask(word)
    val lo = math.max(0, len - 3)
    val hi = math.min(byLength.length - 1, len + 3)
    var l = lo
    while (l <= hi && l - len <= bestDist) {
      val bucket = byLength(l)
      var i = 0
      while (i < bucket.keys.length) {
        if (Distance.maskLowerBound(bucket.masks(i), mask) <= bestDist) {
          val d = Distance.bounded(bucket.keys(i), word, bestDist)
          val v = bucket.scores(i)
          if (d < bestDist) { bestDist = d; sum = v; n = 1 }
          else if (d == bestDist && d <= 3) { sum += v; n += 1 }
        }
        i += 1
      }
      l += 1
    }
    val result = if (bestDist > 3 || n == 0) 0.0 else sum / n
    fuzzyCache.put(word, result)
    result
  }

  private def evaluate(word: String): Double =
    WordList.scores.get(word) match {
      case Some(v) => v
      case None =>
        val dedup = word.distinct
        WordList.scores.get(dedup) match {
          case Some(v) => v
          case None =>
            val fw = fuzzy(word)
            val fd = if (dedup == word) fw else fuzzy(dedup)
            if (math.abs(fw) > math.abs(fd)) fw else fd
        }
    }

  private def value(word: String, stem: String): Double =
    if (stem == word) evaluate(word)
    else {
      val we = evaluate(word)
      val se = evaluate(stem)
      if (math.abs(we) > math.abs(se)) we else se
    }

  def value(word: String): Double = value(word, Stemmer.stem(word))

  private def tokensValue(values: Array[Double]): Option[Double] = {
    var sum = 0.0
    var nonZero = 0
    for (v <- values) { sum += v; if (v != 0.0) nonZero += 1 }
    if (nonZero != 0) Some(sum / nonZero) else None
  }

  def computeSentiment(text: String): Double = {
    if (text == null) return 0.0
    val words = text.split(" ")
    val stems = words.map(Stemmer.stem)
    val raw = tokensValue(Array.tabulate(words.length)(i => value(words(i), stems(i))))
    val stem = tokensValue(stems.map(value))
    (raw, stem) match {
      case (Some(r), Some(s)) => (r + s) / 2
      case (Some(r), None)    => r
      case (None, Some(s))    => s
      case (None, None)       => 0.0
    }
  }
}
