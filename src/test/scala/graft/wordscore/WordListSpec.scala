package graft.wordscore

import org.scalatest.funsuite.AnyFunSuite

/**
 * Word-list pins from the reference's WordListTests
 * (`/root/reference/src/test/scala-2.11/ch/uzh/sentiment/utils/WordListTests.scala:11-29`)
 * plus fuzzy/merge semantics checks, and the exhaustive fuzzy scan as
 * the parity oracle for the pruned one in `WordList.fuzzy`.
 */
class WordListSpec extends AnyFunSuite {

  import WordListSpec.{bits, exhaustiveFuzzy}

  test("positive pins: nice=1, happy=1 (reference WordListTests)") {
    assert(WordList.value("nice") === 1.0)
    assert(WordList.value("happy") === 1.0)
  }

  test("negative pins: bad=-1, badly=-1 (reference WordListTests)") {
    assert(WordList.value("bad") === -1.0)
    assert(WordList.value("badly") === -1.0)
  }

  test("dictionary sizes match the bundled resources") {
    // 3492: the resource has no trailing newline, so `wc -l` reports 3491
    assert(WordList.positive.length === 3492)
    assert(WordList.negative.length === 7604)
    // stem-merge shrinks the union
    assert(WordList.scores.size < 3492 + 7604)
  }

  test("stem collisions average (pos+neg stem -> mean)") {
    // every score is in [-1, 1] and collisions give intermediate values
    assert(WordList.scores.values.forall(v => v >= -1.0 && v <= 1.0))
  }

  test("char-dedup fallback: elongated forms resolve") {
    // "noooo".distinct == "no"; "no" itself is not in the Hu&Liu lists,
    // so this exercises dedup+fuzzy, and must stay within [-1, 1]
    val v = WordList.value("noooo")
    assert(v >= -1.0 && v <= 1.0)
  }

  test("golden values: misspellings of the head polarity words") {
    // frozen from the exhaustive scan before the scan was pruned; the
    // fractional ones are means over ties at the minimal distance
    val golden = Seq(
      "excellentt" -> 0.42857142857142855, "terible" -> -1.0,
      "hapy" -> -0.4166666666666667, "woderful" -> 1.0, "awsome" -> 1.0,
      "horible" -> -1.0, "brillant" -> 1.0, "dissapointed" -> -1.0,
      "fantastc" -> 1.0, "anoying" -> -1.0, "gorgous" -> 1.0,
      "pleasent" -> 1.0, "stupidd" -> -1.0, "borring" -> -1.0,
      "worryed" -> -1.0)
    for ((w, want) <- golden)
      assert(bits(WordList.value(w)) === bits(want), s"value($w)")
    // fuzzy alone, where the tie mean is not +-1
    assert(bits(WordList.fuzzy("borring")) === bits(-0.8571428571428571))
    assert(bits(WordList.fuzzy("woderful")) === bits(-1.0))
    assert(bits(WordList.fuzzy("excellentt")) === bits(0.0))
  }

  test("fuzzy parity: pruned scan == exhaustive scan, bit for bit") {
    val rnd = new scala.util.Random(7)
    // 'a'/'!' and 'b'/'"' are 64 apart (one mask bit each); accented
    // chars and lone surrogate halves exercise the non-ASCII classes
    val alphabet = ('a' to 'z') ++ ('0' to '9') ++
      Seq('!', '"', '#', '\u00e9', '\u00fc', '\u00f1', '\ud83d', '\ude00')
    def edit(w: String): String = {
      val c = alphabet(rnd.nextInt(alphabet.length))
      if (w.isEmpty) c.toString
      else {
        val i = rnd.nextInt(w.length)
        rnd.nextInt(3) match {
          case 0 => w.updated(i, c)
          case 1 => w.patch(i, Seq(c), 0)
          case _ => w.patch(i, Nil, 1)
        }
      }
    }
    def edits(w: String, k: Int): String = (1 to k).foldLeft(w)((x, _) => edit(x))
    val keys = WordList.scores.keys.toSeq.sorted
    val variants = keys.flatMap(k => Seq(edits(k, 1), edits(k, 2), edits(k, 3)))
    val hashtags = (0 until 500).map { _ =>
      val parts = Seq.fill(1 + rnd.nextInt(3))(keys(rnd.nextInt(keys.length)))
      parts.mkString + rnd.nextInt(100000)
    }
    val odd = Seq("", "!", "a!", "h!ppy", "g\u00f6\u00f6d", "caf\u00e9",
      "happy\ud83d\ude00", "\ud83d\ude00\ud83d\ude00", "l\u00f6ve", "b!d",
      "qqqqqqqqqqqqqqqqqqqqqq")
    val words = (keys ++ variants ++ hashtags ++ odd).flatMap(w => Seq(w, w.distinct)).distinct
    val mismatches = words.filter(w => bits(WordList.fuzzy(w)) != bits(exhaustiveFuzzy(w)))
    if (mismatches.nonEmpty)
      fail(s"${mismatches.size} of ${words.size} differ, e.g. ${mismatches.take(10).mkString(", ")}")
    // the variants must actually land inside the fuzzy radius
    assert(variants.count(w => exhaustiveFuzzy(w) != 0.0) > keys.size)
  }

  test("fuzzy: tokens >3 edits from every dictionary entry score 0") {
    assert(WordList.fuzzy("qqqqqqqqqqqqqqqqqqqqqq") === 0.0)
  }

  test("fuzzy memo LRU: bounded at cap without full eviction") {
    // the memo behind WordList.fuzzy; small instance so overflowing it
    // doesn't need 2^17 Levenshtein scans
    val c = new BoundedLruCache[String, java.lang.Integer](64, stripes = 4)
    for (i <- 0 until 256) c.put(s"k$i", i)
    assert(c.size <= 64)          // bounded
    assert(c.size > 32)           // ...but NOT cleared wholesale on cap
    // recency: a key touched while inserts continue survives the churn
    c.put("hot", -1)
    for (i <- 1000 until 1014) { c.put(s"k$i", i); assert(c.get("hot") === -1) }
    assert(c.get("hot") === -1)
    // and cold keys from the first wave were evicted, not retained
    assert((0 until 64).count(i => c.get(s"k$i") != null) < 64)
  }
}

object WordListSpec {

  def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Every entry of the length buckets within 3 of `word`, in the
    * production bucket order, through the bounded DP: the fuzzy scan
    * with no pruning, kept as the oracle `WordList.fuzzy` must match. */
  private lazy val buckets: Array[Array[(String, Double)]] = {
    val maxLen = WordList.scores.keysIterator.map(_.length).max
    val b = Array.fill(maxLen + 1)(List.empty[(String, Double)])
    WordList.scores.foreach { case kv @ (k, _) => b(k.length) = kv :: b(k.length) }
    b.map(_.toArray)
  }

  def exhaustiveFuzzy(word: String): Double = {
    var bestDist = 4
    var sum = 0.0
    var n = 0
    val lo = math.max(0, word.length - 3)
    val hi = math.min(buckets.length - 1, word.length + 3)
    for (l <- lo to hi; (k, v) <- buckets(l)) {
      val d = Distance.bounded(k, word, bestDist)
      if (d < bestDist) { bestDist = d; sum = v; n = 1 }
      else if (d == bestDist && d <= 3) { sum += v; n += 1 }
    }
    if (bestDist > 3 || n == 0) 0.0 else sum / n
  }
}
