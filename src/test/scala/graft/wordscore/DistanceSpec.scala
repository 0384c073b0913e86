package graft.wordscore

import org.scalatest.funsuite.AnyFunSuite

/**
 * Levenshtein pins from the reference's HelperTests
 * (`/root/reference/src/test/scala-2.11/ch/uzh/sentiment/utils/HelperTests.scala:7-56`)
 * plus seeded randomized metric properties for the bounded variant.
 */
class DistanceSpec extends AnyFunSuite {

  import Distance.levenshtein

  test("empty strings") {
    assert(levenshtein("", "") === 0)
    assert(levenshtein("a", "") === 1)
    assert(levenshtein("", "a") === 1)
    assert(levenshtein("abc", "") === 3)
    assert(levenshtein("", "abc") === 3)
  }

  test("equal strings") {
    assert(levenshtein("a", "a") === 0)
    assert(levenshtein("abc", "abc") === 0)
  }

  test("inserts only") {
    assert(levenshtein("a", "ab") === 1)
    assert(levenshtein("b", "ab") === 1)
    assert(levenshtein("ac", "abc") === 1)
    assert(levenshtein("abcdefg", "xabxcdxxefxgx") === 6)
  }

  test("deletes only") {
    assert(levenshtein("ab", "a") === 1)
    assert(levenshtein("ab", "b") === 1)
    assert(levenshtein("abc", "ac") === 1)
    assert(levenshtein("xabxcdxxefxgx", "abcdefg") === 6)
  }

  test("substitutions only") {
    assert(levenshtein("a", "b") === 1)
    assert(levenshtein("ab", "ac") === 1)
    assert(levenshtein("ac", "bc") === 1)
    assert(levenshtein("abc", "axc") === 1)
    assert(levenshtein("xabxcdxxefxgx", "1ab2cd34ef5g6") === 6)
  }

  test("mixed operations") {
    assert(levenshtein("example", "samples") === 3)
    assert(levenshtein("sturgeon", "urgently") === 6)
    assert(levenshtein("distance", "difference") === 5)
  }

  test("tweet-grammar distances") {
    assert(levenshtein("noooo", "no") === 3)
    assert(levenshtein("great", "gr8t") === 2)
    assert(levenshtein("n00b", "noob") === 2)
  }

  private def randomPairs(n: Int): Seq[(String, String)] = {
    val rnd = new scala.util.Random(42)
    def word() = (0 until rnd.nextInt(12)).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
    (0 until n).map(_ => (word(), word()))
  }

  test("property: symmetry and identity (500 seeded cases)") {
    for ((a, b) <- randomPairs(500)) {
      assert(levenshtein(a, b) === levenshtein(b, a), s"symmetry($a,$b)")
      assert(levenshtein(a, a) === 0)
    }
  }

  test("property: bounded agrees with exact within bound (500 seeded cases)") {
    for ((a, b) <- randomPairs(500)) {
      val d = levenshtein(a, b)
      val b2 = Distance.bounded(a, b, 2)
      if (d <= 2) assert(b2 === d, s"bounded($a,$b)")
      else assert(b2 > 2, s"bounded($a,$b) should exceed 2")
    }
  }

  /** Full-matrix Levenshtein, independent of `Distance`'s two-row DP. */
  private def naive(a: String, b: String): Int = {
    val m = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      m(i)(j) = Seq(m(i - 1)(j) + 1, m(i)(j - 1) + 1,
        m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)).min
    m(a.length)(b.length)
  }

  /** Seeded pairs over a small alphabet with non-ASCII chars (accented,
    * surrogate halves), lengths up to 90 — past the initial row buffer —
    * with the second string often a few edits from the first. */
  private def mixedPairs(n: Int, seed: Int): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    val alphabet = "abc!\u00e9\u00fc\ud83d\ude00"
    def word(len: Int) = (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    (0 until n).map { _ =>
      val a = word(rnd.nextInt(if (rnd.nextInt(4) == 0) 90 else 12))
      val b =
        if (rnd.nextBoolean()) word(math.max(0, a.length + rnd.nextInt(7) - 3))
        else (0 until rnd.nextInt(5)).foldLeft(a) { (w, _) =>
          val i = rnd.nextInt(w.length + 1)
          w.patch(i, word(rnd.nextInt(2)), math.min(rnd.nextInt(2), w.length - i))
        }
      (a, b)
    }
  }

  test("property: bounded == naive within every bound 0..4, incl. long and non-ASCII (seeded)") {
    for ((a, b) <- mixedPairs(1500, 11); max <- 0 to 4) {
      val d = naive(a, b)
      val got = Distance.bounded(a, b, max)
      if (d <= max) assert(got === d, s"bounded($a,$b,$max)")
      else assert(got > max, s"bounded($a,$b,$max) should exceed $max")
      assert(levenshtein(a, b) === d, s"levenshtein($a,$b)")
    }
  }

  test("bounded: per-thread row buffers, concurrent callers agree with naive") {
    val pairs = mixedPairs(400, 12)
    val want = pairs.map { case (a, b) => naive(a, b) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 8).map { t =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          // each thread walks the pairs in its own order, so long and
          // short strings interleave differently on every thread
          def call(): Boolean = {
            val order = new scala.util.Random(t).shuffle(pairs.indices.toVector)
            order.forall(i => levenshtein(pairs(i)._1, pairs(i)._2) == want(i))
          }
        })
      }
      assert(futures.forall(_.get()))
    } finally pool.shutdown()
  }

  test("property: distance bounded by max length (500 seeded cases)") {
    for ((a, b) <- randomPairs(500))
      assert(levenshtein(a, b) <= math.max(a.length, b.length))
  }
}
