package graft.wordscore

/**
 * Levenshtein edit distance.
 *
 * Capability parity with the reference's `Helper.stringDistance`
 * (`/root/reference/src/main/scala-2.11/ch/uzh/sentiment/utils/Helper.scala:149-163`),
 * which is a memoized recursive formulation. This is a from-scratch
 * iterative two-row DP with an early-exit bound — O(min-len) memory in
 * per-thread row buffers that are reused across calls and grown on
 * demand, so a call allocates nothing once its thread has seen a string
 * that long — because it runs inside the hot word-score UDF on every
 * out-of-vocabulary token, on every executor thread at once.
 */
object Distance {

  /** One thread's DP rows; never shared across threads. */
  private final class Rows {
    var prev = new Array[Int](32)
    var curr = new Array[Int](32)
    def ensure(n: Int): Unit = if (prev.length < n) {
      val size = math.max(n, prev.length * 2)
      prev = new Array[Int](size)
      curr = new Array[Int](size)
    }
  }

  private val rows = ThreadLocal.withInitial[Rows](() => new Rows)

  /** Exact Levenshtein distance (insert/delete/substitute all cost 1). */
  def levenshtein(s1: String, s2: String): Int =
    bounded(s1, s2, Int.MaxValue - 1)

  /**
   * Distance if it is <= `max`, else some value > `max` (early exit).
   * The band bound makes the fuzzy dictionary scan viable at scale: for
   * the d<=3 lookup we stop a row as soon as its minimum exceeds 3.
   */
  def bounded(s1: String, s2: String, max: Int): Int = {
    if (s1 == s2) return 0
    val swap = s1.length > s2.length
    val a = if (swap) s2 else s1
    val b = if (swap) s1 else s2
    val la = a.length
    val lb = b.length
    if (lb - la > max) return max + 1
    if (la == 0) return lb
    val r = rows.get()
    r.ensure(la + 1)
    var prev = r.prev
    var curr = r.curr
    var i = 0
    while (i <= la) { prev(i) = i; i += 1 }
    var j = 1
    while (j <= lb) {
      curr(0) = j
      var rowMin = j
      val cb = b.charAt(j - 1)
      i = 1
      while (i <= la) {
        val cost = if (a.charAt(i - 1) == cb) 0 else 1
        var v = math.min(prev(i) + 1, curr(i - 1) + 1)
        val sub = prev(i - 1) + cost
        if (sub < v) v = sub
        curr(i) = v
        if (v < rowMin) rowMin = v
        i += 1
      }
      if (rowMin > max) return max + 1
      val tmp = prev; prev = curr; curr = tmp
      j += 1
    }
    prev(la)
  }

  /** 64-bit character-class set of `s`: one bit per class of its chars.
    * `a`-`z` and `0`-`9` each own a bit (0-25 and 26-35), so a digit
    * never shares a class with a letter; every other char folds onto
    * bits 36-63 by `c % 28`. Any char -> bit map keeps
    * [[maskLowerBound]] a valid bound; fewer collisions make it tighter. */
  def charMask(s: String): Long = {
    var m = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val bit =
        if (c >= 'a' && c <= 'z') c - 'a'
        else if (c >= '0' && c <= '9') c - '0' + 26
        else 36 + c % 28
      m |= 1L << bit
      i += 1
    }
    m
  }

  /**
   * Lower bound on the Levenshtein distance of two strings with
   * character-class sets `m1` and `m2` (see [[charMask]]). Each class
   * one string has and the other lacks marks at least one char that
   * every alignment must substitute, insert or delete, with a separate
   * edit per char; one substitution can serve one such class on each
   * side, so the larger one-sided count bounds the distance.
   */
  def maskLowerBound(m1: Long, m2: Long): Int =
    math.max(java.lang.Long.bitCount(m1 & ~m2), java.lang.Long.bitCount(m2 & ~m1))
}
