package graft.wordscore

import org.scalatest.funsuite.AnyFunSuite

/**
 * Scoring-arithmetic pins for the reference's `PlainTextAnalyser`
 * semantics (`/root/reference/.../PlainTextAnalyser.scala:12-39`):
 * value = sum(score)/#nonzero per token set; text score = mean of raw
 * and stemmed evaluations when both defined.
 */
class WordScoreSpec extends AnyFunSuite {

  test("single positive word scores 1") {
    // "nice": raw value 1 (stem "nice"->"nice"), stemmed pass identical
    assert(WordScore.computeSentiment("nice") === 1.0)
  }

  test("single negative word scores -1") {
    assert(WordScore.computeSentiment("bad") === -1.0)
  }

  test("balanced text averages toward 0") {
    val v = WordScore.computeSentiment("nice bad")
    assert(math.abs(v) < 0.5, s"got $v")
  }

  test("score is always within [-1, 1]") {
    for (t <- Seq("great awesome lovely", "horrible awful terrible",
      "the of and a", "spark scala data engine"))
      assert(math.abs(WordScore.computeSentiment(t)) <= 1.0, s"text: $t")
  }

  test("null and empty are safe") {
    assert(WordScore.computeSentiment(null) === 0.0)
    val v = WordScore.computeSentiment("")
    assert(v >= -1.0 && v <= 1.0)
  }

  test("deterministic across calls") {
    val t = "happy happy joy joy badly done"
    assert(WordScore.computeSentiment(t) === WordScore.computeSentiment(t))
  }

  test("corpus parity: token memo == per-call oracle, bit for bit, before and after the memo overflows") {
    import WordScoreProps.bits
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val texts = Gen.listOfN(3000, WordScoreProps.tweet)
      .pureApply(Gen.Parameters.default, Seed(20160315L)) ++
      Seq("", " ", "  ", "noooo", "nice  bad", " happy", null)
    def mismatches: Seq[String] = texts.filter(t =>
      bits(WordScore.computeSentiment(t)) != bits(WordScoreOracle.computeSentiment(t)))
    def check(when: String): Unit = {
      val bad = mismatches
      if (bad.nonEmpty) fail(s"$when: ${bad.size} of ${texts.size} texts differ, " +
        s"e.g. ${bad.take(5).map(t => s"'$t'").mkString(", ")}")
    }
    check("cold memo")
    check("warm memo")
    // the corpus covers every scoring branch, not only exact hits
    assert(texts.count(t => WordScore.computeSentiment(t) != 0.0) > texts.size / 2)
    // overflow the 2^17-entry memo with distinct tokens of 31+ distinct
    // chars, too long for any fuzzy bucket even after the char dedup
    // (cheap misses): the corpus tokens are evicted
    val cap = 1 << 17
    val prefix = ('a' to 'z').mkString + "ABCDE"
    (0 until cap + cap / 4).grouped(100).foreach { g =>
      WordScore.computeSentiment(g.map(i => s"$prefix$i").mkString(" "))
    }
    assert(WordScore.tokenMemo.size <= cap)
    val corpusTokens = texts.filter(_ != null).flatMap(_.split(" ")).distinct
    assert(corpusTokens.count(t => WordScore.tokenMemo.get(t) == null) > corpusTokens.size / 2)
    check("after overflow")
  }
}
