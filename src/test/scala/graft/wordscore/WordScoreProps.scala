package graft.wordscore

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Word-score parity: [[WordScore.computeSentiment]] (token memo, fuzzy
  * bound at the radius) against [[WordScoreOracle]] (per-call chain),
  * bit for bit on generated tweet-like text. */
object WordScoreProps extends Properties("wordscore") {

  def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private lazy val dictWords: IndexedSeq[String] =
    (WordList.positive ++ WordList.negative).toIndexedSeq
  private lazy val maxKeyLen: Int = WordList.scores.keysIterator.map(_.length).max

  private val editChar: Gen[Char] =
    Gen.frequency(8 -> Gen.alphaLowerChar, 1 -> Gen.numChar,
      1 -> Gen.oneOf('é', 'ü', '-', '\''))

  private val dictWord: Gen[String] = Gen.delay(Gen.oneOf(dictWords))

  private val inflected: Gen[String] = for {
    w <- dictWord
    suffix <- Gen.oneOf("s", "es", "ed", "ing", "ly", "ness", "er", "est", "ful")
  } yield w + suffix

  /** `w` after `k` random substitutions, insertions or deletions. */
  private def edited(w: String, k: Int): Gen[String] =
    if (k == 0) Gen.const(w)
    else for {
      c <- editChar
      i <- Gen.choose(0, math.max(0, w.length - 1))
      op <- Gen.choose(0, 2)
      rest <- edited(
        if (w.isEmpty) c.toString
        else op match {
          case 0 => w.updated(i, c)
          case 1 => w.patch(i, Seq(c), 0)
          case _ => w.patch(i, Nil, 1)
        }, k - 1)
    } yield rest

  private val misspelt: Gen[String] = for {
    w <- dictWord
    k <- Gen.choose(1, 4)
    m <- edited(w, k)
  } yield m

  /** "noooo": one char of a word repeated. */
  private val elongated: Gen[String] = for {
    w <- Gen.oneOf(dictWord, Gen.oneOf("no", "so", "yes", "lol", "omg"))
    i <- Gen.choose(0, w.length - 1)
    k <- Gen.choose(2, 7)
  } yield w.patch(i, w(i).toString * k, 1)

  /** Glued dictionary words past the longest key + 3: no length bucket
    * is within the fuzzy radius. */
  private val gluedTag: Gen[String] = for {
    ws <- Gen.listOfN(8, dictWord)
    digits <- Gen.option(Gen.choose(0, 99999))
  } yield {
    val glued = ws.scanLeft("")(_ + _).find(_.length > maxKeyLen + 3)
      .getOrElse(ws.mkString)
    glued + digits.fold("")(_.toString)
  }

  private val longToken: Gen[String] = for {
    n <- Gen.choose(65, 140)
    cs <- Gen.listOfN(n, Gen.frequency(9 -> Gen.alphaLowerChar,
      1 -> Gen.oneOf('é', '日', '\ud83d', '\ude00')))
  } yield cs.mkString

  private val nonAscii: Gen[String] = Gen.oneOf(
    Gen.oneOf("café", "naïve", "gööd", "löve",
      "日本語", "😀", "happy😀",
      "über", "héppy", "bäd", "абв"),
    dictWord.map(w => w + "é"),
    for (w <- dictWord; c <- Gen.oneOf('é', 'ü', 'ñ'))
      yield w.updated(0, c))

  private val casedOrOther: Gen[String] = Gen.oneOf(
    dictWord.map(_.toUpperCase),
    dictWord.map(_.capitalize),
    Gen.oneOf("the", "a", "of", "to", "rt", "@user", "http", "2day", "gr8", "n00b", "-"))

  val token: Gen[String] = Gen.frequency(
    6 -> dictWord, 3 -> inflected, 4 -> misspelt, 2 -> elongated,
    1 -> gluedTag, 1 -> longToken, 2 -> nonAscii, 3 -> casedOrOther)

  /** Tokens joined by one or two spaces, sometimes behind a leading
    * space: the double and leading spaces give empty pieces. */
  val tweet: Gen[String] = for {
    toks <- Gen.choose(0, 16).flatMap(Gen.listOfN(_, token))
    seps <- Gen.listOfN(toks.length, Gen.frequency(6 -> " ", 1 -> "  "))
    lead <- Gen.frequency(5 -> "", 1 -> " ", 1 -> "  ")
    trail <- Gen.frequency(5 -> "", 1 -> " ")
  } yield lead + toks.zip(seps).map { case (t, s) => t + s }.mkString.stripSuffix(" ") + trail

  property("computeSentiment == the per-call oracle, bit for bit") =
    forAll(tweet) { t =>
      val got = WordScore.computeSentiment(t)
      val want = WordScoreOracle.computeSentiment(t)
      Prop(bits(got) == bits(want)) :| s"'$t': $got != $want"
    }

  property("value == the per-call oracle, bit for bit") =
    forAll(token) { w =>
      Prop(bits(WordList.value(w)) == bits(WordScoreOracle.value(w))) :| s"value('$w')"
    }
}
