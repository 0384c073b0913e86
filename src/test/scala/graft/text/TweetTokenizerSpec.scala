package graft.text

import org.scalatest.funsuite.AnyFunSuite

/**
 * Hand-written cases for the word boundary of [[TweetTokenizer]]'s
 * scanner. The scanner hand-codes `java.util.regex`'s `\b` as JDK 17
 * defines it (word chars are `_` and Unicode letters and digits); the
 * regex oracle follows whatever JDK runs the tests. JDK 19 and later
 * (JDK-8264160) make `\b` agree with the ASCII `\w`, so these cases pin
 * the rule the scanner implements and name a JDK change when it comes.
 */
class TweetTokenizerSpec extends AnyFunSuite {

  private val cases = Seq(
    // with a space before it the span is protected and kept whole
    "x www.foo.com/a,b" -> "x www.foo.com/a,b",
    "x Mr.Smith" -> "x Mr. Smith",
    // after a non-ASCII letter there is no boundary: no URL, no title
    "éwww.foo.com/a,b" -> "éwww .foo.com/a,b",
    "éMr.Smith" -> "éMr . Smith",
    // a combining mark takes its base letter's class
    "e\u0301www.foo.com/a,b" -> "e\u0301www .foo.com/a,b")

  test("the scanner's \\b: a non-ASCII letter before a URL or title is a word char") {
    assert(cases.map(c => c._1 -> TweetTokenizer.tokenizeToString(c._1)) === cases)
  }

  test("the test JDK's regex \\b is the JDK 17 rule the scanner hand-codes") {
    val b = java.util.regex.Pattern.compile("\\bw")
    val why = "java.util.regex no longer treats é as a word char at \\b (JDK 19+, " +
      "JDK-8264160): TweetTokenizer.boundary hand-codes the JDK 17 rule and no longer " +
      "matches the regex oracle on non-ASCII text"
    assert(!b.matcher("éw").find(), why)
    assert(b.matcher(".w").find())
    assert(cases.map(c => c._1 -> graft.ops.TextCleanOracle.TweetTokenizer.tokenizeToString(c._1))
      === cases, why)
  }
}
