package graft.text

import java.util.Locale

import org.apache.spark.ml.feature.StopWordsRemover
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/**
 * Text normalization dataflow. Reference semantics
 * (`/root/reference/.../utils/Helper.scala:33-65`):
 *
 *   null-filter -> [Porter stem, on the RAW text] -> tweet tokenize
 *   -> emoji->word -> cleanString -> whitespace Tokenizer
 *   -> StopWordsRemover -> concat_ws(" ")
 *
 * The whole per-row chain is one native expression,
 * `graft_normalize(text, stem)`
 * ([[graft.plans.NormalizeExpression]] calling [[normalize]] through
 * [[graft.ops.Kernels.normalizeUtf8]]): no Scala UDF, no MLlib
 * projections, no intermediate arrays. Every step is hand-written over
 * a char buffer with exactly the semantics of the reference's regex
 * and MLlib chain, which lives on as the bit-exact test oracle
 * (`graft.ops.TextCleanOracle`).
 */
object TextClean {

  /** Exact reference regex chain (`utils/Helper.scala:77-84`): lowercase;
    * drop `["']`; drop `[\n\r\t]`; drop `rt\s+`; drop `@\w+`; drop `#`;
    * drop `http\S+`; `" +"` and then `\s+` to one space. Each rule is
    * one in-place pass over the buffer that the previous rule left, so
    * rules that meet across a removal (`r't x`, `ht#tp://`) interact
    * as the sequential `replaceAll`s do. */
  def cleanString(text: String): String = {
    val b = text.toLowerCase.toCharArray
    var n = b.length
    n = keep(b, n) { (b, i, n) =>
      val c = b(i)
      if (c == '"' || c == '\'' || c == '\n' || c == '\r' || c == '\t') i + 1 else i
    }
    n = keep(b, n) { (b, i, n) =>
      if (b(i) == 'r' && i + 2 < n && b(i + 1) == 't' && TweetTokenizer.isSpace(b(i + 2))) {
        var j = i + 3
        while (j < n && TweetTokenizer.isSpace(b(j))) j += 1
        j
      } else i
    }
    n = keep(b, n) { (b, i, n) =>
      if (b(i) == '@' && i + 1 < n && TweetTokenizer.isWord(b(i + 1))) {
        var j = i + 2
        while (j < n && TweetTokenizer.isWord(b(j))) j += 1
        j
      } else i
    }
    n = keep(b, n)((b, i, _) => if (b(i) == '#') i + 1 else i)
    n = keep(b, n) { (b, i, n) =>
      if (b(i) == 'h' && i + 4 < n && b(i + 1) == 't' && b(i + 2) == 't' && b(i + 3) == 'p' &&
          !TweetTokenizer.isSpace(b(i + 4))) {
        var j = i + 5
        while (j < n && !TweetTokenizer.isSpace(b(j))) j += 1
        j
      } else i
    }
    var m = 0
    var i = 0
    while (i < n) {
      if (!TweetTokenizer.isSpace(b(i))) { b(m) = b(i); m += 1 }
      else if (i == 0 || !TweetTokenizer.isSpace(b(i - 1))) { b(m) = ' '; m += 1 }
      i += 1
    }
    new String(b, 0, m)
  }

  /** One `replaceAll(rule, "")` pass in place: `drop(b, i, n)` is the
    * end of the match at `i` (or `i` for none); unmatched chars are
    * kept and matching resumes after each match. Returns the new length. */
  private def keep(b: Array[Char], n: Int)(drop: (Array[Char], Int, Int) => Int): Int = {
    var m = 0
    var i = 0
    while (i < n) {
      val j = drop(b, i, n)
      if (j > i) i = j
      else { b(m) = b(i); m += 1; i += 1 }
    }
    m
  }

  /** Porter stem of each space-separated token (`String.split(" ")`:
    * empty pieces between spaces are kept, trailing ones dropped). */
  def stemString(text: String): String = {
    val out = new java.lang.StringBuilder(text.length)
    pieces(text, ' ') { (a, b) =>
      if (a > 0) out.append(' ')
      out.append(Stemmer.stem(text.substring(a, b)))
    }
    out.toString
  }

  /** Calls `f(start, end)` for each piece of `text.split(sep)`, `sep`
    * one non-metachar: empty pieces kept but trailing ones dropped, so
    * an all-`sep` text has none and the empty text has one. */
  private def pieces(text: String, sep: Char)(f: (Int, Int) => Any): Unit = {
    var n = text.length
    while (n > 0 && text.charAt(n - 1) == sep) n -= 1
    if (n > 0 || text.isEmpty) {
      var p = 0
      while (p <= n) {
        var q = p
        while (q < n && text.charAt(q) != sep) q += 1
        f(p, q)
        p = q + 1
      }
    }
  }

  /** Full per-row clean: tweet tokenize -> emoji substitution -> clean.
    * The table's lookup is built once, here: apply the returned function
    * to every row (it is serializable, so a UDF closure can carry it). */
  def cleanText(emoji: Map[String, String]): String => String =
    new Chain(stem = false, new EmojiLookup(emoji))

  /** Stemming variant. NB reference order: the Porter stemmer runs on the
    * RAW text (including URLs/@mentions) BEFORE cleaning
    * (`utils/Helper.scala:34,100-102`). */
  def cleanTextAndStem(emoji: Map[String, String]): String => String =
    new Chain(stem = true, new EmojiLookup(emoji))

  private final class Chain(stem: Boolean, emoji: EmojiLookup)
      extends (String => String) with Serializable {
    def apply(text: String): String = cleanChain(text, stem, emoji)
  }

  private def cleanChain(text: String, stem: Boolean, emoji: EmojiLookup): String = {
    val raw = if (stem) stemString(text) else text
    val tokens = new java.lang.StringBuilder(raw.length + 8)
    TweetTokenizer.tokenizeInto(raw, tokens)
    cleanString(emoji.substitute(tokens.toString))
  }

  /** The per-row chain of [[cleanSource]] on one value: the cleaned
    * text, lowercased and split on single `\s` chars (MLlib `Tokenizer`:
    * empty pieces kept, trailing ones dropped), English stop words
    * removed case-insensitively (`StopWordsRemover`'s default locale),
    * joined by single spaces. Emoticons map through [[Emoji.base]]. */
  def normalize(text: String, stem: Boolean): String = {
    val cleaned = cleanChain(text, stem, EmojiLookup.Base).toLowerCase
    val out = new java.lang.StringBuilder(cleaned.length)
    var any = false
    var p = 0
    val n = { var e = cleaned.length; while (e > 0 && TweetTokenizer.isSpace(cleaned.charAt(e - 1))) e -= 1; e }
    while (p < n) {
      var q = p
      while (q < n && !TweetTokenizer.isSpace(cleaned.charAt(q))) q += 1
      if (!isStopWord(cleaned, p, q)) {
        if (any) out.append(' ')
        out.append(cleaned, p, q)
        any = true
      }
      p = q + 1
    }
    out.toString
  }

  /** The default English stop-word list of [[cleanSource]]'s filter. */
  def stopWords: Array[String] = StopWordsRemover.loadDefaultStopWords("english")

  private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopWords.foreach(w => s.add(w.toLowerCase(Locale.ROOT)))
    s
  }
  private lazy val stopMaxLen: Int = stopWords.map(_.length).max

  /** `StopWordsRemover`'s case-insensitive test: the token lowercased in
    * `new Locale(locale)`, where `locale` is the JVM default if it is an
    * available locale, else en_US. An all-ASCII token that the Tokenizer
    * already lowercased is its own lowercase in every locale. */
  private def isStopWord(s: String, a: Int, b: Int): Boolean = {
    var ascii = true
    var i = a
    while (i < b && ascii) { ascii = s.charAt(i) < 0x80; i += 1 }
    if (ascii) b - a <= stopMaxLen && stopSet.contains(s.substring(a, b))
    else stopSet.contains(s.substring(a, b).toLowerCase(removerLocale()))
  }

  @volatile private var localeCache: (Locale, Locale) = (null, null)

  private def removerLocale(): Locale = {
    val d = Locale.getDefault
    val c = localeCache
    if (c._1 eq d) c._2
    else {
      val use = if (Locale.getAvailableLocales.contains(d)) d else Locale.US
      val l = new Locale(use.toString)
      localeCache = (d, l)
      l
    }
  }

  /** An emoji table with a first-char/length pre-filter, so that only
    * pieces that could be a key pay for a substring and a lookup. */
  private[text] final class EmojiLookup(table: Map[String, String]) extends Serializable {
    EmojiLookup.builds.incrementAndGet()
    private val firsts: java.util.BitSet = {
      val b = new java.util.BitSet()
      table.keys.foreach(k => if (k.nonEmpty) b.set(k.charAt(0)))
      b
    }
    private val maxLen = if (table.isEmpty) 0 else table.keys.map(_.length).max
    private val hasEmpty = table.contains("")

    /** `text.split(" ").map(w => table.getOrElse(w, w)).mkString(" ")` */
    def substitute(text: String): String = {
      val out = new java.lang.StringBuilder(text.length + 16)
      pieces(text, ' ') { (a, b) =>
        if (a > 0) out.append(' ')
        val hit =
          if (a == b) hasEmpty
          else b - a <= maxLen && firsts.get(text.charAt(a))
        if (!hit) out.append(text, a, b)
        else {
          val w = text.substring(a, b)
          out.append(table.getOrElse(w, w))
        }
      }
      out.toString
    }
  }

  private[text] object EmojiLookup {
    /** Lookups built in this JVM: a per-row rebuild shows up here. */
    val builds = new java.util.concurrent.atomic.AtomicLong
    lazy val Base = new EmojiLookup(Emoji.base)
  }

  /**
   * Reference `Helper.cleanSource`: adds `outputCol` with the normalized,
   * stop-word-free text of the non-null rows of `inputCol`, in one
   * `graft_normalize` projection. Emoticons map through the built-in
   * [[Emoji.base]] table, a per-JVM constant, so nothing ships with the
   * plan.
   */
  def cleanSource(df: DataFrame, inputCol: String, outputCol: String,
                  stem: Boolean): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    df.where(col(inputCol).isNotNull)
      .withColumn(outputCol, ColumnBridge.column(graft.plans.NormalizeExpression(
        ColumnBridge.expression(col(inputCol).cast("string")), stem)))
  }
}
