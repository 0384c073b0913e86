package graft.text

/**
 * Tweet-aware tokenizer.
 *
 * Re-implements the tokenization behavior of TweetMotif (O'Connor,
 * Krieger, Ahn 2009-2010, Apache License 2.0), which the reference uses as
 * its first text-normalization stage
 * (`/root/reference/.../utils/TweetTokenizer.scala:83-122`): a set of
 * "protected" span patterns (emoticons, URLs, emails, HTML entities,
 * times, numbers, punctuation runs, abbreviations, hashtags, @mentions,
 * hearts/arrows) are kept as single tokens; the text between protected
 * spans is split on spaces after detaching edge punctuation from words.
 *
 * The reference states those rules as one 16-way `java.util.regex`
 * alternation (with lookarounds and lazy quantifiers) behind two
 * edge-punctuation rewrites and a whitespace squeeze. This is a
 * hand-written single-pass scanner with exactly the semantics of that
 * regex chain, match for match: at each position the 16 alternatives
 * are tried in the regex's order, each with the outcome Java's
 * backtracking matcher reaches (greedy/lazy runs, `\b` over Unicode
 * letters and digits, `$` before a final line terminator, code-point
 * classes). The regex form is the test-side oracle
 * (`graft.ops.TextCleanOracle`), pinned bit-for-bit by KernelProps.
 */
object TweetTokenizer {

  /** The tokens joined by single spaces, the `&lt;`, `&gt;` and `&amp;`
    * entities in them unescaped. */
  def tokenizeToString(text: String): String = {
    val out = new java.lang.StringBuilder(text.length + 8)
    tokenizeInto(text, out)
    out.toString
  }

  /** Appends [[tokenizeToString]]'s result to `out`. */
  private[text] def tokenizeInto(text: String, out: java.lang.StringBuilder): Unit = {
    val s = splitEdgePunctuation(squeezeWhitespace(text))
    val n = s.length
    var pos = 0
    var i = 0
    while (i < n) {
      val e = protectedAt(s, n, i)
      if (e > i) {
        emitGap(s, pos, i, out)
        if (out.length > 0) out.append(' ')
        appendUnescaped(s, i, e, out)
        pos = e
        i = e
      } else i += 1
    }
    emitGap(s, pos, n, out)
  }

  // --- character classes ----------------------------------------------

  /** Java regex `\s` (ASCII). */
  private[text] def isSpace(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'
  private def isLetter(c: Int): Boolean = (c | 0x20) >= 'a' && (c | 0x20) <= 'z'
  private def isDigit(c: Int): Boolean = c >= '0' && c <= '9'
  private def isAlnum(c: Int): Boolean = isLetter(c) || isDigit(c)
  /** Java regex `\w` (ASCII). */
  private[text] def isWord(c: Int): Boolean = isAlnum(c) || c == '_'
  private def isEdgePunct(c: Char): Boolean = "'\"“”‘’«»{}()[]*".indexOf(c) >= 0
  private def isPunct(c: Char): Boolean = "'“\".?!,:;".indexOf(c) >= 0

  /** Java regex `$` without MULTILINE: the end, or before a final line
    * terminator (the squeeze leaves no `\n`/`\r`, only U+0085/2028/2029). */
  private def isEnd(s: Array[Char], n: Int, p: Int): Boolean =
    p == n || (p == n - 1 && (s(p) == '\u0085' || s(p) == '\u2028' || s(p) == '\u2029'))

  private def at(s: Array[Char], n: Int, p: Int, lit: String): Boolean =
    p + lit.length <= n && { var k = 0; while (k < lit.length && s(p + k) == lit.charAt(k)) k += 1; k == lit.length }

  private def cpAt(s: Array[Char], n: Int, p: Int): Int = Character.codePointAt(s, p, n)

  /** End of the run of chars satisfying `f` from `p`. */
  private def runOf(s: Array[Char], n: Int, p: Int)(f: Char => Boolean): Int = {
    var q = p
    while (q < n && f(s(q))) q += 1
    q
  }

  // --- whitespace squeeze and edge punctuation ------------------------

  /** `\s+` -> " ", then `String.trim`. */
  private def squeezeWhitespace(text: String): Array[Char] = {
    val b = new Array[Char](text.length)
    var n = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (!isSpace(c)) { b(n) = c; n += 1 }
      else if (i == 0 || !isSpace(text.charAt(i - 1))) { b(n) = ' '; n += 1 }
      i += 1
    }
    var st = 0
    while (st < n && b(st) <= ' ') st += 1
    while (n > st && b(n - 1) <= ' ') n -= 1
    java.util.Arrays.copyOfRange(b, st, n)
  }

  /** `(^|$|:|;|\s)(EDGE+)([a-zA-Z0-9])` -> "$1$2 $3", then
    * `([a-zA-Z0-9])(EDGE+)(^|$|:|;|\s)` -> "$1 $2$3". */
  private def splitEdgePunctuation(s: Array[Char]): Array[Char] =
    edgeRight(edgeLeft(s))

  private def edgeLeft(s: Array[Char]): Array[Char] = {
    val n = s.length
    val out = new java.lang.StringBuilder(n + 8)
    var last = 0
    var p = 0
    while (p < n) {
      // group 1: `^` (zero-width) first, else one of `:`, `;`, `\s`
      def punctThenAlnum(e1: Int): Int = {
        val e2 = runOf(s, n, e1)(isEdgePunct)
        if (e2 > e1 && e2 < n && isAlnum(s(e2))) e2 else -1
      }
      var e2 = if (p == 0) punctThenAlnum(0) else -1
      if (e2 < 0 && (s(p) == ':' || s(p) == ';' || isSpace(s(p)))) e2 = punctThenAlnum(p + 1)
      if (e2 >= 0) {
        out.append(s, last, e2 - last).append(' ').append(s(e2))
        last = e2 + 1
        p = e2 + 1
      } else p += 1
    }
    out.append(s, last, n - last)
    toChars(out)
  }

  private def edgeRight(s: Array[Char]): Array[Char] = {
    val n = s.length
    val out = new java.lang.StringBuilder(n + 8)
    var last = 0
    var p = 0
    while (p < n) {
      var end = -1
      if (isAlnum(s(p))) {
        val e2 = runOf(s, n, p + 1)(isEdgePunct)
        if (e2 > p + 1) {
          if (isEnd(s, n, e2)) end = e2
          else if (s(e2) == ':' || s(e2) == ';' || isSpace(s(e2))) end = e2 + 1
        }
      }
      if (end >= 0) {
        out.append(s, last, p + 1 - last).append(' ').append(s, p + 1, end - p - 1)
        last = end
        p = end
      } else p += 1
    }
    out.append(s, last, n - last)
    toChars(out)
  }

  private def toChars(sb: java.lang.StringBuilder): Array[Char] = {
    val a = new Array[Char](sb.length)
    sb.getChars(0, sb.length, a, 0)
    a
  }

  // --- gaps and tokens ------------------------------------------------

  /** The gap `s[a, b)`, trimmed (`String.trim`), split on single spaces,
    * empty pieces dropped. */
  private def emitGap(s: Array[Char], a: Int, b: Int, out: java.lang.StringBuilder): Unit = {
    var st = a
    var en = b
    while (st < en && s(st) <= ' ') st += 1
    while (en > st && s(en - 1) <= ' ') en -= 1
    var p = st
    while (p < en) {
      val q = { var k = p; while (k < en && s(k) != ' ') k += 1; k }
      if (q > p) {
        if (out.length > 0) out.append(' ')
        appendUnescaped(s, p, q, out)
      }
      p = q + 1
    }
  }

  /** `s[a, b)` with `&lt;`, `&gt;` and `&amp;` unescaped: the three
    * replacements never overlap, so one left-to-right pass equals the
    * reference's sequential `replace`s. */
  private def appendUnescaped(s: Array[Char], a: Int, b: Int, out: java.lang.StringBuilder): Unit = {
    var p = a
    while (p < b) {
      val c = s(p)
      if (c == '&' && p + 4 <= b && s(p + 2) == 't' && s(p + 3) == ';' &&
          (s(p + 1) == 'l' || s(p + 1) == 'g')) {
        out.append(if (s(p + 1) == 'l') '<' else '>'); p += 4
      } else if (c == '&' && p + 5 <= b && at(s, b, p, "&amp;")) {
        out.append('&'); p += 5
      } else { out.append(c); p += 1 }
    }
  }

  // --- the protected-span alternation ---------------------------------

  /** End of the protected span starting at `i`, or -1: the first of the
    * 16 alternatives (in the reference regex's order) that matches. */
  private def protectedAt(s: Array[Char], n: Int, i: Int): Int = {
    var e = hearts(s, n, i)
    if (e < 0) e = arrows(s, n, i)
    if (e < 0) e = emoticon(s, n, i)
    if (e < 0) e = url(s, n, i)
    if (e < 0) e = email(s, n, i)
    if (e < 0) e = entity(s, n, i)
    if (e < 0) e = digitsSepDigits(s, n, i, ':')
    if (e < 0) e = digitsSepDigits(s, n, i, '.')
    if (e < 0) e = numComma(s, n, i)
    if (e < 0) { val r = runOf(s, n, i)(isPunct); if (r > i) e = r }
    if (e < 0) e = abbrev(s, n, i)
    if (e < 0) e = separator(s, n, i)
    if (e < 0) { val r = runOf(s, n, i)(_ == '♫'); if (r > i) e = r }
    if (e < 0) e = embeddedApostrophe(s, n, i)
    if (e < 0 && (s(i) == '#' || s(i) == '@')) {
      val r = runOf(s, n, i + 1)(c => isWord(c))
      if (r > i + 1) e = r
    }
    e
  }

  /** Length of `<` / `&lt;` (`left`) or `>` / `&gt;` at `p`, else 0. */
  private def angle(s: Array[Char], n: Int, p: Int, left: Boolean): Int =
    if (p >= n) 0
    else if (s(p) == (if (left) '<' else '>')) 1
    else if (at(s, n, p, if (left) "&lt;" else "&gt;")) 4
    else 0

  private def angles(s: Array[Char], n: Int, p: Int, left: Boolean): Int = {
    var q = p
    var l = angle(s, n, q, left)
    while (l > 0) { q += l; l = angle(s, n, q, left) }
    q
  }

  /** `(<|&lt;)+/?3+` */
  private def hearts(s: Array[Char], n: Int, i: Int): Int = {
    val a = angles(s, n, i, left = true)
    if (a == i) -1
    else {
      val t = if (a < n && s(a) == '/') a + 1 else a
      val r = runOf(s, n, t)(_ == '3')
      if (r > t) r else -1
    }
  }

  /** `(<|&lt;)*[-=]*(>|&gt;)+|(<|&lt;)+[-=]*(>|&gt;)*` */
  private def arrows(s: Array[Char], n: Int, i: Int): Int = {
    val a = angles(s, n, i, left = true)
    val b = runOf(s, n, a)(c => c == '-' || c == '=')
    val c = angles(s, n, b, left = false)
    if (c > b) c else if (a > i) b else -1
  }

  private def isEye(c: Char): Boolean = c == ':' || c == '=' || c == ';'

  /** The `alt`-th (0-4) nose alternative of `(|o|O|-|[^a-zA-Z0-9 ])` at
    * `p`: the position after it, or -1 where it does not match. */
  private def nose(s: Array[Char], n: Int, p: Int, alt: Int): Int =
    if (alt == 0) p
    else if (p >= n) -1
    else alt match {
      case 1 => if (s(p) == 'o') p + 1 else -1
      case 2 => if (s(p) == 'O') p + 1 else -1
      case 3 => if (s(p) == '-') p + 1 else -1
      case _ =>
        val cp = cpAt(s, n, p)
        if (isAlnum(cp) || cp == ' ') -1 else p + Character.charCount(cp)
    }

  private def isMouthOther(c: Char): Boolean = c == 'd' || c == 'o' || c == 'O' || c == '/' || c == '\\'
  private def isMouthSad(c: Char): Boolean = c == '(' || c == '['
  private def isMouthHappy(c: Char): Boolean = c == 'D' || c == ')' || c == ']'

  /** `[pP]` | `[doO/\\]+` | `[\(\[]+` | `[D\)\]]+` at `k`: the end, or -1. */
  private def mouth(s: Array[Char], n: Int, k: Int): Int =
    if (k >= n) -1
    else {
      val c = s(k)
      if (c == 'p' || c == 'P') k + 1
      else if (isMouthOther(c)) runOf(s, n, k)(isMouthOther)
      else if (isMouthSad(c)) runOf(s, n, k)(isMouthSad)
      else if (isMouthHappy(c)) runOf(s, n, k)(isMouthHappy)
      else -1
    }

  /** Eyes-nose-mouth, or mouth-nose-eyes after a space or the start. */
  private def emoticon(s: Array[Char], n: Int, i: Int): Int = {
    var e = -1
    if (isEye(s(i))) {
      var alt = 0
      while (e < 0 && alt < 5) {
        val k = nose(s, n, i + 1, alt)
        if (k >= 0) e = mouth(s, n, k)
        alt += 1
      }
    }
    if (e < 0 && (i == 0 || s(i - 1) == ' ')) {
      // `(?<=( |^))` then the greedy mouth run, backing off one by one
      val c = s(i)
      val cls: Char => Boolean =
        if (isMouthSad(c)) isMouthSad else if (isMouthHappy(c)) isMouthHappy
        else if (isMouthOther(c)) isMouthOther else null
      var m = if (cls == null) i else runOf(s, n, i)(cls)
      while (e < 0 && m > i) {
        var alt = 0
        while (e < 0 && alt < 5) {
          val k = nose(s, n, m, alt)
          if (k >= 0 && k < n && isEye(s(k))) e = k + 1
          alt += 1
        }
        m -= 1
      }
    }
    e
  }

  /** Java's `\b` as JDK 17 defines it: word chars are `_` and Unicode
    * letters/digits; a non-spacing mark counts as its base character's
    * class. JDK 19 and later (JDK-8264160) make the regex `\b` ASCII
    * like `\w`, which would part this scanner from the regex oracle on
    * non-ASCII text (`éwww.foo.com`); TweetTokenizerSpec pins both the
    * rule and the test JDK's agreement with it. */
  private def boundary(s: Array[Char], n: Int, i: Int): Boolean = {
    def wordy(cp: Int, at: Int): Boolean =
      cp == '_' || Character.isLetterOrDigit(cp) ||
        (Character.getType(cp) == Character.NON_SPACING_MARK && hasBase(at))
    def hasBase(at: Int): Boolean = {
      var x = at
      while (x >= 0) {
        val cp = Character.codePointAt(s, x, n)
        if (Character.isLetterOrDigit(cp)) return true
        if (Character.getType(cp) != Character.NON_SPACING_MARK) return false
        x -= 1
      }
      false
    }
    val left = i > 0 && wordy(Character.codePointBefore(s, i), i - 1)
    val right = i < n && wordy(cpAt(s, n, i), i)
    left != right
  }

  private val Tlds = Array("com", "co.uk", "org", "net", "info", "ca", "ly", "mp", "edu", "gov")

  private def isHostChar(c: Char): Boolean = isAlnum(c) || c == '.' || c == '-'

  /** `\b(https?://|www\.|[A-Za-z0-9.-]+?\.TLD(?=[/ \W]))` then the
    * shortest body `[^ \t\r\n<>]*?` after which the trailing-punctuation
    * lookahead holds. The body never fails: the lookahead holds at the
    * first char the body cannot take. */
  private def url(s: Array[Char], n: Int, i: Int): Int = {
    if (!(isHostChar(s(i)) && boundary(s, n, i))) return -1
    var e =
      if (at(s, n, i, "http://")) i + 7
      else if (at(s, n, i, "https://")) i + 8
      else if (at(s, n, i, "www.")) i + 4
      else -1
    if (e < 0) {
      var j = i + 1
      while (e < 0 && j < n) {
        if (s(j) == '.') {
          var t = 0
          while (e < 0 && t < Tlds.length) {
            val q = j + 1 + Tlds(t).length
            if (at(s, n, j + 1, Tlds(t)) && q < n && !isWord(s(q))) e = q
            t += 1
          }
        }
        if (e < 0) { if (isHostChar(s(j))) j += 1 else return -1 }
      }
      if (e < 0) return -1
    }
    var p = e
    while (!urlEndsAt(s, n, p)) p += Character.charCount(cpAt(s, n, p))
    p
  }

  /** `(?=((['“".?!,:;]|&(amp|lt|gt|quot);)+?)?(\.\.+|[<>]|\s|$))` */
  private def urlEndsAt(s: Array[Char], n: Int, p: Int): Boolean = {
    var q = p
    while (true) {
      if (isEnd(s, n, q) || at(s, n, q, "..") || s(q) == '<' || s(q) == '>' || isSpace(s(q)))
        return true
      val x = if (isPunct(s(q))) 1 else entityLength(s, n, q)
      if (x == 0) return false
      q += x
    }
    false
  }

  private def entityLength(s: Array[Char], n: Int, p: Int): Int =
    if (p >= n || s(p) != '&') 0
    else if (at(s, n, p, "&amp;")) 5
    else if (at(s, n, p, "&lt;") || at(s, n, p, "&gt;")) 4
    else if (at(s, n, p, "&quot;")) 6
    else 0

  private def entity(s: Array[Char], n: Int, i: Int): Int = {
    val l = entityLength(s, n, i)
    if (l > 0) i + l else -1
  }

  private def isLocalChar(c: Char): Boolean =
    isAlnum(c) || c == '.' || c == '_' || c == '%' || c == '+' || c == '-'

  /** `(?<=(\W|^|$))[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,4}(?=(\W|^|$))`:
    * the greedy domain backs off to its rightmost dot whose 2-4 letters
    * end at a non-word char or the end. */
  private def email(s: Array[Char], n: Int, i: Int): Int = {
    if (i > 0 && isWord(s(i - 1))) return -1
    val a = runOf(s, n, i)(isLocalChar)
    if (a == i || a >= n || s(a) != '@') return -1
    val d0 = a + 1
    val r = runOf(s, n, d0)(isHostChar)
    var q = r - 1
    while (q > d0) {
      if (s(q) == '.') {
        val t = runOf(s, n, q + 1)(c => isLetter(c))
        val len = t - q - 1
        if (len >= 2 && len <= 4 && (t == n || !isWord(s(t)))) return t
      }
      q -= 1
    }
    -1
  }

  /** `\d+:\d+` and `\d+\.\d+` */
  private def digitsSepDigits(s: Array[Char], n: Int, i: Int, sep: Char): Int = {
    val a = runOf(s, n, i)(c => isDigit(c))
    if (a == i || a >= n || s(a) != sep) -1
    else { val b = runOf(s, n, a + 1)(c => isDigit(c)); if (b > a + 1) b else -1 }
  }

  /** `(\d+,)+?\d{3}(?=([^,]|$))` */
  private def numComma(s: Array[Char], n: Int, i: Int): Int = {
    var r = i
    while (true) {
      val d = runOf(s, n, r)(c => isDigit(c))
      if (d == r || d >= n || s(d) != ',') return -1
      r = d + 1
      if (r + 3 <= n && isDigit(s(r)) && isDigit(s(r + 1)) && isDigit(s(r + 2)) &&
          (r + 3 == n || s(r + 3) != ',')) return r + 3
    }
    -1
  }

  /** `($|\s|[“"?!,:;]|&(amp|lt|gt|quot);)` as a lookahead. */
  private def abbrevEndsAt(s: Array[Char], n: Int, p: Int): Boolean =
    isEnd(s, n, p) || (p < n && (isSpace(s(p)) || "“\"?!,:;".indexOf(s(p)) >= 0)) ||
      entityLength(s, n, p) > 0

  /** End of the greedy `([A-Za-z]\.)*` run from `p`, and its count. */
  private def letterDots(s: Array[Char], n: Int, p: Int): (Int, Int) = {
    var j = p
    var m = 0
    while (j + 1 < n && isLetter(s(j)) && s(j + 1) == '.') { j += 2; m += 1 }
    (j, m)
  }

  /** `[Mm]r|[Mm]rs|[Mm]s|[Dd]r|[Ss]r|[Jj]r|[Rr]ep|[Ss]en|[Ss]t`, in order. */
  private val Titles = Array("Mr", "Mrs", "Ms", "Dr", "Sr", "Jr", "Rep", "Sen", "St")
  private val TitleTails = Titles.map(_.substring(1))

  /** Dotted abbreviations (`u.s.`, `x a.b`) and `Mr.`-style titles. */
  private def abbrev(s: Array[Char], n: Int, i: Int): Int = {
    val (ja, ma) = letterDots(s, n, i)
    if (ma >= 2 && abbrevEndsAt(s, n, ja)) return ja
    val cp = cpAt(s, n, i)
    if (!isLetter(cp)) {
      val (jb, mb) = letterDots(s, n, i + Character.charCount(cp))
      if (mb >= 1 && jb < n && isLetter(s(jb)) && abbrevEndsAt(s, n, jb + 1)) return jb + 1
    } else if (boundary(s, n, i)) {
      var t = 0
      while (t < Titles.length) {
        val title = Titles(t)
        val e = i + title.length
        if ((s(i) | 0x20) == (title.charAt(0) | 0x20) && at(s, n, i + 1, TitleTails(t)) &&
            e < n && s(e) == '.') return e + 1
        t += 1
      }
    }
    -1
  }

  /** `--+|―` */
  private def separator(s: Array[Char], n: Int, i: Int): Int =
    if (s(i) == '―') i + 1
    else if (s(i) == '-' && i + 1 < n && s(i + 1) == '-') runOf(s, n, i)(_ == '-')
    else -1

  /** `[^\s\.,]+'[^\s\.,]+`: the run of non-separators from `i`, if an
    * apostrophe inside it has at least one char on each side. */
  private def embeddedApostrophe(s: Array[Char], n: Int, i: Int): Int = {
    var r = i
    var ok = true
    while (r < n && ok) {
      val c = s(r)
      if (isSpace(c) || c == '.' || c == ',') ok = false else r += Character.charCount(cpAt(s, n, r))
    }
    var a = r - 2
    while (a > i && s(a) != '\'') a -= 1
    if (a > i) r else -1
  }
}
