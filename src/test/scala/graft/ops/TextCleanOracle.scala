package graft.ops

import org.apache.spark.ml.feature.{StopWordsRemover, Tokenizer}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.{Emoji, Stemmer}

/** The regex / Scala-UDF / MLlib form of the tweet normalisation chain
  * (`graft_normalize`, [[graft.text.TextClean]]), as the reference
  * states it (`utils/Helper.scala:33-84`, `utils/TweetTokenizer.scala`):
  * the bit-exact parity oracle of the hand-written kernel. No
  * production path calls it. */
object TextCleanOracle {

  /** The reference's tweet tokenizer: one 16-way protected-span regex
    * behind two edge-punctuation rewrites and a whitespace squeeze. */
  object TweetTokenizer {
    import java.util.regex.Pattern

    private def or(parts: String*): String = parts.mkString("(", "|", ")")

    // --- protected span vocabulary -------------------------------------
    private val punctChars = """['“".?!,:;]"""
    private val punctSeq = punctChars + "+"
    private val entity = """&(amp|lt|gt|quot);"""

    private val urlStart1 = """(https?://|www\.)"""
    private val commonTlds = """(com|co\.uk|org|net|info|ca|ly|mp|edu|gov)"""
    private val urlStart2 = """[A-Za-z0-9\.-]+?\.""" + commonTlds + """(?=[/ \W])"""
    private val urlBody = """[^ \t\r\n<>]*?"""
    private val urlExtraBeforeEnd = "(" + punctChars + "|" + entity + ")+?"
    private val urlEnd = """(\.\.+|[<>]|\s|$)"""
    private val url =
      """\b(""" + urlStart1 + "|" + urlStart2 + ")" + urlBody +
        "(?=(" + urlExtraBeforeEnd + ")?" + urlEnd + ")"

    private val timeLike = """\d+:\d+"""
    private val numNum = """\d+\.\d+"""
    private val numComma = """(\d+,)+?\d{3}(?=([^,]|$))"""

    private val boundaryNotDot = """($|\s|[“"?!,:;]|""" + entity + ")"
    private val dottedAbbrevA = """([A-Za-z]\.){2,}(?=""" + boundaryNotDot + ")"
    private val dottedAbbrevB = """[^A-Za-z]([A-Za-z]\.){1,}[A-Za-z](?=""" + boundaryNotDot + ")"
    private val titleAbbrev = """\b([Mm]r|[Mm]rs|[Mm]s|[Dd]r|[Ss]r|[Jj]r|[Rr]ep|[Ss]en|[Ss]t)\."""
    private val abbrev = or(dottedAbbrevA, dottedAbbrevB, titleAbbrev)

    private val separators = "(--+|―)"
    private val decorations = "[♫]+"
    private val wordInternal = """[^\s\.,]"""
    private val embeddedApostrophe = wordInternal + "+'" + wordInternal + "+"

    private val eyes = "(?iu)[:=]"
    private val wink = "[;]"
    private val nose = "(|o|O|-|[^a-zA-Z0-9 ])"
    private val happyMouth = """[D\)\]]+"""
    private val sadMouth = """[\(\[]+"""
    private val tongue = "[pP]"
    private val otherMouth = """[doO/\\]+"""
    private val emoticon = or(
      or(eyes, wink) + nose + or(tongue, otherMouth, sadMouth, happyMouth),
      "(?<=( |^))" + or(sadMouth, happyMouth, otherMouth) + nose + or(eyes, wink))

    private def withEntities(pat: String): String =
      pat.replace("<", "(<|&lt;)").replace(">", "(>|&gt;)")
    private val hearts = withEntities("""(<+/?3+)""")
    private val arrows = withEntities("""(<*[-=]*>+|<+[-=]*>*)""")
    private val hashtag = "#[a-zA-Z0-9_]+"
    private val atMention = "@[a-zA-Z0-9_]+"
    private val bound = """(\W|^|$)"""
    private val email =
      "(?<=" + bound + """)[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,4}(?=""" + bound + ")"

    private val protectedPattern: Pattern = Pattern.compile(or(
      hearts, arrows, emoticon, url, email, entity, timeLike, numNum, numComma,
      punctSeq, abbrev, separators, decorations, embeddedApostrophe,
      hashtag, atMention))

    // --- edge punctuation ------------------------------------------------
    private val edgePunct = """['"“”‘’«»{}\(\)\[\]\*]"""
    private val notEdgePunct = "[a-zA-Z0-9]"
    private val offEdge = """(^|$|:|;|\s)"""
    private val edgeLeft = Pattern.compile(offEdge + "(" + edgePunct + "+)(" + notEdgePunct + ")")
    private val edgeRight = Pattern.compile("(" + notEdgePunct + ")(" + edgePunct + "+)" + offEdge)

    private val wsPattern = Pattern.compile("""\s+""")

    private def splitEdgePunctuation(s: String): String = {
      val a = edgeLeft.matcher(s).replaceAll("$1$2 $3")
      edgeRight.matcher(a).replaceAll("$1 $2$3")
    }

    private def squeezeWhitespace(s: String): String =
      wsPattern.matcher(s).replaceAll(" ").trim

    /** Tokenize: protected spans stay whole; the gaps split on single spaces;
      * empty tokens dropped. */
    def tokenize(text: String): List[String] = {
      val s = splitEdgePunctuation(squeezeWhitespace(text))
      val m = protectedPattern.matcher(s)
      val out = List.newBuilder[String]
      var pos = 0
      def emitGap(until: Int): Unit = {
        val gap = s.substring(pos, until).trim
        if (gap.nonEmpty) gap.split(" ").foreach(t => if (t.nonEmpty) out += t)
      }
      while (m.find()) {
        emitGap(m.start())
        val tok = s.substring(m.start(), m.end())
        if (tok.nonEmpty) out += tok
        pos = m.end()
      }
      emitGap(s.length)
      out.result()
    }

    /** Unescape the entities the tokenizer preserved as tokens. */
    def normalizeEntities(s: String): String =
      s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")

    def tokenizeToString(text: String): String =
      tokenize(text).map(normalizeEntities).mkString(" ")
  }

  private val PQuotes = java.util.regex.Pattern.compile("[\"']")
  private val PBreaks = java.util.regex.Pattern.compile("[\\n\\r\\t]")
  private val PRt = java.util.regex.Pattern.compile("rt\\s+")
  private val PMention = java.util.regex.Pattern.compile("@\\w+")
  private val PHash = java.util.regex.Pattern.compile("#")
  private val PUrl = java.util.regex.Pattern.compile("http\\S+")
  private val PSpaces = java.util.regex.Pattern.compile(" +")
  private val PWs = java.util.regex.Pattern.compile("\\s+")

  /** The reference regex chain (`utils/Helper.scala:77-84`). */
  def cleanString(text: String): String = {
    var x = text.toLowerCase
    x = PQuotes.matcher(x).replaceAll("")
    x = PBreaks.matcher(x).replaceAll("")
    x = PRt.matcher(x).replaceAll("")
    x = PMention.matcher(x).replaceAll("")
    x = PHash.matcher(x).replaceAll("")
    x = PUrl.matcher(x).replaceAll("")
    x = PSpaces.matcher(x).replaceAll(" ")
    PWs.matcher(x).replaceAll(" ")
  }

  /** [[cleanString]] as a Catalyst expression chain (lower/regexp_replace). */
  def cleanStringCol(c: Column): Column = {
    var x = lower(c)
    x = regexp_replace(x, "[\"']", "")
    x = regexp_replace(x, "[\\n\\r\\t]", "")
    x = regexp_replace(x, "rt\\s+", "")
    x = regexp_replace(x, "@\\w+", "")
    x = regexp_replace(x, "#", "")
    x = regexp_replace(x, "http\\S+", "")
    regexp_replace(regexp_replace(x, " +", " "), "\\s+", " ")
  }

  def stemString(text: String): String =
    text.split(" ").map(Stemmer.stem).mkString(" ")

  /** Tokenize, substitute emoji token-wise ([[graft.text.Emoji.toWords]]), clean. */
  def cleanText(emoji: Map[String, String])(text: String): String =
    cleanString(Emoji.toWords(emoji)(TweetTokenizer.tokenizeToString(text)))

  /** Porter stem on the RAW text first (reference order). */
  def cleanTextAndStem(emoji: Map[String, String])(text: String): String =
    cleanText(emoji)(stemString(text))

  /** The reference `Helper.cleanSource`: the composite Scala UDF, then
    * MLlib's `Tokenizer` and English `StopWordsRemover`, then
    * `concat_ws(" ")`. */
  def cleanSource(df: DataFrame, inputCol: String, outputCol: String,
                  stem: Boolean): DataFrame = {
    val cleanUdf =
      if (stem) udf((s: String) => cleanTextAndStem(Emoji.base)(s))
      else udf((s: String) => cleanText(Emoji.base)(s))
    val sfx = java.lang.Integer.toHexString(
      java.util.Arrays.hashCode(df.columns.asInstanceOf[Array[AnyRef]]))
    val cConv = s"__graft_conv_$sfx"
    val cTokRaw = s"__graft_tokraw_$sfx"
    val cTokClean = s"__graft_tokclean_$sfx"
    val cleaned = df.where(col(inputCol).isNotNull)
      .withColumn(cConv, cleanUdf(col(inputCol)))
    val tokenizer = new Tokenizer()
      .setInputCol(cConv).setOutputCol(cTokRaw)
    val remover = new StopWordsRemover()
      .setInputCol(cTokRaw).setCaseSensitive(false)
      .setOutputCol(cTokClean)
    remover.transform(tokenizer.transform(cleaned))
      .withColumn(outputCol, concat_ws(" ", col(cTokClean)))
      .drop(cTokRaw, cTokClean, cConv)
  }

  /** [[cleanSource]]'s per-row chain on one string, the MLlib stages
    * replayed as Spark 4 states them: `toLowerCase.split("\\s")`, then
    * the case-insensitive filter in `new Locale(default or en_US)`. */
  def normalize(text: String, stem: Boolean): String = {
    val conv = if (stem) cleanTextAndStem(Emoji.base)(text) else cleanText(Emoji.base)(text)
    val d = java.util.Locale.getDefault
    val lc = new java.util.Locale(
      (if (java.util.Locale.getAvailableLocales.contains(d)) d else java.util.Locale.US).toString)
    val stop = StopWordsRemover.loadDefaultStopWords("english").map(_.toLowerCase(lc)).toSet
    conv.toLowerCase.split("\\s").filter(t => !stop.contains(t.toLowerCase(lc))).mkString(" ")
  }
}
