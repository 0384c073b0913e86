package graft.wordscore

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.text.Stemmer

/**
 * Word-score sentiment scoring — the reference's default method.
 *
 * Arithmetic is exactly the reference's `PlainTextAnalyser`
 * (`/root/reference/src/main/scala-2.11/ch/uzh/sentiment/PlainTextAnalyser.scala:12-39`):
 * per text, split on " "; a token set's value is
 * sum(value(w)) / #{w : value(w) != 0} when any token scores non-zero;
 * the text's score is the mean of the raw-token value and the
 * stemmed-token value when both are defined, else whichever is defined,
 * else 0.0.
 *
 * Unlike the reference (which calls `wl.value(w)` three times per token
 * per pass), a token's raw-pass and stemmed-pass values come from one
 * per-JVM token memo, a [[BoundedLruCache]] of 2^17 entries, so a
 * recurring token costs one lookup. On a miss the token is stemmed once,
 * and a second time (its stem's stem) only when its stem differs: when
 * the stem is the token itself both values are one
 * `WordList.evaluate(token)`, and otherwise `evaluate(stem)` serves both
 * passes. The lookups are pure, so the scores are bit-identical to the
 * per-call chain.
 *
 * Scale: one narrow map stage, no shuffle; the dictionary lives in each
 * executor JVM as a classpath-loaded singleton ([[WordList]]), so the
 * UDF closure serializes to nothing but the function itself.
 */
object WordScore {

  /** A token's value in the raw pass and in the stemmed pass. */
  private[wordscore] final class TokenValues(val raw: Double, val stemmed: Double)

  /** The token memo (per JVM): Zipf-distributed tokens make the hit rate
    * high; bounded LRU so the hot set survives overflow. */
  private[wordscore] val tokenMemo = new BoundedLruCache[String, TokenValues](1 << 17)

  /** `token`'s raw value `value(token)` and stemmed value
    * `value(stem(token))`, through the memo. */
  private def tokenValues(token: String): TokenValues = {
    val hit = tokenMemo.get(token)
    if (hit != null) return hit
    val stem = Stemmer.stem(token)
    val tv =
      if (stem == token) {
        val e = WordList.evaluate(token)
        new TokenValues(e, e)
      } else {
        val es = WordList.evaluate(stem)
        val stem2 = Stemmer.stem(stem)
        new TokenValues(WordList.maxAbs(WordList.evaluate(token), es),
          if (stem2 == stem) es else WordList.maxAbs(es, WordList.evaluate(stem2)))
      }
    tokenMemo.put(token, tv)
    tv
  }

  /** Reference `computeSentiment`: mean of raw and stemmed evaluations. */
  def computeSentiment(text: String): Double = {
    if (text == null) return 0.0
    val words = text.split(" ")
    var rawSum = 0.0
    var rawN = 0
    var stemSum = 0.0
    var stemN = 0
    var i = 0
    while (i < words.length) {
      val tv = tokenValues(words(i))
      rawSum += tv.raw
      if (tv.raw != 0.0) rawN += 1
      stemSum += tv.stemmed
      if (tv.stemmed != 0.0) stemN += 1
      i += 1
    }
    if (rawN != 0 && stemN != 0) (rawSum / rawN + stemSum / stemN) / 2
    else if (rawN != 0) rawSum / rawN
    else if (stemN != 0) stemSum / stemN
    else 0.0
  }

  /** The scoring UDF (reference `computeSentimentUDF`). */
  def computeSentimentUdf: UserDefinedFunction = udf(computeSentiment _)

  def scoreCol(text: Column): Column = computeSentimentUdf(text)

  /** Adds `outputCol` with the word-score sentiment of `textCol`. */
  def score(df: DataFrame, textCol: String, outputCol: String = "computed"): DataFrame =
    df.withColumn(outputCol, scoreCol(col(textCol)))

  /**
   * Deterministic exact-match-only variant, SQL-expressible for the
   * DuckDB oracle: score = sum(score(w)) / #{w: score(w) != 0} over
   * exact dictionary hits of the raw tokens (no dedup/fuzzy/stem
   * fallback). Shaped as explode -> broadcast hash join against the
   * dictionary -> per-id hash aggregate: at 100 TB this is the scan-
   * friendly formulation (the 11k-entry dictionary broadcasts in one
   * block; no fact-side shuffle besides the final per-id aggregate,
   * which combines map-side).
   */
  def exactScore(df: DataFrame, idCol: String, textCol: String,
                 outputCol: String = "score"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dict = WordList.scores.toSeq.toDF("word", "word_score")
    val s = coalesce(col("word_score"), lit(0.0))
    val nonZero = count(when(s =!= 0.0, lit(1)))
    df.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .join(broadcast(dict), Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(round(
        when(nonZero > 0, sum(s) / nonZero).otherwise(lit(0.0)), 4)
        .as(outputCol))
  }

  /** DuckDB SQL equivalent of [[exactScore]] over the `documents`
    * fixture: the dictionary is inlined as a VALUES CTE so the oracle
    * stays self-contained. */
  def exactScoreOracleSql: String = {
    val rows = WordList.scores.toSeq.sortBy(_._1)
      .map { case (w, v) => s"('${w.replace("'", "''")}',$v)" }
      .mkString(",")
    s"""WITH dict(word, word_score) AS (VALUES $rows),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |        FROM documents),
       |scored AS (SELECT t.doc_id, coalesce(d.word_score, 0.0) AS s
       |           FROM tok t LEFT JOIN dict d ON t.word = d.word)
       |SELECT doc_id,
       |  round(CASE WHEN count(*) FILTER (WHERE s <> 0) > 0
       |    THEN sum(s) / count(*) FILTER (WHERE s <> 0)
       |    ELSE 0.0 END, 4) AS score
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }
}
