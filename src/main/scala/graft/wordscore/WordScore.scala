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
 * per pass), each token is scored once per pass. Its stem is computed
 * once and serves the raw pass; the stemmed pass's `value(stem)` stems
 * that stem again, so a token is stemmed twice (the reference: three
 * times). `WordList.value` is pure so the results are identical.
 *
 * Scale: one narrow map stage, no shuffle; the dictionary lives in each
 * executor JVM as a classpath-loaded singleton ([[WordList]]), so the
 * UDF closure serializes to nothing but the function itself.
 */
object WordScore {

  private def tokensValue(values: Array[Double]): Option[Double] = {
    var sum = 0.0
    var nonZero = 0
    var i = 0
    while (i < values.length) {
      val v = values(i)
      sum += v
      if (v != 0.0) nonZero += 1
      i += 1
    }
    if (nonZero != 0) Some(sum / nonZero) else None
  }

  /** Reference `computeSentiment`: mean of raw and stemmed evaluations. */
  def computeSentiment(text: String): Double = {
    if (text == null) return 0.0
    val words = text.split(" ")
    // each token's stem serves the raw pass and is the stemmed pass's
    // token
    val stems = words.map(Stemmer.stem)
    val raw = tokensValue(Array.tabulate(words.length)(i => WordList.value(words(i), stems(i))))
    val stem = tokensValue(stems.map(WordList.value))
    (raw, stem) match {
      case (Some(r), Some(s)) => (r + s) / 2
      case (Some(r), None)    => r
      case (None, Some(s))    => s
      case (None, None)       => 0.0
    }
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
