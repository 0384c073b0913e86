package graft.nlp

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/**
 * Pluggable per-sentence sentiment backend — the reference's CoreNLP
 * surface re-expressed as a contract
 * (`/root/reference/src/main/scala-2.11/ch/uzh/sentiment/CoreNLPSentimentAnalyzer.scala:17-112`).
 *
 * CoreNLP's jars/models are unavailable offline (and its missing
 * dependency is a latent build bug in the reference, quirk Q14), so
 * parity here is the API + reduction semantics:
 *  - [[SentimentBackend.scoreSentence]] returns an RNN-style class 0-4
 *    per sentence;
 *  - U5 `computeSentiment`: class of the LONGEST sentence
 *    (`CoreNLPSentimentAnalyzer.scala:58-66`);
 *  - U6 `computeWeightedSentiment`: sentence-length-weighted mean,
 *    -1 when no sentences, truncated toInt
 *    (`CoreNLPSentimentAnalyzer.scala:77-98`);
 *  - U7 `textToLemmas`: lemmas with length > 2, lowercased, joined
 *    (`CoreNLPSentimentAnalyzer.scala:100-112`);
 *  - U9 `sentiment(col)`: the databricks-corenlp-style column function.
 *
 * The default backend scores with the word-score dictionary (rescaled
 * to 0-4) and stems as its "lemmatizer" — fully offline, deterministic.
 * Heavy-model backends follow the reference's lazy-transient wrapper
 * idiom: the model is built once per executor JVM on first use, never
 * serialized from the driver (objects here are exactly that).
 */
trait SentimentBackend extends Serializable {
  /** Sentence-split `text` (ssplit). */
  def sentences(text: String): Seq[String]

  /** Class 0 (very negative) .. 4 (very positive) for one sentence. */
  def scoreSentence(sentence: String): Int

  /** Lemma of a single token. */
  def lemma(token: String): String

  /** U5: class of the longest sentence. */
  final def computeSentiment(text: String): Int = {
    val scored = extractSentiments(text)
    if (scored.isEmpty) -1
    else scored.maxBy { case (sentence, _) => sentence.length }._2
  }

  /** Per-sentence (sentence, class) pairs. */
  final def extractSentiments(text: String): Seq[(String, Int)] =
    if (text == null) Seq.empty
    else sentences(text).map(s => (s, scoreSentence(s)))

  /** U6: sentence-length-weighted mean class; -1 when empty; toInt. */
  final def computeWeightedSentiment(text: String): Int = {
    val scored = extractSentiments(text)
    if (scored.isEmpty) -1
    else {
      val weighted = scored.map { case (s, c) => c.toDouble * s.length }.sum
      val sizes = scored.map(_._1.length).sum
      (weighted / sizes).toInt
    }
  }

  /** U7: lemmas with length > 2, lowercased, joined with spaces. */
  final def textToLemmas(text: String): String =
    if (text == null) ""
    else sentences(text)
      .flatMap(_.split("\\s+"))
      .map(lemma)
      .filter(_.length > 2)
      .map(_.toLowerCase)
      .mkString(" ")
}

/** Default offline backend: regex ssplit + word-score classes + Porter
  * stem lemmas. */
object WordScoreBackend extends SentimentBackend {

  private val SentenceSplit = java.util.regex.Pattern.compile("(?<=[.!?])\\s+")

  override def sentences(text: String): Seq[String] =
    if (text == null || text.trim.isEmpty) Seq.empty
    else SentenceSplit.split(text.trim).toSeq.filter(_.nonEmpty)

  /** Word-score in [-1,1] rescaled to the RNN's 0..4 classes. */
  override def scoreSentence(sentence: String): Int = {
    val s = graft.wordscore.WordScore.computeSentiment(sentence)
    math.max(0, math.min(4, math.round((s + 1.0) * 2.0).toInt))
  }

  override def lemma(token: String): String = graft.text.Stemmer.stem(token)
}

/** Column functions over a backend (U9 surface). */
object SentimentFunctions {

  def sentimentUdf(backend: SentimentBackend = WordScoreBackend): UserDefinedFunction =
    udf((text: String) => backend.computeSentiment(text))

  def weightedSentimentUdf(backend: SentimentBackend = WordScoreBackend): UserDefinedFunction =
    udf((text: String) => backend.computeWeightedSentiment(text))

  def lemmasUdf(backend: SentimentBackend = WordScoreBackend): UserDefinedFunction =
    udf((text: String) => backend.textToLemmas(text))

  /** databricks-corenlp-style `sentiment(col)` alias (U9). */
  def sentiment(text: Column): Column = sentimentUdf()(text)
}
