package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data pipelines: token counting,
 * quality scoring, language identification (n-gram/stopword heuristic),
 * and distribution-level diversity stats. Extension surface beyond the
 * reference (which only normalizes+scores text). Document
 * fingerprinting lives in [[graft.ops.Fingerprint]] (winnowing) and
 * [[fingerprint]] (whole-doc hash).
 *
 * Nearly everything here is pure Catalyst expressions — whole-stage-
 * codegen friendly, no shuffle, pushdown preserved upstream.
 */
object TextStats {

  /** Whitespace token count (empty tokens from leading/repeated
    * whitespace excluded — consistent with every other ratio here). */
  def tokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => t =!= ""))

  /** Count of U+FFFD replacement characters — the scar a lossy
    * decode leaves behind; any occurrence means the upstream bytes
    * were not valid in the claimed encoding. Pure codegen
    * (length-difference form, no UDF). */
  def replacementCharCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "\uFFFD", ""))

  /** Count of C0 control characters excluding tab/newline/carriage
    * return — mojibake, binary bleed-through, or terminal escapes;
    * prose never contains them. Same codegen length-difference form. */
  def controlCharCount(text: Column): Column =
    length(text) -
      length(regexp_replace(text, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""))

  /** Per-script character count (Unicode script property, e.g.
    * "Cyrillic", "Han", "Latin") — the script-mix signal multilingual
    * curation filters on (a "en"-tagged doc that is 40% Han is a
    * mislabel; a Latin doc with scattered Cyrillic is usually
    * mojibake or spam). Java regex `\p{IsScript}` here; the RE2/
    * DuckDB replay spells it `\p{Script}` — same property. Codegen
    * length-difference form, no UDF. */
  def scriptCharCount(text: Column, script: String): Column =
    length(text) - length(regexp_replace(text, s"\\p{Is$script}", ""))

  /** Unicode NFC normalization — canonical composition (e + combining
    * acute → é), the text-canonicalization step that must run BEFORE
    * hashing/dedup: two byte-different encodings of the same visible
    * string otherwise hash apart. JDK Normalizer implements the same
    * Unicode NFC as DuckDB's utf8proc `nfc_normalize`, so the oracle
    * replays it directly. Per-row kernel (no Catalyst normalizer
    * exists); map-only. */
  val nfcNormalize: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))

  /** BPE-ish subword count: word-pieces + digits + punctuation runs —
    * a deterministic proxy for tokenizer-cost estimation. */
  def subwordCount(text: Column): Column =
    size(filter(
      split(text, "(?<=[\\p{L}\\p{N}])(?=[^\\p{L}\\p{N}])|(?<=[^\\p{L}\\p{N}])(?=[\\p{L}\\p{N}])|\\s+"),
      t => t =!= ""))

  /** Ratio of punctuation chars to all chars (0 for empty). */
  def punctRatio(text: Column): Column = {
    val total = length(text)
    val punct = total - length(regexp_replace(text, "\\p{Punct}", ""))
    when(total > 0, punct.cast("double") / total.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Ratio of uppercase letters to letters. */
  def upperRatio(text: Column): Column = {
    val letters = length(regexp_replace(text, "[^\\p{L}]", ""))
    val uppers = length(regexp_replace(text, "[^\\p{Lu}]", ""))
    when(letters > 0, uppers.cast("double") / letters.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Mean token length (0 for empty). */
  def meanTokenLength(text: Column): Column = {
    val tokens = filter(split(text, "\\s+"), t => t =!= "")
    val totalLen = aggregate(tokens, lit(0),
      (acc, t) => acc + length(t)).cast("double")
    when(size(tokens) > 0, totalLen / size(tokens).cast("double"))
      .otherwise(lit(0.0))
  }

  /** English stop-token ratio over whitespace tokens (quality signal:
    * natural prose has ~0.3-0.5, keyword-stuffed or non-English text
    * scores low). The list is fixed so results are reproducible. */
  val EnglishStopTokens: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "it", "that", "this", "for", "on", "with", "as", "at", "by", "be")

  def stopwordRatio(text: Column, stop: Seq[String] = EnglishStopTokens): Column = {
    val tokens = filter(split(lower(text), "\\s+"), t => t =!= "")
    val stopArr = array(stop.map(lit): _*)
    val hits = size(filter(tokens, t => array_contains(stopArr, t)))
    when(size(tokens) > 0, hits.cast("double") / size(tokens).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Composite quality score in [0,1]: length sweet-spot, moderate
    * punctuation, presence of stopwords, sane mean token length.
    * Deterministic, documented weights — a heuristic gate, not a model.
    *
    * Evaluates through the codegen `graft_quality` kernel
    * ([[Kernels.qualityUtf8]]): ONE pass over the string plus one over
    * its lowercase form, where the column chain (the tests'
    * `KernelOracles` form: [[tokenCount]], [[punctRatio]],
    * [[stopwordRatio]] and [[meanTokenLength]] blended, the shape every
    * DuckDB oracle replays) ran three interpreted regex splits with
    * array HOFs plus a regex replace per row. Bit parity incl. Spark's
    * exact double-round semantics is pinned by OpsSpec on the fixture
    * corpus and edge strings.
    *
    * NULL text scores 0.6 — the legacy chain's (accidental but now
    * CONTRACTUAL) value: its null token count vanished inside
    * `least(null, 1.0)`, leaving lengthTerm=1, punctTerm=1, stopTerm=0,
    * mtlTerm=0.5. Preserved exactly so null-bearing corpora score the
    * same through both forms; row-gates upstream (TextClean P1) drop
    * nulls before quality anyway. */
  def qualityScore(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    coalesce(ColumnBridge.column(graft.plans.QualityExpression(
      ColumnBridge.expression(text))), lit(0.6))
  }

  /** Tiny per-language stop-token profiles for the language-ID
    * heuristic. Deliberately small + fixed (reproducibility beats
    * accuracy here; swap in fastText offline for production quality). */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "in", "den", "von", "zu", "das",
      "mit", "sich", "des", "auf", "ist", "nicht", "ein"),
    "en" -> Seq("the", "be", "to", "of", "and", "a", "in", "that",
      "have", "i", "it", "is", "was", "for", "on"),
    "es" -> Seq("de", "la", "que", "el", "en", "y", "a", "los", "se",
      "del", "las", "un", "por", "con", "no"),
    "fr" -> Seq("de", "la", "le", "et", "les", "des", "en", "un", "du",
      "une", "que", "est", "pour", "qui", "dans"))

  /**
   * Language-ID: argmax over profile-hit ratios; "und" when nothing
   * matches. Native expressions: per-language hit counts -> array of
   * (score, lang) structs -> array_max (struct ordering = score first,
   * ties break toward the lexicographically larger code; documented).
   */
  def langId(text: Column): Column = {
    val tokens = filter(split(lower(text), "\\s+"), t => t =!= "")
    val scored = array(LangProfiles.map { case (code, profile) =>
      val profArr = array(profile.map(lit): _*)
      val hits = size(filter(tokens, t => array_contains(profArr, t)))
      struct(hits.as("hits"), lit(code).as("lang"))
    }: _*)
    val best = array_max(scored)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** 64-bit document fingerprint of the normalized text. For the
    * position-robust fingerprint SET (winnowing), see
    * [[graft.ops.Fingerprint]] — the expression-based, SQL-replayable
    * form that superseded the per-row UDF that used to live here. */
  def fingerprint(text: Column): Column = xxhash64(Dedup.normalized(text))

  /** Raw repetition signals of one document (single pass over the
    * normalized tokens — no shuffle; the Gopher-style repetition gate).
    * Ratios are returned unrounded so queries can apply the same
    * `round(..., 4)` the rest of the battery uses. */
  private[ops] case class Repetition(n_tokens: Long, distinct_ratio: Double,
                                     top_word_frac: Double,
                                     dup_2gram_frac: Double)

  private[ops] def repetitionOf(text: String): Repetition = {
    val ws =
      if (text == null) Array.empty[String]
      else text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
    val total = ws.length
    if (total == 0) return Repetition(0L, 0.0, 0.0, 0.0)
    val counts = new java.util.HashMap[String, Int]()
    var top = 0
    var i = 0
    while (i < total) {
      val c = counts.merge(ws(i), 1, Integer.sum)
      if (c > top) top = c
      i += 1
    }
    val dupGramFrac =
      if (total < 2) 0.0
      else {
        val grams = new java.util.HashSet[String]()
        var j = 0
        while (j < total - 1) { grams.add(ws(j) + " " + ws(j + 1)); j += 1 }
        val tg = total - 1
        (tg - grams.size).toDouble / tg
      }
    Repetition(total.toLong, counts.size.toDouble / total,
      top.toDouble / total, dupGramFrac)
  }

  /** Per-document repetition stats (duplicate-2-gram fraction, most-
    * frequent-word fraction, distinct-word ratio) — the filters a
    * Gopher/C4-style quality pipeline gates on. One map stage. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val rep = udf((s: String) => repetitionOf(s))
    df.select(col(idCol), rep(col(textCol)).as("__r"))
      .select(col(idCol),
        col("__r.n_tokens").as("n_tokens"),
        round(col("__r.distinct_ratio"), 4).as("distinct_ratio"),
        round(col("__r.top_word_frac"), 4).as("top_word_frac"),
        round(col("__r.dup_2gram_frac"), 4).as("dup_2gram_frac"))
  }

  /** [[repetitionStats]]' `dup_2gram_frac` as a row-local Column (same
    * kernel, same 4-decimal rounding) — for composing the repetition
    * gate into a projection instead of joining the stats frame back by
    * id: the value is per-row arithmetic, so a pipeline gating on it
    * should pay a column, not an id shuffle. Null text scores 0.0
    * ([[repetitionOf]]'s zero-token contract). */
  def dup2gramFrac(text: Column): Column = {
    val rep = udf((s: String) => repetitionOf(s))
    round(rep(text).getField("dup_2gram_frac"), 4)
  }

  /** Corpus-level top-k word n-grams by document frequency (distinct
    * per doc — [[Dedup.shingleSet]] semantics) — the vocabulary/
    * boilerplate-discovery aggregate. Partial+final hash aggregate on
    * narrow (gram) rows; the final top-k is TakeOrderedAndProject. */
  def topGramsByDocFreq(df: DataFrame, textCol: String,
                        n: Int = 3, k: Int = 20): DataFrame =
    df.select(explode(Dedup.shingles(col(textCol), n)).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(desc("doc_freq"), asc("gram"))
      .limit(k)

  /**
   * Per-document unigram log-probability under the corpus' own unigram
   * model — the cheap LM-perplexity proxy a CCNet-style quality filter
   * thresholds on (a doc of rare/garbled tokens scores high
   * `avg_neg_logp`; boilerplate scores low). Token semantics are
   * [[Dedup.normalized]] + single-space split (token INSTANCES, not
   * distinct), so the model is `p(w) = count(w) / total_tokens` over
   * the corpus and the score is `avg(-ln p(w))` over the document.
   *
   * Plan shape: ONE scan of the corpus. The token explode immediately
   * collapses to per-doc TERM FREQUENCIES — a (doc, word)-keyed
   * partial+final hash aggregate whose fine-grained key is skew-free
   * (an instance-level window over the bare token key would funnel
   * every occurrence of a Zipf-head word like "the" — percent of the
   * corpus — through one task at 100 TB). The tf frame is persisted
   * across its two consumers (model aggregate + scoring join, the
   * [[Dedup.minhashPairsIncrementalPlan]] pattern), the corpus counts
   * are another partial+final aggregate, and the scoring join on the word key
   * carries one row per DISTINCT (doc, word) — bounded by docs, not
   * instances, even for stopwords. The global total rides in as a
   * single-row broadcast like [[Layout.keySkewReport]]'s mean. Uses
   * `avg(-ln(c/total)) == ln(total) - sum(tf*ln c)/n`. Self-scoring
   * means no OOV tokens by construction; to score against a REFERENCE
   * corpus model, join that corpus' frequency table instead and add
   * smoothing. Result is materialized eagerly so the persisted tf
   * frame releases instead of leaking per call.
   */
  /** The skew-free per-(doc, word) term-frequency aggregate shared by
    * [[unigramLogProb]], [[oovRate]], and [[importanceWeights]] (which
    * threads a doc-constant boolean flag through the same aggregate) —
    * ONE definition of the token semantics, so the three operators that
    * document themselves as "the same tf aggregate" cannot diverge.
    * Returned PERSISTED (MEMORY_AND_DISK); the caller must unpersist. */
  private def docTermFreq(df: DataFrame, idCol: String, textCol: String,
                          flag: Option[Column] = None): DataFrame = {
    val word = explode(split(Dedup.normalized(col(textCol)), " ")).as("__w")
    val toks = flag match {
      case Some(f) => df.select(col(idCol), f.cast("boolean").as("__t"), word)
      case None => df.select(col(idCol), word)
    }
    val grouped = toks.where(col("__w") =!= "")
      .groupBy(col(idCol), col("__w"))
    val agged = flag match {
      // the flag is doc-constant, so first() is deterministic here
      case Some(_) =>
        grouped.agg(count(lit(1)).as("__tf"), first(col("__t")).as("__t"))
      case None => grouped.agg(count(lit(1)).as("__tf"))
    }
    agged.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    require(!Set("__w", "__tf", "__c", "__total", "__slc", "n_tokens",
      "avg_neg_logp").contains(idCol),
      s"idCol '$idCol' collides with unigramLogProb's reserved names")
    val tf = docTermFreq(df, idCol, textCol)
    val freqs = tf.groupBy(col("__w")).agg(sum(col("__tf")).as("__c"))
    val total = freqs.agg(sum(col("__c")).as("__total"))
    val perDoc = tf.join(freqs, "__w")
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).as("n_tokens"),
        sum(col("__tf") * log(col("__c"))).as("__slc"))
    // 3 decimals for the same reason as qualityScore: the sum order
    // differs across engines (and shuffles) in the last ulp, and a
    // 4-decimal boundary doc flips the cross-engine compare
    val out = perDoc.crossJoin(broadcast(total))
      .select(col(idCol), col("n_tokens"),
        round(log(col("__total")) - col("__slc") / col("n_tokens"), 3)
          .as("avg_neg_logp"))
      .localCheckpoint(true)
    tf.unpersist()
    out
  }

  /** Bounded unigram reference model — the FIT artifact for streaming-
    * side LM gating ([[graft.ops.Curate.streamingGate]]): an ingest
    * stream cannot self-score ([[unigramLogProb]] needs the whole
    * corpus), so the model is fitted ONCE on a reference ("good text")
    * corpus and broadcast. Vocabulary truncates to the top `vocabSize`
    * words by (count desc, word asc) — deterministic, SQL-replayable —
    * and scoring is add-one smoothed over the kept vocabulary:
    * p(w) = (c(w)+1) / (total+V), total = kept-count sum, V = |vocab|+1
    * (the +1 is the out-of-vocabulary bucket). Driver state is bounded
    * by vocabSize (a TakeOrderedAndProject collect). */
  final case class UnigramRef(counts: Map[String, Long], total: Long,
                              vocab: Long) extends Serializable

  def fitUnigramRef(ref: DataFrame, textCol: String,
                    vocabSize: Int = 65536): UnigramRef = {
    require(vocabSize > 0, "vocabSize must be positive")
    val rows = ref
      .select(explode(Dedup.normalizedTokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w").asc)
      .limit(vocabSize)
      .collect()
    val counts = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    UnigramRef(counts, counts.values.sum, counts.size + 1L)
  }

  /** Per-row negative-log-probability under a fitted [[UnigramRef]] —
    * the map-only APPLY path (broadcast model + one UDF; no join, no
    * shuffle, no state — streaming-safe). Contract matches
    * [[unigramLogProb]]'s score column: mean over token INSTANCES,
    * 3-decimal half-up rounding; docs with zero normalized tokens get
    * NULL — a perplexity gate has no opinion on tokenless docs (route
    * them to a length gate), mirroring the batch LM gate's anti-join
    * semantics. */
  def unigramRefScore(docs: DataFrame, textCol: String,
                      model: UnigramRef, outCol: String): DataFrame = {
    require(!docs.columns.contains(outCol),
      s"input column $outCol already exists")
    val sc = docs.sparkSession.sparkContext
    val bc = sc.broadcast(model)
    val score = udf((s: String) => {
      val m = bc.value
      val ws =
        if (s == null) Array.empty[String]
        else s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (ws.isEmpty) None
      else {
        val denom = (m.total + m.vocab).toDouble
        var acc = 0.0
        var i = 0
        while (i < ws.length) {
          acc += -math.log((m.counts.getOrElse(ws(i), 0L) + 1L) / denom)
          i += 1
        }
        // same half-up 3-decimal rule as unigramLogProb's round(.., 3)
        Some(math.floor(acc / ws.length * 1000 + 0.5) / 1000)
      }
    })
    docs.withColumn(outCol, score(col(textCol)))
  }

  /**
   * CCNet-style interpolated bigram language-model scoring: fit
   * unigram/bigram counts on a REFERENCE corpus (the "good text"
   * model — e.g. a curated subset), then score every document by its
   * average negative log-probability under
   * `p(b|a) = lambda * c(ab)/c(a) + (1-lambda) * (c(b)+1)/(N+V)`
   * (maximum-likelihood bigram interpolated with add-one unigram; an
   * unseen bigram or unseen left word contributes only the unigram
   * term, so the score is total for OOV text). High `avg_neg_logp`
   * marks text unlike the reference — the perplexity filter of the
   * CCNet/LLaMA data pipelines, with the LM kept exactly
   * SQL-replayable instead of a KenLM binary.
   *
   * Scale shape: the model is two hash aggregates over the exploded
   * reference (Zipf-head words partial-aggregate map-side); bigram
   * counts below `minBigramCount` are pruned BEFORE the score join
   * (the long tail is the bulk of distinct bigrams, and dropping a
   * tail count only moves a score toward its unigram floor — the
   * documented smoothing, not an approximation knob). Scoring joins
   * ship only (word-pair, count) model rows against the documents'
   * exploded bigrams — three narrow equi-joins keyed on words, then
   * one per-doc aggregate; the two scalar totals ride in as
   * single-row broadcast crosses. Nothing collects to the driver.
   * Docs with fewer than two (non-empty, normalized) tokens have no
   * bigram positions and are excluded — callers route them to a
   * length gate, not a perplexity gate. 3-decimal rounding for the
   * cross-engine float boundary (same reason as [[unigramLogProb]]).
   */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String,
                    ref: DataFrame, refTextCol: String,
                    minBigramCount: Int = 2,
                    lambda: Double = 0.9): DataFrame = {
    // strictly below 1: at lambda == 1.0 the unigram floor vanishes and
    // an unseen bigram scores -log(0) = Infinity, poisoning the
    // document's avg_neg_logp (and any downstream rounding/compare)
    require(lambda >= 0.0 && lambda < 1.0,
      "lambda must be in [0, 1) — 1.0 gives unseen bigrams -log(0) = Infinity")
    require(minBigramCount >= 1, "minBigramCount must be >= 1")
    require(!Set("__a", "__b", "__cab", "__ca", "__cb", "__n", "__v",
      "__ws", "__p", "__nll", "__w", "__c",
      "n_bigrams", "avg_neg_logp").contains(idCol),
      s"idCol '$idCol' collides with bigramLmScore's reserved names")
    def toks(c: Column) = Dedup.normalizedTokens(c)
    def pairs(df: DataFrame, cols: Seq[Column], textCol: String) = {
      val ws = toks(col(textCol))
      df.select(cols :+ ws.as("__ws"): _*)
        .where(size(col("__ws")) >= 2)
        .select(cols :+ explode(zip_with(
          slice(col("__ws"), lit(1), size(col("__ws")) - 1),
          slice(col("__ws"), lit(2), size(col("__ws")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("__p"): _*)
        .select(cols :+ col("__p.a").as("__a") :+ col("__p.b").as("__b"): _*)
    }
    // model: unigram counts feed THREE consumers (totals + two score
    // joins) — persist so the reference explode runs once
    val uni = ref.select(explode(toks(col(refTextCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = uni.agg(sum(col("__c")).as("__n"),
      count(lit(1)).as("__v"))
    val bi = pairs(ref, Seq.empty, refTextCol)
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__cab"))
      .where(col("__cab") >= minBigramCount)
    val scored = pairs(docs, Seq(col(idCol)), textCol)
      .join(bi, Seq("__a", "__b"), "left")
      .join(uni.select(col("__w").as("__a"), col("__c").as("__ca")),
        Seq("__a"), "left")
      .join(uni.select(col("__w").as("__b"), col("__c").as("__cb")),
        Seq("__b"), "left")
      .crossJoin(broadcast(totals))
    val pBi = when(col("__cab").isNotNull && col("__ca").isNotNull,
      col("__cab") / col("__ca")).otherwise(lit(0.0))
    val pUni = (coalesce(col("__cb"), lit(0L)) + 1) / (col("__n") + col("__v"))
    val out = scored
      .select(col(idCol),
        (-log(lit(lambda) * pBi + lit(1.0 - lambda) * pUni)).as("__nll"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("__nll")), 3).as("avg_neg_logp"))
      .localCheckpoint(true)
    uni.unpersist()
    out
  }

  /**
   * Collocation mining via pointwise mutual information: adjacent
   * word pairs scored by `PMI = ln(p(ab) / (p(a) p(b)))` with
   * `p(ab) = c_ab / N_bigrams` and `p(w) = c_w / N_tokens` — the
   * standard measure for "words that travel together" (multi-word
   * entities, templated phrases), a corpus-analysis staple next to
   * [[topGramsByDocFreq]]'s raw document frequency.
   *
   * Scale shape: three hash aggregates over exploded tokens/bigrams
   * (all partial-aggregating — Zipf-head words collapse map-side),
   * the two scalar totals ride in as single-row broadcast crosses,
   * and the bigram↔unigram joins shuffle only (word, count) rows.
   * `minCount` prunes the long tail BEFORE the joins, so the scored
   * frame is the (small) frequent-pair set. 3-decimal rounding for
   * the cross-engine float boundary (same reason as
   * [[unigramLogProb]]).
   */
  def collocationPmi(df: DataFrame, textCol: String,
                     minCount: Int): DataFrame = {
    val toks = df.select(
      split(Dedup.normalized(col(textCol)), " ").as("__ws"))
      .where(size(col("__ws")) > 0)
    val uni = toks.select(explode(col("__ws")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    // the aggregated pair-count frame feeds TWO consumers (the total
    // and the scored subset) — persist so the expensive explode pass
    // runs once, checkpoint the (small) scored result, release
    val biAll = toks.select(explode(
      zip_with(slice(col("__ws"), lit(1), size(col("__ws")) - 1),
        slice(col("__ws"), lit(2), size(col("__ws")) - 1),
        (a, b) => struct(a.as("a"), b.as("b")))).as("__p"))
      .select(col("__p.a").as("word_a"), col("__p.b").as("word_b"))
      .where(col("word_a") =!= "" && col("word_b") =!= "")
      .groupBy(col("word_a"), col("word_b"))
      .agg(count(lit(1)).as("n_pair"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTok = uni.agg(sum(col("c_w")).as("__ntok"))
    // N_bigrams is the total over ALL pairs (the probability space),
    // not just the frequent ones; minCount only prunes what gets SCORED
    val nBi = biAll.agg(sum(col("n_pair")).as("__nbi"))
    val bi = biAll.where(col("n_pair") >= minCount)
    val out = bi
      .join(uni.select(col("w").as("word_a"), col("c_w").as("__ca")), "word_a")
      .join(uni.select(col("w").as("word_b"), col("c_w").as("__cb")), "word_b")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBi))
      .select(col("word_a"), col("word_b"), col("n_pair"),
        // + 0.0 folds IEEE -0.0 (round of a tiny negative) to +0.0 —
        // keeps the exact-hash contract engine-portable
        (round(log((col("n_pair") / col("__nbi")) /
          ((col("__ca") / col("__ntok")) * (col("__cb") / col("__ntok")))), 3)
          + lit(0.0)).as("pmi"))
      .localCheckpoint(true)
    biAll.unpersist()
    out
  }

  /** Per-group token-length distribution (exact interpolated p50/p90/
    * p99 + min/max) — the corpus profile that sizes context lengths
    * and packing. Exact `percentile` is a sort-based aggregate per
    * group; at extreme group cardinality swap in `approx_percentile`
    * (t-digest, mergeable) — the output contract stays the same.
    * Token counts use [[Dedup.normalized]] + single-space split so the
    * DuckDB oracle replays them exactly. */
  def lengthProfile(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val n = size(split(Dedup.normalized(col(textCol)), " "))
    val pct = percentile(col("__n"), array(lit(0.5), lit(0.9), lit(0.99)))
    df.select(col(groupCol), n.as("__n"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        round(element_at(pct, 1), 4).as("p50"),
        round(element_at(pct, 2), 4).as("p90"),
        round(element_at(pct, 3), 4).as("p99"),
        min(col("__n")).cast("long").as("min_tokens"),
        max(col("__n")).cast("long").as("max_tokens"))
  }

  /** Full per-document stats projection (one map stage). */
  def profile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      tokenCount(t).cast("long").as("n_tokens"),
      subwordCount(t).cast("long").as("n_subwords"),
      length(t).cast("long").as("n_chars"),
      round(meanTokenLength(t), 4).as("mean_token_len"),
      round(punctRatio(t), 4).as("punct_ratio"),
      round(stopwordRatio(t), 4).as("stopword_ratio"),
      round(upperRatio(t), 4).as("upper_ratio"),
      qualityScore(t).as("quality"),
      langId(t).as("lang_guess"),
      fingerprint(t).as("fingerprint"))
  }

  /**
   * Per-document out-of-vocabulary rate against the corpus' own
   * top-`vocabSize` token vocabulary — the tokenizer-coverage signal a
   * training pipeline checks before committing to a vocab (a doc of
   * rare/garbled tokens scores near 1.0; plain prose near 0).
   *
   * Plan shape: the same skew-free (doc, word) term-frequency aggregate
   * as [[unigramLogProb]] (persisted across its two consumers); the
   * vocabulary is `TakeOrderedAndProject` over the (word, count)
   * aggregate — bounded at `vocabSize` rows by construction, ties at
   * the cut broken deterministically toward the lexicographically
   * smaller word — and joins back as a BROADCAST, so the scoring pass
   * never shuffles: tf rows fold straight into the per-doc aggregate.
   * Docs with zero tokens are dropped (same contract as
   * [[unigramLogProb]]).
   */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
              vocabSize: Int): DataFrame = {
    val (tf, result) = oovRatePlan(df, idCol, textCol, vocabSize)
    val out = result.localCheckpoint(true)
    tf.unpersist()
    out
  }

  /** [[oovRate]] WITHOUT the eager checkpoint, returning the persisted
    * tf frame too — for plan assertions (the checkpoint severs the
    * lineage under inspection; same pattern as
    * [[Dedup.minhashPairsIncrementalPlan]]). Caller must unpersist the
    * tf frame. */
  private[graft] def oovRatePlan(df: DataFrame, idCol: String,
                                 textCol: String, vocabSize: Int)
      : (DataFrame, DataFrame) = {
    require(vocabSize > 0, "vocabSize must be positive")
    require(!Set("__w", "__tf", "__c", "__inv", "__oov", "n_tokens",
      "oov_rate").contains(idCol),
      s"idCol '$idCol' collides with oovRate's reserved names")
    val tf = docTermFreq(df, idCol, textCol)
    val vocab = tf.groupBy(col("__w")).agg(sum(col("__tf")).as("__c"))
      .orderBy(desc("__c"), asc("__w"))
      .limit(vocabSize)
      .select(col("__w"), lit(true).as("__inv"))
    val result = tf.join(broadcast(vocab), Seq("__w"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).as("n_tokens"),
        sum(when(col("__inv").isNull, col("__tf")).otherwise(lit(0L)))
          .as("__oov"))
      // long/long division — bit-identical across engines, so 4
      // decimals are safe here (no float-sum boundary to land on)
      .select(col(idCol), col("n_tokens"),
        round(col("__oov").cast("double") / col("n_tokens"), 4).as("oov_rate"))
    (tf, result)
  }

  /**
   * Vocabulary coverage curve: for each candidate vocabulary size V,
   * the fraction of all token INSTANCES covered by the top-V words —
   * the sizing curve a tokenizer/vocab decision reads ("how much of
   * the corpus does a 32k vocab cover?").
   *
   * Plan shape: one explode into a partial+final (word, count)
   * aggregate (Zipf-head words collapse map-side), then everything
   * downstream is BOUNDED: the ranked head is `TakeOrderedAndProject`
   * at max(V) rows, and the cumulative coverage is a driver-side
   * prefix sum over those max(V) counts (never a window over the
   * corpus — a global rank window over the raw frequency table would
   * funnel everything through one task).
   * Ties at each cut break deterministically toward the smaller word.
   */
  def vocabCoverage(df: DataFrame, textCol: String,
                    vocabSizes: Seq[Int]): DataFrame = {
    require(vocabSizes.nonEmpty && vocabSizes.forall(_ > 0),
      "vocabSizes must be non-empty and positive")
    val maxV = vocabSizes.max
    val counts = df.select(
      explode(split(Dedup.normalized(col(textCol)), " ")).as("__w"))
      .where(col("__w") =!= "")
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totalRow = counts.agg(sum(col("__c"))).head()
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    // the ranked head is TakeOrderedAndProject (distributed top-maxV);
    // pulling those maxV rows to the driver moves EXACTLY the rows a
    // single-partition rank window would funnel through one task — but
    // as a bounded collect instead of an unpartitioned WindowExec, so
    // the bench tail stays free of the "No Partition Defined" warning
    // and a REAL unpartitioned window can never hide behind an
    // expected one. The prefix-sum over maxV longs is trivial driver
    // work; maxV is the caller's vocabulary budget, not data-sized.
    val ranked = counts.orderBy(desc("__c"), asc("__w")).limit(maxV)
      .select(col("__c")).collect().map(_.getLong(0))
    counts.unpersist()
    val ss = df.sparkSession
    import ss.implicits._
    if (total == 0L)
      // empty corpus: no words to rank — zero rows, as the grouped
      // formulation produced
      return Seq.empty[(Int, Long, Double)]
        .toDF("vocab_size", "n_words", "coverage")
    val prefix = ranked.scanLeft(0L)(_ + _).tail
    vocabSizes.distinct.sorted.map { v =>
      val n = math.min(v, ranked.length)
      val covered = if (n == 0) 0L else prefix(n - 1)
      // same rounding as Spark's round(): HALF_UP at 4 decimals on the
      // double quotient — keeps the DuckDB oracle compare bit-stable
      val cov = BigDecimal(covered.toDouble / total)
        .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
      (v, n.toLong, cov)
    }.toDF("vocab_size", "n_words", "coverage")
  }

  /**
   * DSIR-style importance weights: per-doc mean log-likelihood ratio
   * between a TARGET-domain unigram model (docs where `isTarget`) and
   * the overall corpus model, add-one smoothed over the corpus
   * vocabulary — the importance-sampling score used to upweight
   * target-like data when composing a training mixture (Xie et al.
   * 2023's DSIR, reduced to unigrams). Positive = more target-like
   * than the corpus average.
   *
   * `avg_w [ln p_t(w) - ln p_c(w)]` with `p_t(w) = (c_t(w)+1)/(N_t+V)`
   * and `p_c(w) = (c(w)+1)/(N+V)` decomposes into a per-doc sum of
   * `ln(c_t+1) - ln(c+1)` plus a corpus-constant shift — so the plan
   * is exactly [[unigramLogProb]]'s: one skew-free (doc, word) tf
   * aggregate persisted across two consumers, ONE frequency table
   * carrying both models (the target counts ride the same aggregate as
   * a conditional sum — no second corpus pass), a (word)-keyed scoring
   * join bounded by DISTINCT (doc, word) rows, and the three scalar
   * totals broadcast in as a single row. Docs with zero tokens are
   * dropped; target docs score themselves (standard DSIR — the ratio
   * is still informative because the denominator pools everything).
   */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
                        isTarget: Column): DataFrame = {
    require(!Set("__w", "__tf", "__t", "__c", "__ct", "__n", "__nt", "__v",
      "__s", "n_tokens", "log_ratio").contains(idCol),
      s"idCol '$idCol' collides with importanceWeights's reserved names")
    val tf = docTermFreq(df, idCol, textCol, flag = Some(isTarget))
    val freqs = tf.groupBy(col("__w")).agg(
      sum(col("__tf")).as("__c"),
      sum(when(col("__t"), col("__tf")).otherwise(lit(0L))).as("__ct"))
    val totals = freqs.agg(
      sum(col("__c")).as("__n"), sum(col("__ct")).as("__nt"),
      count(lit(1)).as("__v"))
    val perDoc = tf.join(freqs, "__w")
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).as("n_tokens"),
        sum(col("__tf") * (log(col("__ct") + 1) - log(col("__c") + 1)))
          .as("__s"))
    val out = perDoc.crossJoin(broadcast(totals))
      // 3 decimals: float-sum ulp boundary, same contract as
      // unigramLogProb/qualityScore
      .select(col(idCol), col("n_tokens"),
        // + 0.0 folds IEEE -0.0 to +0.0 (exact-hash portability)
        (round(col("__s") / col("n_tokens")
          + log(col("__n") + col("__v")) - log(col("__nt") + col("__v")), 3)
          + lit(0.0)).as("log_ratio"))
      .localCheckpoint(true)
    tf.unpersist()
    out
  }

  /**
   * Top-k keywords per document by TF-IDF: `score = tf(w,d) *
   * ln(N / df(w))` over the corpus' own document frequencies — the
   * per-doc topical summary a curation pipeline attaches for
   * clustering, routing, and domain labeling (and the cheap
   * non-embedding baseline next to [[graft.ops.SimSearch]]'s vectors).
   *
   * Plan shape: the shared skew-free (doc, word) tf aggregate
   * ([[unigramLogProb]]'s), a (word, df) aggregate joined back on the
   * word key (rows bounded by DISTINCT (doc, word), never token
   * instances), the scalar doc count broadcast in as a single row, and
   * a per-DOC row_number window — partitioned on the id, so it prunes
   * map-side via WindowGroupLimit and no key is hotter than one
   * document's vocabulary. Ranking uses the ROUNDED score (ties broken
   * toward the lexicographically smaller word) so an engine-ulp
   * boundary cannot flip the cut — the q64 contract.
   */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, "k must be positive")
    require(!Set("__w", "__tf", "__df", "__nd", "word", "tf", "score",
      "rank").contains(idCol),
      s"idCol '$idCol' collides with tfidfKeywords's reserved names")
    val tf = docTermFreq(df, idCol, textCol)
    val dfreq = tf.groupBy(col("__w")).agg(count(lit(1)).as("__df"))
    val nDocs = tf.agg(countDistinct(col(idCol)).as("__nd"))
    val scored = tf.join(dfreq, "__w")
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("__w").as("word"), col("__tf").as("tf"),
        // + 0.0 folds IEEE -0.0 to +0.0 (a word in every doc scores
        // tf * ln(1) = 0 — keep the zero sign engine-portable)
        (round(col("__tf") * log(col("__nd").cast("double") / col("__df")), 4)
          + lit(0.0)).as("score"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("word").asc)
    val out = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("word"), col("tf"), col("score"))
      .localCheckpoint(true)
    tf.unpersist()
    out
  }

  /**
   * Per-document lexical diversity: type-token ratio, hapax fraction
   * (words occurring once / distinct words), and unigram Shannon
   * entropy in nats — the vocabulary-richness signals that separate
   * natural prose from templated or keyword-stuffed text (quality
   * filtering's complement to [[repetitionStats]], which looks at
   * n-gram repeats; these look at the word DISTRIBUTION).
   *
   * Entropy uses `H = ln(n) - (Σ tf·ln tf) / n` (the p·ln p sum
   * regrouped over counts), so everything folds into ONE aggregate
   * over the shared skew-free (doc, word) tf frame — no second pass,
   * no window. ttr/hapax_frac are exact-integer quotients (4-decimal
   * safe); entropy sums floats and rounds to 3 (the
   * [[unigramLogProb]] contract). Docs with zero tokens are dropped
   * (same contract as every tf-derived stat here).
   */
  def lexicalDiversity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    require(!Set("__w", "__tf", "__hapax", "__slc", "n_tokens", "n_types",
      "ttr", "hapax_frac", "entropy").contains(idCol),
      s"idCol '$idCol' collides with lexicalDiversity's reserved names")
    val tf = docTermFreq(df, idCol, textCol)
    val out = tf.groupBy(col(idCol))
      .agg(sum(col("__tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__tf") === 1, lit(1L)).otherwise(lit(0L))).as("__hapax"),
        sum(col("__tf") * log(col("__tf"))).as("__slc"))
      .select(col(idCol), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 4).as("ttr"),
        round(col("__hapax").cast("double") / col("n_types"), 4).as("hapax_frac"),
        // + 0.0: a single-word doc hits H = 0 exactly; fold any -0.0
        (round(log(col("n_tokens")) - col("__slc") / col("n_tokens"), 3)
          + lit(0.0)).as("entropy"))
      .localCheckpoint(true)
    tf.unpersist()
    out
  }

  /** Deflate COMPRESSION RATIO of the UTF-8 text: compressed bytes /
    * raw bytes, 4 decimals — the classic cheap repetitiveness signal
    * (Gopher/FineWeb lineage): boilerplate, templated, and
    * machine-looped text compresses far below natural prose (~0.3-0.6
    * for English paragraphs; <0.1 is a near-certain repetition flag;
    * short texts ratio >1 from the ~11-byte stream overhead — gate on
    * a length floor first). zlib level 6, ONE POOLED Deflater per
    * executor thread (ThreadLocal + reset() between rows): zlib's
    * native dictionary/window buffers are allocated once per thread
    * for the JVM's lifetime instead of once per row — at corpus scale
    * the per-row native alloc/free churn was the operator's dominant
    * non-zlib cost. reset() restores the exact post-construction
    * state (same level, same strategy, same zlib wrapper), so the
    * compressed byte COUNT — and therefore the ratio — is
    * bit-identical to a fresh Deflater per row (OpsSpec pins that
    * against a fresh-instance reference). NULL text and empty text
    * return NULL (no opinion), mirroring the LM gates' tokenless
    * contract. A Scala UDF by necessity — no built-in or
    * SQL-replayable form exists, so the q169 oracle is rows-only and
    * the exact values are spec-pinned properties (monotone under
    * repetition), not cross-engine hashes.
    *
    * Scale shape: map-only, no shuffle; cost is one zlib pass over the
    * text bytes (~100 MB/s/core — budget it like a second regex
    * kernel). */
  def compressionRatio(text: Column): Column = {
    val ratio = udf { (s: String) =>
      if (s == null || s.isEmpty) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(compressionRatioScalar(s))
    }
    ratio(text)
  }

  /** Per-thread pooled Deflater behind [[compressionRatio]]. Never
    * end()'d: one native allocation per executor thread for the JVM's
    * lifetime is the pool's whole point, and Deflater's cleaner
    * releases the native state if a thread dies. */
  private lazy val deflaterPool: ThreadLocal[java.util.zip.Deflater] =
    ThreadLocal.withInitial(() => new java.util.zip.Deflater(6))

  /** Scalar kernel of [[compressionRatio]] (also the spec's direct
    * entry): deflate byte count / raw byte count, 4 decimals. */
  private[ops] def compressionRatioScalar(s: String): Double = {
    val raw = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val d = deflaterPool.get()
    d.reset()
    d.setInput(raw); d.finish()
    // the buffer is reused per call — only the byte COUNT is
    // kept, so worst-case zlib expansion (5 B per 16 KiB block)
    // never needs a larger allocation; with finish() set,
    // deflate always makes progress until finished()
    val buf = new Array[Byte](8192)
    var n = 0
    while (!d.finished()) n += d.deflate(buf, 0, buf.length)
    BigDecimal(n.toDouble / raw.length)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }
}
