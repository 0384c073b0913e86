package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.TextClean

/**
 * Oracle-checked relational query battery over the driver testdata
 * (`/root/testdata/sf*`). Each query here has a matching DuckDB SQL
 * entry in [[SparkEntry.oracleSql]]; names and aliases MUST stay in
 * sync between the two (the driver compare sorts columns by name and
 * hashes values).
 *
 * Coverage mapping to SURVEY.md §2 (reference
 * witlox/spark_sentiment, cited per query):
 *  - q1_agg            A1/A8/F4 aggregate shapes (ref `utils/Detection.scala:25`)
 *  - q2_join_agg       J1 equi-join (ref `TrainingSet.scala:51`) + agg
 *  - q3_filter_project P1/P2/P5 pushdown-friendly column predicates
 *                      (ref `CreateScoreList.scala:40`, fixed to Column form)
 *  - q4_wordfreq       A4 word frequency (ref `CreateScoreList.scala:45-50`,
 *                      RDD reduceByKey re-expressed as DataFrame hash agg)
 *  - q5_clean_text     U1 cleaning chain, native-expression form
 *                      (ref `utils/Helper.scala:77-84`)
 *  - q6_distinct       A3/U1 distinct (ref `utils/Detection.scala:79,88`)
 *  - q7_avg_wordcount  A1/D2 text-column detection aggregate
 *                      (ref `utils/Detection.scala:25-38`)
 *  - q8_dedup_exact    exact-dedup extension (north star): per-group
 *                      distinct-normalized-text counts
 *  - q9_events_hourly  batch shape of the streaming extension: tumbling
 *                      hourly window re-expressed as date_trunc agg
 *  - q10_topk          W2 top-k by aggregate (ref `utils/Detection.scala:36`)
 *  - q11_text_stats    text-analysis extension: per-doc token/char counts
 *  - q12_nullsafe_join J1 null-safe `<=>` join exactly as the reference
 *                      (ref `TrainingSet.scala:51`)
 *  - q13_levenshtein   F7 Levenshtein as a native column expression
 *                      (ref `utils/Helper.scala:149-163`)
 *  - q14_starjoin      multi-way dimension join with explicit broadcasts
 *  - q15_wordscore_exact U3 exact scoring as broadcast dictionary join
 *                      (ref `PlainTextAnalyser.scala:12-39` core arithmetic)
 *  - q16_wordscore_full U3+U4 full UDF path incl. stem/dedup/fuzzy
 *                      (rows-only; unit-pinned)
 *  - q17_dedup_exact_rows exact dedup, min-id winner per normalized text
 *  - q18_jaccard_pairs exact n-gram Jaccard via postings equi-join
 *  - q19_text_profile  text-quality metrics (token/char/punct/stopword)
 *  - q20_vector_stats  embedding dims + L2 norms
 *  - q21_knn_exact     brute-force cosine top-k (TakeOrdered)
 *  - q22_minhash_pairs banded MinHash LSH near-dup (oracle: exact-Jaccard contract)
 *  - q23_simhash_pairs SimHash chunk-banded near-dup (oracle: FNV+vote replay)
 *  - q24_ann_lsh       SRP-LSH bucketed ANN (oracle: full SRP replay,
 *                      hyperplanes embedded as literals)
 *  - q25_ml_train      M3-M7 static LR training (rows-only; MLSpec pins)
 *  - q26_scorelist     A4/A5/J2/U2 score-list training with overlap removal
 *  - q27_ann_ivf       IVF ANN (oracle: recall-1.0 contract = exact top-k)
 *  - q28/q29           sliding windows / session windows (streaming batch forms)
 *  - q30_cosine_neardup embedding-cosine near-dup (planted-copy contract)
 *  - q31/q32           as-of join / bounded range join (temporal shapes)
 *  - q33_text_quality  composite quality + language-ID
 *  - q34_chunks        context-length chunking
 *  - q35_quantize      int8 quantization digest
 *  - q36_splits        leakage-safe md5-bucketed splits
 *  - q37_decontaminate benchmark n-gram overlap report
 *  - q38_repetition    Gopher-style repetition gates
 *  - q39_gram_topdf    corpus top-k n-grams by doc frequency
 *  - q40_centroids     per-cluster embedding centroid digest
 *  - q41_redact        PII scrub counts + redacted text (planted PII)
 *  - q42_stratified    md5-ranked per-source quota sample
 *  - q43_rate_mix      hash-cutoff source mixing
 *  - q44_length_profile per-source token-length percentiles
 *  - q45_multimodal    blob-plumbing digest (byte-histogram kernel)
 *  - q46_packing       sequence packing to a token budget
 *  - q47_bloom_decontaminate q37 through the broadcast Bloom prefilter
 *  - q48_incremental_minhash new-batch-vs-corpus near-dup (no old x old)
 *  - q49_ann_batch     batch ANN: query set x SRP index, per-query top-k
 *  - q50_skew_report   top-k key skew diagnostic (salting decision input)
 *  - q51_novel_docs    exact novelty gate vs a historical corpus (md5
 *                      anti-join; streaming form spec-tested)
 *  - q52_unigram_logprob corpus-self unigram LM score (perplexity-proxy
 *                      quality filter)
 *  - q53_semantic_dedup SemDeDup: KMeans cells + within-cell cosine
 *  - q54_project       JL random-projection digest (seeded Gaussian)
 *  - q55_similar_docs  cross-table "docs like this one" (ANN ⋈ metadata)
 *  - q56_schema_profile per-column null/distinct/range quality report
 *  - q57_curate        ten-stage curation composition (per-stage counts
 *                      + membership digests; full DuckDB replay)
 *  - q58_span_mask     sub-document span dedup (Lee et al. masking)
 *  - q59_retention     cohort retention curves over events
 *  - q60-q63,q65       pivot / rolling window / collocation PMI /
 *                      unpivot / rollup relational shapes
 *  - q64_quality_gate  per-source median quality gate (broadcast thresholds)
 *  - q66_approx_sketch HLL + t-digest sketch certification
 *  - q67_corpus_digest commutative md5-prefix corpus checksum
 *  - q68_oov_rate      tokenizer-coverage OOV rate vs top-V vocab
 *  - q69_source_overlap pairwise source vocabulary Jaccard matrix
 *  - q70_dup_best      exact dedup keeping the best-quality copy
 *  - q71_dsir_weight   DSIR importance weights vs a target domain
 *  - q72_vocab_curve   vocabulary coverage sizing curve
 *  - q73_quality_z     within-source z-score standardization
 *  - q74_containment   graded n-gram containment vs a benchmark
 *  - q75_funnel        ordered multi-step funnel over events
 *  - q76_topk_lang     per-group top-k (WindowGroupLimit pruning)
 *  - q77_detect_roles  column-role detection end to end (D2-D5, D7/D8)
 *  - q78_winnow_fingerprint winnowing (MOSS) fingerprint summary
 *  - q79_tfidf_keywords top-k TF-IDF keywords per document
 *  - q80_lexical_diversity TTR / hapax fraction / unigram entropy
 *  - q81_dup_clusters  near-dup cluster assignment (LSH + closure)
 *  - q82_csv_roundtrip sniffing CSV IO round-trip digest (S2/S5-S7/S11)
 *  - q83_emoji_substitute emoji/emoticon -> word substitution (S9/U10u)
 *  - q84_wordlist_sink word-list text sink round-trip (S3/S12)
 *  - q85_json_roundtrip JSON IO round-trip digest (S1/S8/S11)
 *  - q86_sentence_sentiment per-sentence backend surface (U5u-U7u/U9u)
 *  - q87_clean_stem    stem-then-clean chain digest (U2u)
 *  - q88_shard_order   deterministic training-order sharding summary
 *  - q89_semantic_decon embedding-space benchmark decontamination
 *  - q90_image_decode  REAL P6 decode/feature/resize under oracle
 *
 * Scale notes (100 TB design intent):
 *  - dimension sides (region/nation/supplier/customer at TPC-H ratios)
 *    are broadcast explicitly so the fact scan never shuffles for them;
 *  - all aggregates are partial+final hash aggregates (map-side combine);
 *  - filters/projections are plain Column expressions so parquet gets
 *    PushedFilters + pruned ReadSchema;
 *  - every query orders its (small, post-aggregate) output only at the
 *    very end — the sort is on grouped results, not the fact table.
 */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.parquet carries TIMESTAMP(NANOS), which Spark 4 only reads
    * with `spark.sql.legacy.parquet.nanosAsLong=true` (set in Verify/
    * Bench sessions); convert the long nanos back to a timestamp here. */
  private def events(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.nanosToTimestamp(t(spark, dir, "events"))

  /** TPC-H Q1 shape: scan-heavy multi-aggregate over lineitem. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Fact-to-dimension equi-join; dimension broadcast (no fact shuffle). */
  def q2JoinAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .join(broadcast(t(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        round(sum("o_totalprice"), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")

  /** Predicate + projection; both must reach the parquet scan. */
  def q3FilterProject(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** Word frequency across the corpus (ref A4, DataFrame hash agg). */
  def q4WordFreq(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
      .orderBy(desc("n"), asc("word"))

  /** The reference cleaning chain as the native `graft_clean` kernel
    * (codegen; the oracle replays the regex chain). */
  def q5CleanText(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    t(spark, dir, "documents")
      .select(col("doc_id"),
        ColumnBridge.column(graft.plans.CleanTextExpression(
          ColumnBridge.expression(col("text")))).as("cleaned"))
      .orderBy("doc_id")
  }

  /** Distinct values of a low-cardinality column. */
  def q6Distinct(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select("event_type").distinct()
      .orderBy("event_type")

  /** Per-source average word count — the detection aggregate (D2/A1). */
  def q7AvgWordCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy("source")
      .agg(round(avg(size(split(col("text"), " "))), 4).as("avg_words"))
      .orderBy("source")

  /** Exact-dedup stats: distinct normalized text per language. */
  def q8DedupExact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(lower(col("text"))).as("n_unique"))
      .orderBy("lang")

  /** Hourly tumbling aggregation over events (batch form of streaming). */
  def q9EventsHourly(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("hour",
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm"))
      .groupBy("event_type", "hour")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("event_type", "hour")

  /** Top-10 customers by revenue; sort happens post-aggregate only. */
  def q10TopK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(
        round(sum("o_totalprice"), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(desc("revenue"), asc("o_custkey"))
      .limit(10)

  /** Per-document token/char stats (text-analysis extension). */
  def q11TextStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("text_len"))
      .orderBy("doc_id")

  /** Null-safe `<=>` equi-join exactly as the reference's J1. */
  def q12NullSafeJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") <=> col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("o_orderstatus")

  /** Built-in Levenshtein expression (ref F7's memoized Scala version is
    * kept for inside-UDF use; column-level uses the codegen built-in). */
  def q13Levenshtein(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .select(
        col("p_partkey"),
        levenshtein(col("p_brand"), col("p_type")).cast("long").as("dist"))
      .orderBy("p_partkey")

  /** Exact-match word-score (U3's deterministic core): explode ->
    * broadcast dictionary join -> per-doc aggregate. */
  def q15WordScoreExact(spark: SparkSession, dir: String): DataFrame =
    graft.wordscore.WordScore
      .exactScore(t(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Full word-score path (U3+U4): clean -> score UDF with stem/dedup/
    * fuzzy fallback. Not SQL-expressible (fuzzy Levenshtein ladder) —
    * registered without an oracle entry (rows-only check); pinned by
    * unit tests instead. */
  def q16WordScoreFull(spark: SparkSession, dir: String): DataFrame = {
    val cleaned = TextClean.cleanSource(
      t(spark, dir, "documents"), "text", "filtered", stem = false)
    graft.wordscore.WordScore.score(cleaned, "filtered", "computed")
      .select(col("doc_id"), round(col("computed"), 4).as("computed"))
      .orderBy("doc_id")
  }

  /** Exact dedup (keep min id per normalized text), grouped by lang. */
  def q17DedupExactRows(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.exact(t(spark, dir, "documents"), "doc_id", "text")
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .orderBy("lang")

  /** Unigram Jaccard pairs within a source block (inverted-index join
    * — the oracle-checkable core of near-dup detection), under the
    * DERIVED per-block document-frequency cap
    * ([[graft.ops.Dedup.autoMaxDf]]: stopword-grade tokens — present
    * in > max(64, 4*sqrt(blockDocs)) docs of their block — are dropped
    * before the candidate join, bounding any one token's pair fanout
    * linearly in block size). The cap arithmetic is part of the
    * contract: the oracle replays the same block counts, df census,
    * and greatest/ceil/sqrt cap in SQL, so the gate certifies the
    * derivation end-to-end, not just the capped Jaccard. */
  def q18JaccardPairs(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.jaccardPairsWithin(
      t(spark, dir, "documents"), "doc_id", "text", "source",
      n = 1, threshold = 0.5, maxDf = graft.ops.Dedup.AutoDf)
      .orderBy("id_a", "id_b")

  /** Per-document text-quality profile (oracle-checkable subset). */
  def q19TextProfile(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextStats.profile(t(spark, dir, "documents"), "doc_id", "text")
      .select("doc_id", "n_tokens", "n_chars", "mean_token_len",
        "punct_ratio", "stopword_ratio")
      .orderBy("doc_id")

  /** Embedding vector stats (dims + L2 norm). */
  def q20VectorStats(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SimSearch.vectorStats(
      t(spark, dir, "embeddings"), "vec_id", "embedding")
      .orderBy("vec_id")

  /** Exact cosine top-10 neighbors of vec_id 0 (brute-force baseline). */
  def q21KnnExact(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SimSearch.cosineTopK(
      t(spark, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10)

  /** MinHash-LSH near-dup candidate pairs (banded; rows-only check —
    * the banding is not SQL-expressible; plan asserted cartesian-free
    * in OpsSpec). The corpus plants ~25 pairs at J~0.99, so the 0.7
    * threshold retrieves exactly the planted near-dups. */
  def q22MinhashPairs(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.minhashPairs(
      t(spark, dir, "documents"), "doc_id", "text",
      shingleSize = 3, numHashes = 12, bands = 4, threshold = 0.7)
      .orderBy("id_a", "id_b")

  /** SimHash near-dup pairs (banded chunks). Oracle-checked: the
    * banding guarantees completeness for Hamming <= 3 (pigeonhole), so
    * the output contract is the brute-force pair set, which DuckDB
    * replays by re-deriving fnv1a64 + bit votes in SQL. */
  def q23SimhashPairs(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SimHash.nearDupPairs(
      t(spark, dir, "documents"), "doc_id", "text", maxHamming = 3)
      .orderBy("id_a", "id_b")

  /** SRP-LSH approximate top-10 neighbors of vec_id 0 (rows-only; the
    * exact baseline q21 is the oracle-checked ground truth). */
  def q24AnnLsh(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SimSearch.annLshTopK(
      t(spark, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10, bits = 8, seed = 42L)

  /** IVF ANN (KMeans coarse quantizer + nprobe rerank; rows-only —
    * q21 is the exact ground truth, recall pinned in OpsSpec). */
  def q27AnnIvf(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SimSearch.ivfTopK(
      t(spark, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10, nlist = 16, nprobe = 4)

  /** Embedding-cosine near-dup pairs (SRP-bucketed + multi-probe,
    * exact-cosine verify). The fixture's vectors are near-orthogonal
    * (max pairwise cosine ~0.51), so duplicates are planted: the
    * corpus is unioned with id-shifted copies of itself and the
    * operator must recover exactly those copy pairs at cosine 1.0.
    * Rows-only (LSH recall semantics pinned in OpsSpec); expected row
    * count = corpus size. */
  def q30CosineNearDup(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val copies = emb.select(
      (col("vec_id") + lit(1000000)).as("vec_id"), col("embedding"))
    graft.ops.SimSearch.cosineNearDupPairs(
      emb.select("vec_id", "embedding").union(copies),
      "vec_id", "embedding", threshold = 0.99, bits = 8)
      .orderBy("id_a", "id_b")
  }

  /** Sliding-window aggregate (1h window, 30min slide) — the batch
    * form of the streaming extension's sliding windows, oracle-checked
    * (each event lands in exactly two windows). */
  def q28EventsSliding(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.sliding(events(spark, dir), "1 hour", "30 minutes")
      .orderBy("window_start", "event_type")

  /** Gap-based session windows per user (10 min), oracle-checked
    * against a lag-over-window SQL formulation. (Boundary note: a gap
    * of exactly 10:00.000000 MERGES in both engines — session_window
    * coalesces touching intervals, and the oracle's strict
    * `delta > gap` split rule keeps equality in-session; pinned by
    * EventStreamsSpec's exact-gap fixture rather than left to the
    * microsecond-random fixtures to dodge.) */
  def q29UserSessions(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.sessions(events(spark, dir), "10 minutes")
      .select(col("user_id"), col("session_start"), col("n_events"))
      .orderBy("user_id", "session_start")

  /** MLlib training (M3-M7): static LogisticRegression over documents
    * labelled by lang; returns (classifier, label_column, precision).
    * Not SQL-expressible — rows-only; semantics pinned in MLSpec. */
  def q25MlTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents").select("text", "lang")
    val r = graft.ml.SentimentML.train(docs, "text", "logistic-static")
    Seq((r.name, r.labelColumn, math.rint(r.precision * 10000) / 10000))
      .toDF("classifier", "label_column", "precision")
  }

  /** Word-score-list training (A4/A5/J2/U2): per-category vocabulary
    * (CountVectorizer minDF=5) with >2-category overlap removed.
    * Category codes follow sorted label order (Detection.convert). */
  def q26ScoreList(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents").select("text", "lang")
    val lists = graft.wordscore.ScoreListTrainer.train(docs, "text")
    lists.toSeq.map { case (c, ws) => (c, ws.length.toLong) }
      .sortBy(_._1)
      .toDF("category", "n_words")
  }

  /** As-of (point-in-time) join: each purchase event picks up the most
    * recent prior view-event value of the same user — the feature-
    * lookup shape Spark lacks natively, implemented as union + running
    * last over one key shuffle (no per-key cartesian). Oracle: DuckDB's
    * native ASOF LEFT JOIN. */
  def q31AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val left = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val right = ev.filter(col("event_type") === "view")
      .select("user_id", "ts", "value")
    graft.ops.AsofJoin.asof(left, right, "user_id", "ts", "value",
      "prior_view_value")
      .select(col("event_id"), col("user_id"),
        round(col("prior_view_value"), 2).as("prior_view_value"))
      .orderBy("event_id")
  }

  /** Bounded-interval range join: per purchase, count/sum the same
    * user's view events in the preceding 30 minutes (attribution
    * window). Bin-bucketed equi-join — see [[graft.ops.RangeJoin]];
    * oracle is the plain DuckDB theta-join. */
  def q32RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val views = ev.filter(col("event_type") === "view")
      .select("user_id", "ts", "value")
    val pairs = graft.ops.RangeJoin.pairsWithin(
      purchases, views, "user_id", "ts", windowMicros = 30L * 60 * 1000000)
    val agg = pairs.groupBy("event_id").agg(
      count(lit(1)).as("n_prior_views"),
      round(sum("value"), 2).as("sum_view_value"))
    purchases.join(agg, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n_prior_views"), lit(0L)).as("n_prior_views"),
        coalesce(col("sum_view_value"), lit(0.0)).as("sum_view_value"))
      .orderBy("event_id")
  }

  /** Composite text-quality score + language-ID guess per document —
    * the two TextStats signals q19 doesn't cover, both deterministic
    * arithmetic/argmax over oracle-replicable token stats. */
  def q33TextQuality(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"),
      graft.ops.TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
      graft.ops.TextStats.qualityScore(col("text")).as("quality"),
      graft.ops.TextStats.langId(col("text")).as("lang_guess"))
      .orderBy("doc_id")

  /** Context-length chunking: 64-token chunks, 16-token overlap (step
    * 48) — the LLM-training prep step, token-exact against a DuckDB
    * list-slicing oracle. */
  def q34Chunks(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Chunk.explodeChunks(
      t(spark, dir, "documents"), "doc_id", "text", size = 64, overlap = 16)
      .orderBy("doc_id", "chunk_id")

  /** Int8 scalar quantization digest per embedding — exact integer
    * sum/min/max of the quantized vector + rounded scale, so the
    * whole quantization is hash-checked against DuckDB. */
  def q35Quantize(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SimSearch.quantizeDigest(
      t(spark, dir, "embeddings"), "vec_id", "embedding")
      .orderBy("vec_id")

  /** Leakage-safe 80/10/10 split of documents grouped by source
    * (md5-bucketed, engine-portable): per-split doc and source counts.
    * The n_sources column IS the leakage check — each source appears
    * in exactly one split on both engines or the hashes differ. */
  def q36Splits(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Splits.assign(t(spark, dir, "documents"), "source")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("split")

  /** Benchmark decontamination report: docs sharing any 5-gram with
    * the benchmark slice (doc_id % 10 == 0 stands in for an eval set),
    * with distinct shared-gram counts. The fixture's planted near-dup
    * pairs are exactly what it must catch across the split. */
  def q37Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val benchmark = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    graft.ops.Decontaminate.contaminationReport(
      corpus, benchmark, "doc_id", "text", n = 5)
      .orderBy("doc_id")
  }

  /** Gopher-style repetition stats per document (distinct-word ratio,
    * top-word fraction, duplicate-2-gram fraction). */
  def q38Repetition(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextStats.repetitionStats(
      t(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Corpus top-20 trigrams by document frequency (boilerplate
    * discovery / vocabulary aggregate). */
  def q39GramTopDf(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextStats.topGramsByDocFreq(
      t(spark, dir, "documents"), "text", n = 3, k = 20)

  /** Per-cluster embedding centroid digest (cluster = vec_id % 8):
    * element-wise means as one narrow (cluster, pos) aggregate. */
  def q40Centroids(spark: SparkSession, dir: String): DataFrame =
    graft.ops.VectorAgg.centroidDigest(
      t(spark, dir, "embeddings").withColumn("cluster", col("vec_id") % 8),
      "cluster", "embedding")
      .orderBy("cluster")

  /** PII redaction: the fixture corpus carries no PII, so each doc is
    * planted with a synthetic email + URL + IPv4 derived from its id;
    * the operator must count and redact all three (engine-portable
    * regex subset — oracle replays the same patterns in RE2). */
  def q41Redact(spark: SparkSession, dir: String): DataFrame = {
    val planted = t(spark, dir, "documents").select(
      col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or http://ex.com/"), col("doc_id").cast("string"),
        lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".7")).as("text"))
    graft.ops.Redact.redact(planted, "text",
      Seq(graft.ops.Redact.Email, graft.ops.Redact.Url, graft.ops.Redact.Ipv4))
      .select(col("doc_id"), col("n_email"), col("n_url"), col("n_ip"),
        col("text_redacted"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified sample: md5-ranked top-10 docs per
    * source (the per-source quota op for corpus mixing). */
  def q42Stratified(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sample.stratifiedTopN(
      t(spark, dir, "documents"), "source", "doc_id", n = 10)
      .select("doc_id", "source")
      .orderBy("source", "doc_id")

  /** Rate-based source mixing: downsample src0 to 50% and src1 to 25%
    * (hash-deterministic, not probabilistic), per-source survivors. */
  def q43RateMix(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sample.byRates(
      t(spark, dir, "documents"), "source", "doc_id",
      rates = Map("src0" -> 0.5, "src1" -> 0.25))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source")

  /** Per-source token-length distribution (exact p50/p90/p99, min,
    * max) — the corpus profile behind context-length choices. */
  def q44LengthProfile(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextStats.lengthProfile(
      t(spark, dir, "documents"), "source", "text")
      .orderBy("source")

  /** Multimodal plumbing digest: documents' text bytes wrapped as
    * binary payloads -> blob schema -> mapPartitions feature kernel
    * (16-bin byte histogram) + metadata-only projection. Digests are
    * exact integers (histogram fraction x payload length recovers the
    * bin count; float error < 0.5 always rounds away), so the whole
    * decode-plumbing path is hash-checked against DuckDB. Bins over
    * ASCII text: bin 2 = space (0x20), bins 6-7 = lowercase letters. */
  def q45Multimodal(spark: SparkSession, dir: String): DataFrame = {
    val blobs = graft.ops.Multimodal.asBlobTable(
      t(spark, dir, "documents").select("doc_id", "text"),
      "doc_id", "text", "text/plain")
    val meta = graft.ops.Multimodal.metadataOnly(blobs)
      .select("blob_id", "payload_bytes")
    val feats = graft.ops.Multimodal.extractFeatures(blobs, bins = 16)
    def binCount(bin: Int) =
      round(element_at(col("features"), bin + 1).cast("double") *
        col("payload_bytes")).cast("long")
    feats.join(meta, Seq("blob_id"))
      .select(col("blob_id"), col("payload_bytes"),
        binCount(2).as("n_space"),
        binCount(6).as("n_bin6"),
        binCount(7).as("n_bin7"))
      .orderBy("blob_id")
  }

  /** Sequence packing digest: q34's 64/16 chunks packed into 512-token
    * packs per source (contiguous greedy fill; at most one straddling
    * chunk of overshoot per pack). */
  def q46Packing(spark: SparkSession, dir: String): DataFrame = {
    // `source` rides through the chunker (carryCols) — re-joining the
    // parent table on doc_id would shuffle the whole chunk set twice
    val chunks = graft.ops.Chunk.explodeChunks(
      t(spark, dir, "documents"), "doc_id", "text", size = 64, overlap = 16,
      carryCols = Seq("source"))
    graft.ops.Pack.packDigest(chunks, "source",
      Seq("doc_id", "chunk_id"), "n_chunk_tokens", budget = 512)
      .orderBy("source", "pack_id")
  }

  /** q37's contamination report computed through the broadcast
    * Bloom-filter prefilter — same fixture split, same oracle (the
    * exact verify join makes the bloom path's output bit-identical),
    * exercising the map-only prefilter shape end-to-end. */
  def q47BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val benchmark = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    graft.ops.Decontaminate.contaminationReportViaBloom(
      corpus, benchmark, "doc_id", "text", n = 5)
      .orderBy("doc_id")
  }

  /** Incremental near-dup pairs: even doc_ids are the historical
    * corpus, odd the new ingest batch — output is every near-dup pair
    * touching the new batch (old x old pairs, found when those batches
    * landed, are never re-derived). The planted near-dups at J >= 0.9
    * make the contract exact-Jaccard-expressible like q22. */
  def q48IncrementalMinhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val oldBatch = docs.filter(col("doc_id") % 2 === 0)
    val newBatch = docs.filter(col("doc_id") % 2 =!= 0)
    graft.ops.Dedup.minhashPairsIncremental(
      newBatch, oldBatch, "doc_id", "text",
      shingleSize = 3, numHashes = 12, bands = 4, threshold = 0.7)
      .orderBy("id_a", "id_b")
  }

  /** Batch ANN: vec_ids 0-4 as the query set, the rest as corpus —
    * per-query cosine top-5 through one bucket equi-join against the
    * SRP index (the amortized serving shape; q24 is single-query). */
  def q49AnnBatch(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    graft.ops.SimSearch.annLshTopKBatch(
      corpus = emb.filter(col("vec_id") >= 5),
      queries = emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 5, bits = 8, seed = 42L)
      .orderBy(col("query_id"), desc("cosine"), col("vec_id"))
  }

  /** Key-skew diagnostic on the events fact: top-10 users by row
    * count with corpus share and skew ratio — the report that decides
    * salting/bucketing for a key before a 100 TB join. */
  def q50SkewReport(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Layout.keySkewReport(
      events(spark, dir), "user_id", k = 10)

  /** Exact novelty gate, batch form: odd-id docs are the incoming
    * batch, even-id docs the historical corpus; output = incoming docs
    * whose normalized text is not already in the corpus (the md5 key
    * makes the contract engine-portable — same SQL in the oracle). */
  def q51NovelDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    graft.ops.Novelty.exactNovel(
      docs.filter(col("doc_id") % 2 =!= 0),
      docs.filter(col("doc_id") % 2 === 0),
      "text")
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** Unigram log-prob quality proxy: every doc scored under the
    * corpus' own unigram model (CCNet-style perplexity-filter shape). */
  def q52UnigramLogprob(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextStats.unigramLogProb(
      t(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** SemDeDup semantic near-dup pairs on the q30 planted-copy corpus:
    * KMeans cells + within-cell cosine — must recover exactly the
    * brute-force >= 0.99 pair set (copies share a cell by
    * construction).
    *
    * Scale contract: `nlist` is DERIVED from the corpus size
    * ([[graft.ops.SimSearch.autoNlist]]: cells grow linearly so the
    * within-cell quadratic term stays constant per cell — at this
    * fixture the floor of 16 governs, matching the hand-tuned value
    * the query used before the derivation existed); at production
    * sizes also pass `sampleFraction` so the KMeans fit trains on a
    * sample instead of the full corpus. The per-cell load bound is
    * asserted by OpsSpec ("ivfFit cells bound the per-cell quadratic
    * on a clustered corpus"); the derivation is pinned there too. */
  def q53SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val copies = emb.select(
      (col("vec_id") + lit(1000000)).as("vec_id"), col("embedding"))
    graft.ops.SimSearch.semanticDedupPairs(
      emb.select("vec_id", "embedding").union(copies),
      "vec_id", "embedding", threshold = 0.99)
      .orderBy("id_a", "id_b")
  }

  /** JL random-projection digest: every embedding projected 64->8 dims
    * through the seeded Gaussian matrix, digested as (first component,
    * L2 norm, sum) — the shuffle-width-reduction step before indexing. */
  def q54Project(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SimSearch.projectDigest(
      t(spark, dir, "embeddings"), "vec_id", "embedding",
      outDim = 8, seed = 42L)
      .orderBy("vec_id")

  /** Cross-table similarity lookup: the top-5 documents most similar
    * to doc 0 by embedding cosine, carrying their text-table metadata —
    * the end-to-end "find me documents like this one" composition
    * (exact top-k over embeddings ⋈ broadcast-joined back to the
    * documents table; doc_id == vec_id in the fixture). */
  def q55SimilarDocs(spark: SparkSession, dir: String): DataFrame = {
    val top = graft.ops.SimSearch.cosineTopK(
      t(spark, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 5)
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"))
    top.join(docs, top("vec_id") === docs("doc_id"))
      .select(col("vec_id"), col("cosine"), col("lang"), col("source"))
      .orderBy(desc("cosine"), col("vec_id"))
  }

  /** Per-column data-quality profile of the orders table (exact
    * distincts for the oracle; integer/string columns so min/max
    * string rendering agrees across engines — doubles/timestamps
    * format differently and are profiled but not oracle-compared). */
  def q56SchemaProfile(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.schemaReport(
      t(spark, dir, "orders"),
      cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
      exactDistinct = true)
      .orderBy("column")

  /** The flagship curation composition, end to end: all ten
    * [[graft.ops.Curate.standard]] stages active — exact + near
    * novelty vs a historical slice, quality/repetition/LM gates,
    * exact/near/semantic dedup (embeddings joined in; doc_id == vec_id
    * in the fixture), decontamination, split assignment. Output is the
    * per-stage survivor report (the monitoring surface a production
    * run logs). Rows-only contract: the MinHash-LSH and KMeans stages
    * are not SQL-expressible, but every count is deterministic
    * (seeded/md5 kernels throughout) and the composition is pinned
    * end-to-end by OpsSpec. */
  def q57Curate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents")
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val hist = docs.filter(col("doc_id") % 5 === 0)
    val input = docs.filter(col("doc_id") % 5 =!= 0)
      .join(emb, Seq("doc_id"))
    val benchmark = docs.filter(col("doc_id") % 101 === 0)
    // fpp tightened from the 1e-3 default so the oracle's exact band-
    // collision replay holds: at 1e-6 the expected Bloom false-drop
    // count across the fixture's ~1600 probes is ~4e-4 (the SQL replay
    // has no Bloom, so a false positive would shift a stage count)
    val bandIdx = graft.ops.Novelty.fitBandIndex(hist, "text", fpp = 1e-6)
    val (out, report) = graft.ops.Curate.standard(
      input, benchmark,
      historicalCorpus = Some(hist),
      bandIndex = Some(bandIdx),
      maxAvgNegLogp = Some(9.0),
      semanticVecCol = Some("embedding"),
      semanticThreshold = 0.99,
      semanticNlist = 16)
    out.unpersist()
    report.stats.zipWithIndex
      .map { case (s, i) => (i, s.name, s.rows, s.idsDigest) }
      .toDF("stage_idx", "stage", "n_rows", "ids_digest")
      .orderBy("stage_idx")
  }

  /** Repeated-substring masking (Lee et al. 2022 sub-document dedup):
    * every 5-word span present in >= 2 documents (the paper's "any
    * duplicated substring" default) is boilerplate and is masked out
    * of every document's (normalized) text. Census pass is a map-side-
    * combining hash aggregate; masking is a per-row kernel against the
    * doc's own (tiny) hot-span list — corpus text never shuffles. */
  def q58SpanMask(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SpanDedup.maskRepeatedSpans(
      t(spark, dir, "documents"), "doc_id", "text", n = 5, minDocFreq = 2)
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id")

  /** Cohort retention over the event stream: users grouped by their
    * first-activity day, counted once per (cohort, day-offset) they
    * return on — the standard engagement matrix. Two narrow hash
    * aggregates + one equi-join on user_id; the distinct collapses
    * map-side before the count. */
  def q59Retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val firstDay = ev.groupBy(col("user_id"))
      .agg(min(col("d")).as("cohort"))
    ev.join(firstDay, Seq("user_id"))
      .select(col("cohort"),
        // long, matching DuckDB date_diff's BIGINT for the hash compare
        datediff(col("d"), col("cohort")).cast("long").as("day_offset"),
        col("user_id"))
      .distinct()
      .groupBy(col("cohort"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .withColumn("cohort", date_format(col("cohort"), "yyyy-MM-dd"))
      .orderBy("cohort", "day_offset")
  }

  /** Pivoted corpus composition matrix: documents per source x
    * language, the wide-format monitoring view. `pivot` with an
    * EXPLICIT value list — one pass, no second distinct-values job,
    * and the output schema is static (required at scale AND by the
    * oracle contract). */
  /** The documents fixture's language domain — shared by q60 (pivot
    * value list), q63 (unpivot column list), and BOTH their oracle
    * VALUES lists; change all four together. */
  private[graft] val langs = Seq("de", "en", "es", "fr", "zh")

  def q60LangPivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(col("source"))
      .pivot("lang", langs)
      .agg(count(lit(1)))
      .na.fill(0L, langs)
      .orderBy("source")

  /** Rolling 7-day activity per event type: pre-aggregate to one row
    * per (type, day), THEN a ROWS-frame window over the tiny daily
    * frame — the window never sees raw events (a rolling window
    * directly over the event stream would sort the whole fact table;
    * the pre-agg form's window input is |types| x |days| rows). */
  def q61RollingDaily(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("__sv"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(-6, 0)
    daily
      .withColumn("n_7d", sum(col("n")).over(w))
      .withColumn("value_7d", round(sum(col("__sv")).over(w), 2))
      .select(col("event_type"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("n"), col("n_7d"), col("value_7d"))
      .orderBy("event_type", "day")
  }

  /** Collocation mining: adjacent-word PMI over the corpus (see
    * [[graft.ops.TextStats.collocationPmi]] for the scale shape). */
  def q62Collocations(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextStats.collocationPmi(
      t(spark, dir, "documents"), "text", minCount = 10)
      .orderBy(desc("pmi"), col("word_a"), col("word_b"))

  /** Unpivot (melt) — the inverse of q60's pivot: the wide source x
    * language matrix back to long (source, lang, n_docs) rows,
    * zero-count combinations included. `Dataset.unpivot` is map-only
    * (each wide row emits |values| long rows; no shuffle beyond the
    * final order). */
  def q63LangUnpivot(spark: SparkSession, dir: String): DataFrame =
    q60LangPivot(spark, dir)
      .unpivot(Array(col("source")), langs.map(col).toArray, "lang", "n_docs")
      .orderBy("source", "lang")

  /** Per-source quality-percentile gate: score every doc with the
    * composite heuristic, keep each source's docs at or above the
    * source's own median — percentile filtering normalized per group
    * so a low-quality source cannot flood the gate. Threshold
    * comparison happens on the 3-decimal ROUNDED score, the same
    * granularity the cross-engine contract guarantees (q33). */
  def q64QualityGate(spark: SparkSession, dir: String): DataFrame = {
    val scored = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        graft.ops.TextStats.qualityScore(col("text")).as("quality"))
    graft.ops.Sample.aboveGroupQuantile(scored, "source", "quality", 0.5)
      .select(col("doc_id"), col("source"), col("quality"))
      .orderBy("doc_id")
  }

  /** Rollup: revenue by (region, nation) with nation subtotals, region
    * subtotals, and a grand total in ONE pass — `rollup` compiles to a
    * single expand+aggregate, not one job per grouping set. `lvl` is
    * the grouping-id bitmask disambiguating subtotal rows from data
    * rows (NULL dimension values appear in both roles otherwise). */
  def q65Rollup(spark: SparkSession, dir: String): DataFrame =
    starFrame(spark, dir)
      .rollup(col("r_name"), col("n_name"))
      .agg(
        grouping_id().as("lvl"),
        count(lit(1)).as("n_rows"),
        revenue)
      .orderBy(col("lvl"), col("r_name").asc_nulls_first,
        col("n_name").asc_nulls_first)

  /** Per-source corpus-version digest: order/partition-independent
    * content checksum (sum of 60-bit md5 row prefixes) — the
    * reproducibility record for "same corpus version?" checks. */
  def q67CorpusDigest(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.corpusDigest(
      t(spark, dir, "documents"), "source",
      Seq("doc_id", "text", "lang"))
      // digest as STRING for the verify boundary: the DECIMAL(38,0)
      // sum is exact, but numeric transports that narrow to float64
      // (pandas) drop the low digits — r7 hash-fail fix
      .withColumn("digest", col("digest").cast("string"))
      .orderBy("source")

  /** Approximate-sketch contract: per event type, HLL distinct users
    * (`approx_count_distinct`, mergeable — THE count-distinct at
    * 100 TB) and t-digest median value (`approx_percentile`) checked
    * in-query against their exact forms. The exact values are
    * oracle-compared outright; the sketch results ride as contract
    * booleans (within 2% / 5%) because no other engine reproduces
    * Spark's sketch internals bit-for-bit — same style as q27's
    * recall-1.0 contract. */
  def q66ApproxSketch(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    // TWO aggregations joined on the tiny type domain, NOT one agg
    // mixing countDistinct with plain aggs: the mixed form compiles to
    // an Expand that doubles every event row through the shuffle. The
    // user side pre-dedupes (event_type, user_id) — partial map-side,
    // so mostly-repeat users collapse before shuffling — and the HLL
    // runs on the deduped frame (HLL sketch state is EXACTLY duplicate-
    // insensitive, so the estimate is bit-identical to the multiset
    // form). The value side keeps the percentile pair over raw rows.
    // NULL parity with the single-agg form this replaced: countDistinct
    // excluded NULL user_ids, so the deduped count must too (count(1)
    // over the distinct frame would include one NULL row per type).
    // The join DRIVES FROM the value side: vals has a row for every
    // event_type group (NULL included, via the null-safe key), while
    // the user side's isNotNull filter removes a group whose user_ids
    // are ALL NULL entirely — a left join + coalesce-to-0 keeps that
    // group with n_exact=0, exactly what count(DISTINCT user_id)=0
    // yields in the single-agg form and the oracle (the q151
    // latent-null class). Fixture has no NULLs today; the semantics
    // must not depend on that.
    val users = ev.select(col("event_type"), col("user_id"))
      .where(col("user_id").isNotNull).distinct()
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_exact"),
        // rsd 0.5% so the 2% contract bound is a 4-sigma margin at any
        // cardinality (the default 5% rsd would make 2% a coin flip)
        approx_count_distinct(col("user_id"), 0.005).as("__hll"))
    val vals = ev.groupBy(col("event_type").as("__vt"))
      .agg(
        percentile(col("value"), lit(0.5)).as("__p50x"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("__p50a"))
    vals.join(users, col("__vt") <=> col("event_type"), "left")
      .select(col("__vt").as("event_type"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        (abs(coalesce(col("__hll"), lit(0L)) -
          coalesce(col("n_exact"), lit(0L))) <=
          coalesce(col("n_exact"), lit(0L)) * lit(0.02)).as("hll_ok"),
        (abs(col("__p50a") - col("__p50x")) <=
          abs(col("__p50x")) * lit(0.05)).as("p50_ok"))
      .orderBy("event_type")
  }

  /** Per-doc out-of-vocabulary rate vs the corpus' own top-500 token
    * vocabulary (see [[graft.ops.TextStats.oovRate]] for the broadcast
    * vocab / skew-free tf shape). */
  def q68OovRate(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextStats.oovRate(
      t(spark, dir, "documents"), "doc_id", "text", vocabSize = 500)
      .orderBy("doc_id")

  /** Pairwise source vocabulary-overlap matrix (exact Jaccard over
    * distinct token sets — [[graft.ops.Profile.overlapMatrix]]). */
  def q69SourceOverlap(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.overlapMatrix(
      t(spark, dir, "documents"), "source", "text")
      .orderBy("source_a", "source_b")

  /** Quality-aware exact dedup: among docs sharing a normalized text,
    * keep the HIGHEST-quality copy (ties → smallest id), not the
    * first-by-id one — [[graft.ops.Dedup.exactKeepBest]] with the q33
    * composite score as the ranking. */
  def q70DupBest(spark: SparkSession, dir: String): DataFrame = {
    val scored = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        graft.ops.TextStats.qualityScore(col("text")).as("quality"))
    graft.ops.Dedup.exactKeepBest(scored, "doc_id", "text", "quality")
      .select(col("doc_id"), col("lang"), col("quality"))
      .orderBy("doc_id")
  }

  /** DSIR-style importance weights vs the English-docs target domain
    * ([[graft.ops.TextStats.importanceWeights]]). */
  def q71DsirWeight(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextStats.importanceWeights(
      t(spark, dir, "documents"), "doc_id", "text",
      isTarget = col("lang") === "en")
      .orderBy("doc_id")

  /** Vocabulary coverage curve at candidate sizes (fraction of token
    * instances the top-V words cover —
    * [[graft.ops.TextStats.vocabCoverage]]). */
  def q72VocabCoverage(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextStats.vocabCoverage(
      t(spark, dir, "documents"), "text",
      vocabSizes = Seq(100, 500, 1000, 5000))
      .orderBy("vocab_size")

  /** Per-source z-score standardization of the quality score
    * ([[graft.ops.Sample.standardizeWithinGroup]]) — cross-source
    * comparable quality. */
  def q73QualityZscore(spark: SparkSession, dir: String): DataFrame = {
    val scored = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        graft.ops.TextStats.qualityScore(col("text")).as("quality"))
    graft.ops.Sample.standardizeWithinGroup(scored, "source", "quality")
      .select(col("doc_id"), col("source"), col("quality"), col("z"))
      .orderBy("doc_id")
  }

  /** Per-doc 5-gram containment ratio vs the q37 benchmark slice
    * ([[graft.ops.Decontaminate.containmentScores]]) — the graded
    * novelty signal (clean docs at 0.0). */
  def q74Containment(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    graft.ops.Decontaminate.containmentScores(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 5)
      .orderBy("doc_id")
  }

  /** Ordered funnel conversion over the event stream
    * ([[graft.streaming.EventStreams.funnel]] — sequential
    * first-occurrence semantics, strict ordering). */
  def q75Funnel(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.funnel(
      events(spark, dir), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))
      .orderBy("step")

  /** Per-language top-3 docs by quality ([[graft.ops.Sample.topKPerGroup]]
    * — grouped ranking, WindowGroupLimit-pruned before the exchange). */
  def q76TopKLang(spark: SparkSession, dir: String): DataFrame = {
    val scored = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        graft.ops.TextStats.qualityScore(col("text")).as("quality"))
    graft.ops.Sample.topKPerGroup(scored, "lang", "quality", "doc_id", k = 3)
      // long rank: DuckDB's row_number is BIGINT, Spark's is INT — the
      // schema compare needs them to agree
      .select(col("lang"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("quality"))
      .orderBy("lang", "rank")
  }

  /** Column-role detection end to end (reference `utils/Detection`
    * semantics, SURVEY §2 D2–D5 + D7/D8): resolve the text / index /
    * categorical / value roles of three fixture schemas from one
    * sampled aggregate each, then exercise category extraction (D7)
    * and deterministic categorical encoding (D8) on the categorical
    * column detection itself picked for `orders`. The role rows pin
    * the resolution against a literal-VALUES oracle; the D7/D8 rows
    * are independently derivable in SQL (sorted distinct categories;
    * sum of sorted-order dense codes over the full table), so the
    * encoding contract is replayed, not just trusted. */
  def q77DetectRoles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.schema.Detection
    val tables = Seq(
      "documents" -> t(spark, dir, "documents"),
      // nanos→timestamp first: detection must see ts as a timestamp
      // (excluded from integer roles), not the raw nanos long
      "events" -> events(spark, dir),
      "orders" -> t(spark, dir, "orders"))
    val roleRows = tables.flatMap { case (name, df) =>
      val r = Detection.resolve(df)
      Seq(
        (name, "text", r.text.getOrElse("(none)")),
        (name, "index", r.index.getOrElse("(none)")),
        (name, "categorical", r.categorical.getOrElse("(none)")),
        (name, "value", r.value.getOrElse("(none)")))
    }
    val orders = t(spark, dir, "orders")
    val catCol = Detection.detectCategoricalColumn(orders)
      .getOrElse(sys.error("orders categorical not detected"))
    val cats = Detection.extractStringCategories(orders, catCol)
      .getOrElse(sys.error(s"$catCol not a string column"))
    val (encoded, encName) = Detection.convertCategoricalColumn(orders, catCol)
    val codeSum = encoded.agg(sum(col(encName))).head.getLong(0)
    // W2/D2 REPLAYED (not just pinned): the sampled word-count census
    // behind the text pick, the pick itself (max avg word count with
    // the > 5 guard), and D7 on a second table (documents.lang). The
    // census is SQL-replayable exactly: the per-column word-count sum
    // over the 100-row sample is an integer (exact in double no matter
    // the accumulation order), so avg and the %.4f rendering agree
    // bit-for-bit across engines; both engines take the same first-100
    // sample (single parquet file, both scan in file order).
    val docsDf = tables.head._2
    val sig = Detection.measure(docsDf)
    val censusRows = Detection.stringColumns(docsDf).map { c =>
      ("documents", s"text_census:$c",
        String.format(java.util.Locale.ROOT, "%.4f",
          Double.box(sig.avgWordCount(c))))
    }
    val pickRow = ("documents", "text_pick",
      Detection.detectTextColumn(docsDf, sig).getOrElse("(none)"))
    val langCats = Detection.extractStringCategories(docsDf, "lang")
      .getOrElse(sys.error("lang not a string column"))
    val extraRows = Seq(
      ("orders", s"categories:$catCol", cats.mkString("|")),
      ("orders", s"encoded_sum:$catCol", codeSum.toString),
      ("documents", "categories:lang", langCats.mkString("|")),
      pickRow) ++ censusRows
    (roleRows ++ extraRows).toDF("tbl", "role", "col_name")
      .orderBy("tbl", "role")
  }

  /** Winnowing fingerprint summary per document
    * ([[graft.ops.Fingerprint.summary]], k=8-char grams, w=4 windows)
    * — map-only selection, digest as a decimal string (the q67
    * representation contract). */
  def q78WinnowFingerprint(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Fingerprint.summary(
      t(spark, dir, "documents"), "doc_id", "text", k = 8, w = 4)
      .orderBy("doc_id")

  /** Top-3 TF-IDF keywords per document
    * ([[graft.ops.TextStats.tfidfKeywords]]) — rounded-score ranking,
    * word-ascending tie-break. */
  def q79TfidfKeywords(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextStats.tfidfKeywords(
      t(spark, dir, "documents"), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank")

  /** Per-document lexical diversity (type-token ratio, hapax fraction,
    * unigram entropy — [[graft.ops.TextStats.lexicalDiversity]]). */
  def q80LexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextStats.lexicalDiversity(
      t(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Near-dup cluster assignment for EVERY document
    * ([[graft.ops.Dedup.nearDupClusters]] — q22's LSH pair machinery
    * plus min-label closure; the oracle replays exact-Jaccard pairs
    * and a recursive-CTE closure, the q22/q57 contract). */
  def q81DupClusters(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.nearDupClusters(
      t(spark, dir, "documents"), "doc_id", "text",
      shingleSize = 3, numHashes = 12, bands = 4, threshold = 0.7)
      .select(col("doc_id"), col("cluster_id"))
      .orderBy("doc_id")

  /** CSV round-trip through the FULL sniffing IO path (SURVEY §2 S2 +
    * S5–S7 + S11/S13 end to end): write documents with the
    * format-preserving sink, load them back through extension dispatch
    * + delimiter/escape/header sniffing + schema inference, and emit
    * the q67 corpus digest of what came back. The oracle is the SAME
    * digest computed from the parquet source — lossless round-trip is
    * the contract (the fixture is CSV-clean: no embedded delimiters,
    * quotes, edge whitespace, or nulls; a lossy sniff or a misread
    * header shifts every row hash). Eagerly checkpointed so the temp
    * directory can be deleted before the driver consumes the frame. */
  def q82CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q82_")
    val out = tmp.resolve("documents.csv").toString
    try {
      graft.sources.FormatIO.save("csv", t(spark, dir, "documents"), out,
        overwrite = true)
      val (back, tag) = graft.sources.FormatIO.loadFromPath(out, spark)
        .getOrElse(sys.error("extension dispatch failed for " + out))
      require(tag == "csv", s"dispatch resolved '$tag', expected csv")
      graft.ops.Profile.corpusDigest(back, "source", Seq("doc_id", "text", "lang"))
        .withColumn("digest", col("digest").cast("string"))
        .orderBy("source")
        .localCheckpoint(true)
    } finally {
      // best-effort recursive cleanup of the temp round-trip dir
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** Emoji/emoticon -> word substitution (S9 resource + U10u toWords,
    * ref `utils/Emoji.scala:9-38`): each doc gets a deterministic base
    * emoticon appended (doc_id-picked, so every doc exercises at least
    * one substitution), then the full 914-entry table substitutes
    * token-wise. Oracle replays the substitution in SQL against the
    * FROZEN truth table in [[graft.text.EmojiOracle]] — independently
    * generated from emojis.csv, so a parse regression turns the row
    * red. Map-only at scale: the table rides the closure (a few KB),
    * one narrow pass plus the final orderBy. */
  def q83EmojiSubstitute(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.text.Emoji.fromResourceTable
    val emoticons = graft.text.Emoji.base.keys.toSeq.sorted
    require(emoticons.length == graft.text.EmojiOracle.pickCount,
      s"base emoticon count drifted: ${emoticons.length}")
    val pick = udf((id: Long) => emoticons((id % emoticons.length).toInt))
    val sub = udf((s: String) => graft.text.Emoji.toWords(table)(s))
    val nSub = udf((s: String) =>
      s.split(" ").count(table.contains).toLong)
    t(spark, dir, "documents")
      .withColumn("t2", concat_ws(" ", col("text"), pick(col("doc_id"))))
      .withColumn("subbed", sub(col("t2")))
      .select(col("doc_id"),
        nSub(col("t2")).as("n_subst"),
        md5(col("subbed").cast("binary")).as("sub_digest"),
        element_at(split(col("subbed"), " "), -1).as("appended_word"))
      .orderBy("doc_id")
  }

  /** Word-list sink round-trip (S12 saveWordList + S3 text scan): the
    * distinct >=6-char English vocabulary goes to a one-file text sink
    * and is read back through the format registry; output is the count
    * and an order-canonical digest. The vocabulary collect is a
    * driver-side dictionary by contract (the reference's word lists
    * are in-memory `Seq[String]`, `CreateScoreList` shape) — bounded
    * by vocabulary size, not corpus size. */
  def q84WordlistSink(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_q84_")
    val dest = tmp.resolve("wordlist.txt").toString
    try {
      val words = t(spark, dir, "documents")
        .where(col("lang") === "en")
        .select(explode(split(lower(col("text")), "\\s+")).as("w"))
        .where(length(col("w")) >= 6)
        .distinct()
        .orderBy("w")
        .as[String].collect().toSeq
      graft.sources.FormatIO.saveWordList(words, dest, spark)
      val (back, tag) = graft.sources.FormatIO.loadFile(Some("txt"), dest, spark)
        .getOrElse(sys.error("text load failed for " + dest))
      require(tag == "txt", s"load resolved '$tag', expected txt")
      back.agg(
        count(lit(1)).as("n_words"),
        md5(array_join(array_sort(collect_list(col("value"))), "\n")
          .cast("binary")).as("wl_digest"))
        .localCheckpoint(true)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** JSON IO round-trip (S1 json scan + S8 dispatch + S11 sink), the
    * q82 shape for the json leg: documents -> json sink -> extension
    * dispatch -> per-source digest; same oracle as q67/q82 (the digest
    * is over ROW CONTENT, so a lossy round-trip turns the row red). */
  def q85JsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q85_")
    val out = tmp.resolve("documents.json").toString
    try {
      graft.sources.FormatIO.save("json", t(spark, dir, "documents"), out,
        overwrite = true)
      val (back, tag) = graft.sources.FormatIO.loadFromPath(out, spark)
        .getOrElse(sys.error("extension dispatch failed for " + out))
      require(tag == "json", s"dispatch resolved '$tag', expected json")
      graft.ops.Profile.corpusDigest(back, "source", Seq("doc_id", "text", "lang"))
        .withColumn("digest", col("digest").cast("string"))
        .orderBy("source")
        .localCheckpoint(true)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** Per-sentence sentiment backend surface (U5u computeSentiment via
    * the U9u `sentiment(col)` alias, U6u weighted sentiment, U7u
    * textToLemmas) over documents with the default word-score backend.
    * The per-row kernels ride the fuzzy dictionary ladder, so the
    * oracle is a pinned-VALUES truth table (PinnedOracles.q86Sql) —
    * per-row pure functions, parallelism-independent by construction.
    * Map-only at scale: three UDFs, no shuffle before the final sort. */
  def q86SentenceSentiment(spark: SparkSession, dir: String): DataFrame = {
    import graft.nlp.SentimentFunctions
    t(spark, dir, "documents")
      .select(col("doc_id"),
        SentimentFunctions.sentiment(col("text")).cast("long")
          .as("sentiment"),
        SentimentFunctions.weightedSentimentUdf()(col("text")).cast("long")
          .as("weighted"),
        md5(SentimentFunctions.lemmasUdf()(col("text")).cast("binary"))
          .as("lemma_digest"))
      .orderBy("doc_id")
  }

  /** Stem-then-clean chain (U2u cleanTextAndStem, reference order:
    * Porter stem on RAW text BEFORE cleaning, `utils/Helper.scala:34`)
    * with the full emoji table, digested per doc. Porter stemming is
    * not SQL-expressible → pinned-VALUES oracle; per-row pure
    * function, parallelism-independent by construction. Map-only. */
  def q87CleanStem(spark: SparkSession, dir: String): DataFrame = {
    // the emoji lookup is built once here and rides the closure
    val stemClean = TextClean.cleanTextAndStem(graft.text.Emoji.fromResourceTable)
    val chain = udf((s: String) => if (s == null) null else stemClean(s))
    t(spark, dir, "documents")
      .select(col("doc_id"),
        md5(chain(col("text")).cast("binary")).as("stemmed_digest"))
      .orderBy("doc_id")
  }

  /** Deterministic training-order sharding (Splits.shardOrder): each
    * doc gets a layout-independent (shard, sort_key); the query
    * summarizes per shard with an order-independent membership digest
    * (commutative decimal sum — the q67 contract) so the oracle pins
    * the full assignment without materializing a per-shard sort. The
    * assignment itself is map-only; the summary is one narrow
    * aggregate over (shard, key) rows. */
  def q88ShardOrder(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Splits.shardOrder(
      t(spark, dir, "documents").select("doc_id"), "doc_id",
      shards = 8, seed = 42)
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("sort_key").cast("decimal(38,0)")).cast("string")
          .as("key_digest"),
        min("sort_key").as("min_key"),
        max("sort_key").as("max_key"))
      .orderBy("shard")

  /** Embedding-space benchmark decontamination: the first 50 vectors
    * stand in for a leaked benchmark (they are in both the corpus and
    * the benchmark side, so they flag at cosine ~1.0 — the true-leak
    * shape); every corpus row reports its max benchmark cosine.
    * Broadcast cross + map-side max fold; the corpus never shuffles. */
  def q89SemanticDecon(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val bench = emb.where(col("vec_id") < 50)
    graft.ops.Decontaminate.semanticReport(
      emb, bench, "vec_id", "embedding", threshold = 0.99)
      .orderBy("vec_id")
  }

  /** The REAL multimodal image path under oracle: deterministic 8x4
    * P6 images are synthesized per embedding row (pixel RGB is integer
    * arithmetic on (vec_id, x, y)), then travel the full pipeline —
    * [[graft.ops.Multimodal.asBlobTable]] (real header dims),
    * [[graft.ops.Multimodal.extractFeatures]] (real luminance
    * histogram), [[graft.ops.Multimodal.resize]] (real nearest-
    * neighbor, re-decoded) — and the oracle replays every step in SQL
    * because the whole chain is integer arithmetic. Float-exactness:
    * histogram fractions are i/32 and i/8 (exact in Float), so
    * rescaling to counts is lossless. Map-only but for the final sort
    * and the two feature-frame joins on blob_id. */
  def q90ImageDecode(spark: SparkSession, dir: String): DataFrame = {
    val genPpm = udf((id: Long) => {
      val (w, h) = (8, 4)
      val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val i = 3 * (y * w + x)
        rgb(i) = ((id * 31 + x * 7 + y * 13) % 256).toByte
        rgb(i + 1) = ((id * 17 + x * 11 + y * 5) % 256).toByte
        rgb(i + 2) = ((id * 29 + x * 3 + y * 19) % 256).toByte
      }
      graft.ops.Multimodal.encodePpm(w, h, rgb)
    })
    val imgs = t(spark, dir, "embeddings").select(col("vec_id"))
      .withColumn("payload", genPpm(col("vec_id")))
    val blobs = graft.ops.Multimodal.asBlobTable(
      imgs, "vec_id", "payload", "image/x-ppm")
    def countsOf(feats: DataFrame, pixels: Int, outCol: String): DataFrame =
      feats.select(col("blob_id"),
        concat_ws(",", transform(col("features"),
          f => round(f * lit(pixels)).cast("int").cast("string"))).as(outCol))
    val full = countsOf(
      graft.ops.Multimodal.extractFeatures(blobs, bins = 16), 32, "lum_bins")
    val resized = graft.ops.Multimodal.resize(blobs, maxWidth = 4)
    val resizedDims = resized.select(col("blob_id"),
      col("meta.width").as("r_width"), col("meta.height").as("r_height"))
    val resizedBins = countsOf(
      graft.ops.Multimodal.extractFeatures(resized, bins = 16), 8, "r_lum_bins")
    blobs.select(col("blob_id"), col("meta.width").as("width"),
        col("meta.height").as("height"))
      .join(full, Seq("blob_id"))
      .join(resizedDims, Seq("blob_id"))
      .join(resizedBins, Seq("blob_id"))
      .orderBy("blob_id")
  }

  /** The REAL multimodal audio path under oracle — the q90 pattern
    * for sound: deterministic mono PCM-16 WAV payloads are synthesized
    * per embedding row (sample i is integer arithmetic on (vec_id, i)),
    * then travel the full audio pipeline —
    * [[graft.ops.Multimodal.decodeWav]] via `extractAudioFeatures`
    * (real RIFF parse, integer-exact peak/zero-crossing/energy stats)
    * and [[graft.ops.Multimodal.decimateAudio]] (real every-2nd-frame
    * resample, re-encoded and re-decoded) — and the oracle replays
    * every step in DuckDB list arithmetic. Map-only but for the final
    * sort and the two narrow feature joins on blob_id. */
  def q91AudioDecode(spark: SparkSession, dir: String): DataFrame = {
    val genWav = udf((id: Long) => {
      val n = 64
      val samples = new Array[Short](n)
      var i = 0
      while (i < n) {
        samples(i) = (((id * 7919 + i * 4451) % 65536) - 32768).toShort
        i += 1
      }
      graft.ops.Multimodal.encodeWav(
        graft.ops.Multimodal.PcmAudio(8000, 1, samples))
    })
    val blobs = t(spark, dir, "embeddings")
      .select(col("vec_id").as("blob_id"), genWav(col("vec_id")).as("data"))
    val full = graft.ops.Multimodal.extractAudioFeatures(blobs)
      .select(col("blob_id"), col("sample_rate"), col("n_samples"),
        col("peak_abs"), col("zero_crossings"), col("sum_sq"))
    val half = graft.ops.Multimodal.extractAudioFeatures(
        graft.ops.Multimodal.decimateAudio(blobs, factor = 2))
      .select(col("blob_id"), col("sample_rate").as("d_sample_rate"),
        col("n_samples").as("d_n_samples"), col("peak_abs").as("d_peak_abs"),
        col("zero_crossings").as("d_zero_crossings"),
        col("sum_sq").as("d_sum_sq"))
    full.join(half, Seq("blob_id")).orderBy("blob_id")
  }

  /** Bucketed co-located join under the driver oracle: both fact
    * sides are written as 8-bucket parquet tables on the join key
    * ([[graft.ops.Layout.writeBucketed]], external path in a temp dir),
    * re-read through the catalog, and merge-joined WITHOUT either side
    * shuffling — the query itself REQUIRES the join sub-plan to be
    * Exchange-free and bucketed, so the scale claim is enforced on
    * every driver run, not just in LayoutSpec. The oracle checks the
    * join+aggregate RESULT against a plain DuckDB join — bucketing
    * must be a pure layout change, invisible in the data.
    *
    * 100 TB shape: this is the pay-once-shuffle-never-again layout for
    * fact-fact joins — each re-join on the bucket key reads co-located
    * buckets; only the tiny post-join aggregate exchanges. */
  def q92BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q92_")
    try {
      graft.ops.Layout.writeBucketed(
        t(spark, dir, "orders").select(
          col("o_orderkey").as("orderkey"), col("o_orderstatus")),
        "graft_b_orders", "orderkey", buckets = 8,
        path = tmp.resolve("b_orders").toString)
      graft.ops.Layout.writeBucketed(
        t(spark, dir, "lineitem").select(
          col("l_orderkey").as("orderkey"), col("l_extendedprice")),
        "graft_b_lineitem", "orderkey", buckets = 8,
        path = tmp.resolve("b_lineitem").toString)
      // force SMJ (at fixture scale AQE would broadcast, which skips
      // the bucketed read; production fact-fact sizes always take SMJ)
      val joined = spark.table("graft_b_orders")
        .join(spark.table("graft_b_lineitem").hint("merge"), "orderkey")
      // executedPlan (pre-execution: AQE initial plan), AFTER
      // EnsureRequirements — sparkPlan has no exchanges inserted yet,
      // which would make the no-shuffle require vacuous
      val joinPlan = joined.queryExecution.executedPlan.toString
      require(!joinPlan.contains("Exchange hashpartitioning"),
        "bucketed join must not shuffle:\n" + joinPlan.take(2000))
      require(joinPlan.contains("Bucketed: true"),
        "join did not take the bucketed read:\n" + joinPlan.take(2000))
      joined
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_extendedprice"), 2).as("total_price"))
        .orderBy("o_orderstatus")
        .localCheckpoint(true)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_b_orders")
      spark.sql("DROP TABLE IF EXISTS graft_b_lineitem")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** Changelog merge ([[graft.ops.Upsert.merge]]) under the driver
    * oracle: a deterministic changelog is synthesized from the
    * documents snapshot — updates (doc_id % 5 == 0 at version 1),
    * a same-version re-delivery (doc_id % 11 == 1 at version 0, which
    * must supersede the snapshot by the change-wins tie rule), and
    * tombstones (doc_id % 7 == 3 at version 2) — and the merged
    * corpus is emitted row-wise with text digests. The oracle replays
    * union + window latest-wins in SQL. One key shuffle. */
  def q93UpsertMerge(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text", "source")
    val snap = docs.withColumn("version", lit(0))
    val upd = docs.where(col("doc_id") % 5 === 0)
      .withColumn("text", concat(col("text"), lit(" [rev2]")))
      .withColumn("version", lit(1))
    val redeliver = docs.where(col("doc_id") % 11 === 1)
      .withColumn("text", concat(col("text"), lit(" [v0-redelivery]")))
      .withColumn("version", lit(0))
    val tomb = docs.where(col("doc_id") % 7 === 3)
      .withColumn("text", lit(null).cast("string"))
      .withColumn("version", lit(2))
      .withColumn("is_deleted", lit(true))
    val changes = upd.unionByName(redeliver)
      .unionByName(tomb, allowMissingColumns = true)
    graft.ops.Upsert.merge(snap, changes, "doc_id", "version", "is_deleted")
      .select(col("doc_id"), col("version"), col("source"),
        md5(col("text").cast("binary")).as("text_digest"))
      .orderBy("doc_id")
  }

  /** BM25 keyword retrieval ([[graft.ops.Bm25.topDocs]]): top-15
    * documents for a three-term query, Lucene-variant idf, scores
    * rounded to 4 decimals BEFORE ranking so the ordering replays
    * across engines. The oracle re-derives tf/df/avgdl and the full
    * scoring formula in DuckDB with IEEE-identical operation order. */
  def q94Bm25(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Bm25.topDocs(t(spark, dir, "documents"), "doc_id", "text",
      queryTerms = Seq("hash", "join", "spark"), topK = 15)

  /** BPE merges learned at each query site — cheap enough to relearn
    * (the corpus census is one pass; iteration is vocab-sized) and it
    * keeps q95/q96 self-contained for the driver. */
  private def bpeMerges(spark: SparkSession, dir: String): Seq[graft.ops.Bpe.Merge] =
    graft.ops.Bpe.learnMerges(
      t(spark, dir, "documents"), "text", numMerges = 16)

  /** BPE tokenizer TRAINING ([[graft.ops.Bpe.learnMerges]]): the
    * 16-merge table learned from the documents corpus. Iterative
    * merging is not SQL-expressible → pinned-VALUES oracle (the
    * q16/q25 pattern); BpeSpec pins the hand-worked Sennrich example
    * independently. Deterministic: exact integer pair counts with a
    * total (count desc, pair asc) tie order — parallelism-independent
    * by construction. */
  def q95BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeMerges(spark, dir)
      .map(m => (m.rank, m.left, m.right, m.count))
      .toDF("rank", "left_sym", "right_sym", "pair_count")
      .orderBy("rank")
  }

  /** BPE tokenizer APPLICATION ([[graft.ops.Bpe.tokenize]]): per-doc
    * subword counts + order-sensitive token digests under the q95
    * merge table. Map-only over the corpus (the merge table rides the
    * closure); pinned-VALUES oracle, same contract as q95. */
  def q96BpeTokens(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Bpe.tokenize(
      t(spark, dir, "documents"), "doc_id", "text",
      bpeMerges(spark, dir))
      .orderBy("doc_id")

  /** PageRank ([[graft.ops.Graph.pageRank]]) over the part–supplier
    * co-occurrence graph (distinct lineitem (partkey, suppkey) pairs,
    * part keys bounded so the filter pushes to the scan): 10 power
    * iterations, damping 0.85, top-20 nodes by N-scaled rank. The
    * oracle unrolls the same 10 iterations as chained CTEs with
    * IEEE-identical arithmetic. */
  def q97PageRank(spark: SparkSession, dir: String): DataFrame = {
    val edges = t(spark, dir, "lineitem")
      .where(col("l_partkey") <= 2000)
      .select(
        concat(lit("p"), col("l_partkey").cast("string")).as("src"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
      .distinct()
    val pr = graft.ops.Graph.pageRank(edges, iterations = 10,
      damping = 0.85)
    val n = pr.count()
    pr.select(col("node"),
        round(col("rank") * lit(n), 4).as("score"))
      .orderBy(desc("score"), col("node"))
      .limit(20)
  }

  /** Blocklist scan ([[graft.ops.Blocklist.annotate]]): Aho–Corasick
    * over a pattern set chosen to exercise overlapping and nested
    * matches ("scan" contains "can" contains "an"). Map-only; the
    * oracle recounts every overlapping occurrence per (doc, pattern)
    * with a substr probe at each position. */
  def q98Blocklist(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Blocklist.annotate(
      t(spark, dir, "documents"), "doc_id", "text",
      patterns = Seq("scan", "can", "an", "row"))
      .orderBy("doc_id")

  /** Per-group winsorization ([[graft.ops.Sample.winsorizeWithinGroup]]):
    * event values clipped into each event_type's exact [p5, p95] band,
    * summarized per type. Oracle replays the clip against
    * quantile_cont (exact-interpolation parity, the q64 contract). */
  def q99Winsorize(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sample.winsorizeWithinGroup(
      t(spark, dir, "events").select("event_type", "value")
        .where(col("value").isNotNull),
      "event_type", "value", pLo = 0.05, pHi = 0.95)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum("value_winsorized"), 2).as("sum_winsorized"),
        round(min("value_winsorized"), 4).as("lo_clip"),
        round(max("value_winsorized"), 4).as("hi_clip"))
      .orderBy("event_type")

  /** Corpus-version diff ([[graft.ops.Diff.diffSummary]]): a second
    * snapshot is synthesized deterministically from documents —
    * removals (doc_id % 13 == 0), edits (% 7 == 1 on the survivors),
    * additions (offset re-keyed % 11 == 0 rows) — and the diff
    * classifies every key as added/removed/changed/same, summarized
    * with commutative key digests. Each side shrinks to (key, digest)
    * map-side; ONE full-outer key join. */
  def q100CorpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val old = t(spark, dir, "documents")
      .select("doc_id", "text", "source", "lang")
    val newer = old.where(col("doc_id") % 13 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 1, concat(col("text"), lit(" [edited]")))
          .otherwise(col("text")))
      .unionByName(old.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("text"),
          col("source"), col("lang")))
    graft.ops.Diff.diffSummary(old, newer, "doc_id",
      Seq("text", "source", "lang"))
  }

  /** ORC IO round-trip (S4b orc scan/sink + S8 `.orc` dispatch), the
    * q85 shape for the orc leg: documents -> orc sink -> extension
    * dispatch -> per-source digest; same content-digest oracle as
    * q67/q82/q85, so a lossy round-trip turns the row red. */
  def q101OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q101_")
    val out = tmp.resolve("documents.orc").toString
    try {
      graft.sources.FormatIO.save("orc", t(spark, dir, "documents"), out,
        overwrite = true)
      val (back, tag) = graft.sources.FormatIO.loadFromPath(out, spark)
        .getOrElse(sys.error("extension dispatch failed for " + out))
      require(tag == "orc", s"dispatch resolved '$tag', expected orc")
      graft.ops.Profile.corpusDigest(back, "source", Seq("doc_id", "text", "lang"))
        .withColumn("digest", col("digest").cast("string"))
        .orderBy("source")
        .localCheckpoint(true)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** Time-series gap-fill ([[graft.ops.TimeSeries.gapFill]]): the
    * event stream regularized onto each event_type's hourly grid with
    * forward-filled gaps. The oracle rebuilds the grid with
    * generate_series and replays the fill with an IGNORE NULLS
    * last_value window — bucket indexes are integer epoch-hour slots
    * on both sides, so no timestamp formatting is compared. */
  def q102GapFill(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.gapFill(
      events(spark, dir), "event_type", "ts", "value",
      stepSeconds = 3600L)
      .withColumnRenamed("slot", "slot_hour")
      .orderBy("event_type", "slot_hour")

  /** Z-order data-skipping report ([[graft.ops.ZOrder.skippingReport]]):
    * lineitem rows laid out under a linear (l_partkey-sorted) and a
    * Morton-curve (l_partkey x l_suppkey) file assignment; the report
    * counts min/max-prunable files for an x-probe and a y-probe. All
    * arithmetic is exact integer quantize/shift/mask, replayed
    * term-for-term by the DuckDB oracle. */
  def q103ZorderSkipping(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ZOrder.skippingReport(
      t(spark, dir, "lineitem"), "l_partkey", "l_suppkey",
      bits = 8, fileBits = 4, probeLoPct = 40, probeHiPct = 45)

  /** Small-file compaction plan ([[graft.ops.Layout.compactionPlan]]):
    * a synthetic per-(source, lang, shard) file inventory derived from
    * documents, bin-packed to 4000-byte targets per source in file-name
    * order. The oracle replays the exclusive-prefix-sum bin assignment
    * with the same window. */
  def q104CompactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val inv = t(spark, dir, "documents")
      .groupBy(col("source"),
        concat_ws("_", col("lang"), (col("doc_id") % 8).cast("string"))
          .as("file"))
      .agg(sum("n_chars").as("bytes"))
    graft.ops.Layout.compactionPlan(inv, "source", "file", "bytes",
      targetBytes = 4000L)
  }

  /** Token-budget corpus selection ([[graft.ops.Budget]]): keep the
    * highest-quality documents whose cumulative token count fits a
    * 10k-token training budget. The global running sum is decomposed
    * into per-quality prefix sums (bounded driver collect over the
    * 3-decimal score domain) plus within-quality windows — no
    * single-partition window; the oracle replays the equivalent
    * global `SUM OVER (ORDER BY quality DESC, doc_id)`. */
  def q105TokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val scored = t(spark, dir, "documents").select(
      col("doc_id"),
      graft.ops.TextStats.qualityScore(col("text")).as("quality"),
      graft.ops.TextStats.tokenCount(col("text")).cast("long").as("tokens"))
    graft.ops.Budget.selectByTokenBudget(
      scored, "doc_id", "quality", "tokens", budget = 10000L)
      .select(col("doc_id"), col("quality"), col("tokens"),
        col("cum_tokens"))
      .orderBy(col("quality").desc, col("doc_id"))
  }

  /** Per-source document cap ([[graft.ops.Sample.capPerGroupSummary]]):
    * at most 10 docs per source by quality, reported as per-source
    * kept/dropped accounting with the induced quality floor — the
    * per-domain cap rule of crawl curation. */
  def q106SourceCap(spark: SparkSession, dir: String): DataFrame = {
    val scored = t(spark, dir, "documents").select(
      col("doc_id"), col("source"),
      graft.ops.TextStats.qualityScore(col("text")).as("quality"),
      graft.ops.TextStats.tokenCount(col("text")).cast("long").as("tokens"))
    graft.ops.Sample.capPerGroupSummary(
      scored, "source", "quality", "doc_id", "tokens", k = 10)
      .orderBy("source")
  }

  /** Exact-size deterministic global sample
    * ([[graft.ops.Sample.exactGlobalSample]]): the 100 docs with the
    * smallest md5 rank — TakeOrderedAndProject (bounded per-partition
    * heap), never a corpus sort; the oracle replays the same md5
    * arithmetic with ORDER BY … LIMIT. */
  def q107ExactSample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sample.exactGlobalSample(
      t(spark, dir, "documents").select("doc_id", "source"),
      "doc_id", n = 100)
      .orderBy(col("rnk").asc, col("doc_id").asc)

  /** Encoding-corruption gate
    * ([[graft.ops.TextStats.replacementCharCount]] /
    * [[graft.ops.TextStats.controlCharCount]]): plant deterministic
    * corruption (a BEL control char on doc_id % 50, a U+FFFD
    * replacement char on doc_id % 70 — the fixture text itself is
    * clean, so the gate needs planted positives to be exercised),
    * then report per-source corruption accounting and the clean count
    * the gate would pass. Map-only profile + one narrow aggregate. */
  def q108EncodingGate(spark: SparkSession, dir: String): DataFrame = {
    val corrupted = t(spark, dir, "documents").withColumn("t2",
      concat(col("text"),
        when(col("doc_id") % 50 === 0, lit("\u0007")).otherwise(lit("")),
        when(col("doc_id") % 70 === 0, lit("\uFFFD")).otherwise(lit(""))))
    corrupted.select(col("source"),
      graft.ops.TextStats.replacementCharCount(col("t2")).as("n_repl"),
      graft.ops.TextStats.controlCharCount(col("t2")).as("n_ctl"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_ctl") > 0, 1L).otherwise(0L)).as("n_control"),
        sum(when(col("n_repl") > 0, 1L).otherwise(0L)).as("n_replacement"),
        sum(when(col("n_ctl") === 0 && col("n_repl") === 0, 1L)
          .otherwise(0L)).as("n_clean"))
      .orderBy("source")
  }

  /** MinHash estimate-vs-exact calibration
    * ([[graft.ops.Dedup.minhashCalibration]]): candidate pairs
    * bucketed by signature-estimate decile with mean estimate and
    * mean exact Jaccard per bucket — the bands×rows tuning harness.
    * The oracle replays the full mod-2^64 signature family, band
    * collisions, and integer-sum means in SQL. */
  def q109MinhashCalibration(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.minhashCalibration(
      t(spark, dir, "documents"), "doc_id", "text")

  /** Content-defined chunking report ([[graft.ops.Chunk.cdcExplode]]):
    * hash-break chunks (boundary after every token whose md5 bucket is
    * 0; expected length 8 tokens) with per-source chunk-level dedup
    * accounting — the storage-dedup complement to q34's fixed-size
    * chunking; boundaries survive insertions, so chunk hashes are
    * stable dedup keys across corpus versions. */
  def q110CdcChunks(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Chunk.cdcExplode(
      t(spark, dir, "documents"), "doc_id", "text",
      buckets = 8, carryCols = Seq("source"))
      .select(col("source"), md5(col("chunk_text")).as("h"),
        size(split(col("chunk_text"), " ")).cast("long").as("w"))
      .groupBy("source").agg(
        count(lit(1)).as("n_chunks"),
        countDistinct(col("h")).as("n_distinct_chunks"),
        round(lit(1.0) - countDistinct(col("h")) / count(lit(1)), 4)
          .as("dup_chunk_ratio"),
        round(sum(col("w")) / count(lit(1)), 4).as("avg_chunk_words"))
      .orderBy("source")

  /** Unicode-script mix report
    * ([[graft.ops.TextStats.scriptCharCount]]): plant deterministic
    * non-Latin snippets (Cyrillic on doc_id % 30, Han on doc_id % 40 —
    * the fixture is pure Latin, so the detector needs planted
    * positives), then report per-source script accounting: docs
    * containing each script and total foreign chars. Map-only
    * counters + one narrow aggregate. */
  def q111ScriptMix(spark: SparkSession, dir: String): DataFrame = {
    val planted = t(spark, dir, "documents").withColumn("t2",
      concat(col("text"),
        when(col("doc_id") % 30 === 0, lit(" привет мир")).otherwise(lit("")),
        when(col("doc_id") % 40 === 0, lit(" 你好世界")).otherwise(lit(""))))
    planted.select(col("source"),
      graft.ops.TextStats.scriptCharCount(col("t2"), "Cyrillic").as("cyr"),
      graft.ops.TextStats.scriptCharCount(col("t2"), "Han").as("han"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("cyr") > 0, 1L).otherwise(0L)).as("n_cyrillic_docs"),
        sum(when(col("han") > 0, 1L).otherwise(0L)).as("n_han_docs"),
        sum(col("cyr").cast("long")).as("cyrillic_chars"),
        sum(col("han").cast("long")).as("han_chars"))
      .orderBy("source")
  }

  /** Equi-depth length histogram
    * ([[graft.ops.Profile.equiDepthHistogram]]): 10 equal-count bins
    * of documents.n_chars cut at exact interpolated deciles — the
    * skew-readable distribution profile; oracle replays quantile_cont
    * boundaries and the strict-> bin rule. */
  def q112LengthHistogram(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.equiDepthHistogram(
      t(spark, dir, "documents").select("n_chars"), "n_chars", bins = 10)

  /** Surgical decontamination
    * ([[graft.ops.Decontaminate.maskContaminatedSpans]]): mask the
    * benchmark-overlapping 5-gram spans out of the corpus text
    * instead of dropping whole documents — q37's split (doc_id % 10
    * as the eval set), q58's positional masking contract. */
  def q113MaskDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val benchmark = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    graft.ops.Decontaminate.maskContaminatedSpans(
      corpus, benchmark, "text", n = 5)
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id")
  }

  /** NFC normalization gate ([[graft.ops.TextStats.nfcNormalize]]):
    * plant decomposed sequences (e + combining acute on doc_id % 25 —
    * the fixture is already composed), then report per-source
    * denormalized-doc counts and the codepoints NFC composition
    * saves. Map-only kernel + one narrow aggregate. */
  def q114NfcGate(spark: SparkSession, dir: String): DataFrame = {
    val planted = t(spark, dir, "documents").withColumn("t2",
      concat(col("text"),
        when(col("doc_id") % 25 === 0, lit(" cafe\u0301 releve\u0301"))
          .otherwise(lit(""))))
      .withColumn("nm", graft.ops.TextStats.nfcNormalize(col("t2")))
    planted.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("nm") =!= col("t2"), 1L).otherwise(0L))
        .as("n_denormalized"),
      sum((length(col("t2")) - length(col("nm"))).cast("long"))
        .as("chars_delta"))
      .orderBy("source")
  }

  /** Tokenizer-fertility report: per-language chars-per-token and
    * tokens-per-doc — the cost model for tokenizer/budget planning
    * (how many training tokens a TB of each language buys). One
    * narrow aggregate; means derived from integer sums. */
  def q115Fertility(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("lang"), col("n_chars"),
      graft.ops.TextStats.tokenCount(col("text")).cast("long").as("toks"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("toks")).as("total_tokens"),
        round(sum(col("n_chars")) / sum(col("toks")), 4)
          .as("chars_per_token"),
        round(sum(col("toks")) / count(lit(1)), 4).as("tokens_per_doc"))
      .orderBy("lang")

  /** Hash-shard balance validation ([[graft.ops.Splits.hashBucket]]
    * over 16 shards): per-shard row/byte volume and byte share — the
    * writer-side uniformity check before committing to a shard count.
    * The share rides a window over the 16-row AGGREGATE (metadata,
    * never the corpus — the q104 pattern). */
  def q116ShardBalance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    t(spark, dir, "documents")
      .select(graft.ops.Splits.hashBucket(col("doc_id"), 16).as("shard"),
        col("n_chars"))
      .groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("bytes"))
      .withColumn("share",
        round(col("bytes") / sum(col("bytes")).over(Window.partitionBy()), 4))
      .orderBy("shard")
  }

  /** Pseudonymization invariance ([[graft.ops.Redact.pseudonymize]]):
    * per-event-type distinct-user counts computed over the RAW ids
    * and over their salted pseudonyms in one pass — equal counts in
    * every row are the "still joinable, no longer identifying"
    * contract, and the oracle replays the md5 pseudonym itself. */
  def q117Pseudonymize(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"), col("user_id"),
        graft.ops.Redact.pseudonymize(col("user_id"), "graft-salt-v1")
          .as("pseudo"))
      .groupBy("event_type").agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users_raw"),
        countDistinct(col("pseudo")).as("n_users_pseudo"))
      .orderBy("event_type")

  /** Corpus datacard: the one-row summary a datasheet/data-card
    * records per corpus release — sizes, language/source cardinality,
    * token volume, mean quality, exact-dup ratio, token percentiles —
    * all riding ONE multi-aggregate pass (mean quality via integer e3
    * sums; the dup ratio via countDistinct of the normalized-text
    * md5). */
  def q118Datacard(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("lang"), col("source"),
      graft.ops.TextStats.tokenCount(col("text")).cast("long").as("toks"),
      round(graft.ops.TextStats.qualityScore(col("text")) * 1000, 0)
        .cast("long").as("q3"),
      md5(graft.ops.Dedup.normalized(col("text"))).as("nh"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("toks")).as("total_tokens"),
        round(sum(col("q3")) / (count(lit(1)) * lit(1000.0)), 4)
          .as("mean_quality"),
        round(lit(1.0) - countDistinct(col("nh")) / count(lit(1)), 4)
          .as("dup_ratio"),
        percentile(col("toks"), lit(0.5)).as("p50_tokens"),
        percentile(col("toks"), lit(0.9)).as("p90_tokens"))

  /** Score-weighted (soft) quality sampling
    * ([[graft.ops.Sample.byScore]]): keep each doc with probability
    * equal to its quality score; report per-source kept counts vs the
    * expected rate (mean quality) — the calibration check that the
    * soft filter samples at its advertised rate. */
  def q119WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    // persist the scored projection: it feeds both the kept branch and
    // the expected-rate branch, and the quality expressions are the
    // expensive part (the q105/Budget two-consumer pattern)
    val scored = t(spark, dir, "documents").select(
      col("doc_id"), col("source"),
      graft.ops.TextStats.qualityScore(col("text")).as("quality"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = graft.ops.Sample.byScore(scored, "doc_id", "quality")
      .groupBy("source").agg(count(lit(1)).as("__k"))
    val out = scored.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      round(sum(round(col("quality") * 10000, 0).cast("long"))
        / (count(lit(1)) * lit(10000.0)), 4).as("expected_rate"))
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("__k"), lit(0L)).as("n_kept"),
        col("expected_rate"),
        round(coalesce(col("__k"), lit(0L)) / (col("n_docs") * lit(1.0)), 4)
          .as("actual_rate"))
      .orderBy("source")
      .localCheckpoint(true)
    scored.unpersist()
    out
  }

  /** Inter-event gap percentiles
    * ([[graft.streaming.EventStreams.interEventGaps]]): time since
    * the user's previous action, summarized per action type — dwell/
    * inactivity telemetry. Gaps attribute to the LATER event; the
    * user's first event contributes none. */
  def q120GapStats(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.interEventGaps(
      events(spark, dir), "user_id", "event_id")
      .where(col("gap_us").isNotNull)
      .groupBy("event_type").agg(
        count(lit(1)).as("n_gaps"),
        round(percentile(col("gap_us"), lit(0.5)) / lit(1000000.0), 4)
          .as("p50_gap_s"),
        round(percentile(col("gap_us"), lit(0.9)) / lit(1000000.0), 4)
          .as("p90_gap_s"),
        round(max(col("gap_us")) / lit(1000000.0), 4).as("max_gap_s"))
      .orderBy("event_type")

  /** Event transition matrix
    * ([[graft.streaming.EventStreams.transitionMatrix]]): first-order
    * (prev → next) counts and conditional probabilities over per-user
    * sequences. */
  def q121TransitionMatrix(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.transitionMatrix(
      events(spark, dir), "user_id", "event_type", "event_id")
      .orderBy("prev_type", "next_type")

  /** Staleness-bounded as-of attribution
    * ([[graft.ops.AsofJoin.asofWithin]]): q31's purchase↔view
    * point-in-time lookup, but the prior view only attributes when it
    * happened within 2 hours of the purchase — the "don't enrich from
    * a stale dimension" guard. The oracle is DuckDB's native ASOF
    * JOIN plus the staleness CASE. */
  def q122AsofWithin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).withColumn("us", unix_micros(col("ts")))
    val left = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "us")
    val right = ev.filter(col("event_type") === "view")
      .select("user_id", "us", "value")
    graft.ops.AsofJoin.asofWithin(left, right, "user_id", "us", "value",
      "attr_value", tolerance = 7200000000L) // 2 h in micros
      .select(col("event_id"), col("user_id"),
        round(col("attr_value"), 2).as("attr_value"))
      .orderBy("event_id")
  }

  /** SCD Type-2 history build ([[graft.ops.Upsert.scd2]]): each
    * user's event-type state history as half-open validity intervals
    * with consecutive repeats collapsed — the queryable-history
    * counterpart to q93's latest-wins merge. */
  def q123Scd2(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Upsert.scd2(
      events(spark, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id")),
      "user_id", "event_type", "us", "event_id")
      .select(col("user_id"), col("event_type"),
        col("valid_from").as("valid_from_us"),
        col("valid_to").as("valid_to_us"),
        col("is_current"))
      // valid_to_us completes the total order: same-microsecond events
      // of alternating types create runs tied on (user, type, from)
      .orderBy(col("user_id"), col("valid_from_us"), col("event_type"),
        col("valid_to_us").asc_nulls_last)

  /** Training-order decorrelation report
    * ([[graft.ops.Layout.adjacencyRate]]): adjacent-pair same-source
    * rates of the raw id-block layout vs q88's shuffled shards,
    * against the independence baseline Σ share² — the diagnostic that
    * says whether the shuffle actually decorrelated sources. The
    * fixture's modulo source assignment makes the id order
    * pathologically anti-correlated (rate 0), while the shuffled
    * shards sit at the ~0.05 independence expectation. */
  def q124OrderDecorrelation(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "source")
    val natural = graft.ops.Layout.adjacencyRate(
      docs.withColumn("file", expr("doc_id div 25")),
      "source", "file", "doc_id", "by_id_blocks")
    val sharded = graft.ops.Layout.adjacencyRate(
      graft.ops.Splits.shardOrder(docs, "doc_id", shards = 8, seed = 42),
      "source", "shard", "sort_key", "shuffled_shards")
    val expected = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .agg(
        sum(col("n").cast("decimal(19,0)") * col("n").cast("decimal(19,0)"))
          .as("__ss"),
        sum(col("n")).as("__N"))
      .select(round(col("__ss").cast("double") /
        (col("__N").cast("double") * col("__N").cast("double")), 4)
        .as("expected_rate"))
    natural.unionByName(sharded)
      .crossJoin(broadcast(expected))
      .orderBy("layout")
  }

  /** Unigram-distribution drift between corpus versions
    * ([[graft.ops.Profile.unigramDrift]]): smoothed KL(v2 ‖ v1) where
    * v2 drops every seventh document — the release-gate metric
    * row-level diffing can't see. Integer e12 contribution sums keep
    * the float reduction order out of the contract. */
  def q125UnigramDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    graft.ops.Profile.unigramDrift(
      docs, docs.filter(col("doc_id") % 7 =!= 0), "text")
  }

  /** Exact proportional stratified sampling
    * ([[graft.ops.Sample.proportionalQuotas]] +
    * [[graft.ops.Sample.stratifiedByQuotas]]): allocate a fixed
    * 1000-row budget across order priorities by largest-remainder
    * (quotas sum EXACTLY to the budget), then sample each stratum to
    * its quota deterministically. The report shows available/quota/
    * sampled per stratum; the oracle replays the allocation and the
    * md5-ranked sample. */
  def q126ProportionalSample(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority").as("grp"))
    val counts = orders.groupBy("grp").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val quotas = graft.ops.Sample.proportionalQuotas(counts, total = 1000L)
    val sampled = graft.ops.Sample
      .stratifiedByQuotas(orders, "grp", "o_orderkey", quotas)
      .groupBy("grp").agg(count(lit(1)).as("n_sampled"))
    orders.groupBy("grp").agg(count(lit(1)).as("n_available"))
      .withColumn("quota", graft.ops.Sample.quotaCase("grp", quotas))
      .join(sampled, Seq("grp"), "left")
      .select(col("grp"), col("n_available"), col("quota"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy("grp")
  }

  /** Declared-vs-detected language confusion matrix
    * ([[graft.ops.TextStats.langId]] against the documents table's
    * `lang` column) — the label-noise measurement a multilingual
    * corpus release records; the oracle replays the full profile-hit
    * argmax. */
  def q127LangConfusion(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("lang").as("declared"),
        graft.ops.TextStats.langId(col("text")).as("detected"))
      .groupBy("declared", "detected")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("declared", "detected")

  /** Session concurrency curve
    * ([[graft.streaming.EventStreams.sessionConcurrency]]): active
    * sessions per 10-minute slot — peak-concurrency capacity
    * planning; a session covers its whole interval, not just the
    * slots it emitted events in. The oracle replays the q29
    * sessionization plus interval→slot coverage. */
  def q128SessionConcurrency(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.sessionConcurrency(
      events(spark, dir), "user_id")

  /** Top behavioral paths ([[graft.streaming.EventStreams.topPaths]]):
    * the 20 most common 3-step event sequences — second-order
    * sequence mining over q121's first-order transitions. */
  def q129TopPaths(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.topPaths(
      events(spark, dir), "user_id", "event_type", "event_id", k = 20)

  /** Funnel conversion latency
    * ([[graft.streaming.EventStreams.funnelLatency]]): q75's strict
    * view→click→purchase funnel with per-transition p50/p90 latency —
    * each transition measured over the users who completed it. */
  def q130FunnelLatency(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.funnelLatency(
      events(spark, dir), "user_id", "event_type",
      Seq("view", "click", "purchase"))

  /** Token-weighted mixture plan
    * ([[graft.ops.Sample.ratesForMixture]] + [[graft.ops.Sample.byRates]]
    * end-to-end): solve the per-source sampling rates that realize a
    * 4:3:2:1 token mixture over four sources without upsampling (the
    * binding source samples at 1.0), apply them, and report solved
    * rate vs achieved volume per source. Puts the driver-side solver
    * under the oracle — the SQL replays the scale/min arithmetic and
    * the md5 cutoff exactly. */
  def q131MixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val weights = Map("src0" -> 4.0, "src1" -> 3.0,
      "src2" -> 2.0, "src3" -> 1.0)
    val tk = t(spark, dir, "documents")
      .where(col("source").isin(weights.keys.toSeq: _*))
      .select(col("doc_id"), col("source"),
        graft.ops.TextStats.tokenCount(col("text")).cast("long").as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val avail = tk.groupBy("source").agg(sum(col("toks")).as("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = graft.ops.Sample.ratesForMixture(avail, weights)
    val kept = graft.ops.Sample
      .byRates(tk, "source", "doc_id", rates, defaultRate = 0.0)
      .groupBy("source").agg(count(lit(1)).as("__nk"),
        sum(col("toks")).as("__kt"))
    import spark.implicits._
    val plan = weights.keys.toSeq.sorted
      .map(g => (g, avail(g), weights(g), rates(g)))
      .toDF("source", "avail_tokens", "weight", "rate")
    val out = plan.join(kept, Seq("source"), "left")
      .select(col("source"), col("avail_tokens"), col("weight"),
        round(col("rate"), 6).as("rate"),
        coalesce(col("__nk"), lit(0L)).as("n_kept"),
        coalesce(col("__kt"), lit(0L)).as("kept_tokens"))
      .orderBy("source")
      .localCheckpoint(true)
    tk.unpersist()
    out
  }

  /** The lineitem ⋈ supplier ⋈ nation ⋈ region star (all dimensions
    * broadcast) shared by q14 and q65. */
  private def starFrame(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(broadcast(t(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))

  private def revenue: Column =
    round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
      .as("revenue")

  /** Star join: fact ⋈ three broadcast dimensions, grouped rollup. */
  def q14StarJoin(spark: SparkSession, dir: String): DataFrame =
    starFrame(spark, dir)
      .groupBy("r_name", "n_name")
      .agg(revenue)
      .orderBy("r_name", "n_name")

  /** S5/S6/S7/S8 driver-visible: five CSV dialects staged from the
    * documents head (bounded 50-row driver fixture), each sniffed
    * with the real kernels (delimiter / quote-escape / header) and
    * then ROUND-TRIP parsed through `FormatIO.load("csv")` with the
    * sniffed dialect — n_rows/id_sum prove the parse, not just the
    * sniff. The expected dialect columns are hand-derived from the
    * intended S5-S7 semantics (first of `, | : \t` with equal nonzero
    * counts on both probe lines, else ';'; quote iff the longest
    * multi-word field of line 2 starts with it; header iff a field
    * flips non-numeric → numeric), so the oracle is a REAL contract,
    * not a replay. */
  def q133SniffDialects(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val head = t(spark, dir, "documents").select("doc_id", "lang")
      .orderBy("doc_id").limit(50)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_q133_")
    def stage(name: String, lines: Seq[String]): String = {
      val p = tmp.resolve(name)
      java.nio.file.Files.write(p, lines.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      p.toString
    }
    try {
      val cases: Seq[(String, String)] = Seq(
        "comma_header" -> stage("a.csv", "doc_id,lang,toks" +:
          head.map { case (id, l) => s"$id,$l,${id % 97}" }),
        "pipe_noheader" -> stage("b.csv",
          head.map { case (id, l) => s"$id|$l|${id % 97}" }),
        "quoted_text" -> stage("c.csv", "doc_id,txt" +:
          head.map { case (id, l) => s"""$id,"graft sniff case $l"""" }),
        "semicolon_fallback" -> stage("d.csv", "doc_id;lang;toks" +:
          head.map { case (id, l) => s"$id;$l;${id % 97}" }),
        "tab_header" -> stage("e.csv", "doc_id\tlang\ttoks" +:
          head.map { case (id, l) => s"$id\t$l\t${id % 97}" }))
      val rows = cases.map { case (dialect, path) =>
        val d = graft.sources.FormatIO.sniffCsv(path, spark)
        // parse with the ALREADY-sniffed dialect (loadCsvWithDialect)
        // so each file pays the two-line probe once, not twice
        val df = graft.sources.FormatIO.loadCsvWithDialect(
          path, spark, d.delimiter, d.header, d.quote)
        val idCol = df.columns.head
        val agg = df.agg(count(lit(1)).cast("long").as("n"),
          sum(col(idCol).cast("long")).as("s")).head()
        (dialect, d.delimiter, d.quote.orNull, d.header, agg.getLong(0),
          agg.getLong(1))
      }
      rows.toDF("dialect", "delimiter", "quote_char", "has_header",
        "n_rows", "id_sum")
        .orderBy("dialect")
        .localCheckpoint(true)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** M8/M9/M11 driver-visible: the three classifier families fit at
    * their STATIC reference hyperparameters on ONE featurization
    * (trainStaticAll), plus the reference's max-by-precision selection
    * row (W5, first-wins ties in declaration order). Seed-pinned
    * (split seed 0, RF seed 5043) and parallelism-independent; oracle
    * is a pinned truth table (PinnedOracles.q134Sql, q25 contract). */
  def q134MlClassifiers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents").select("text", "lang")
    val rs = graft.ml.SentimentML.trainStaticAll(docs, "text")
    val selected = rs.maxBy(_.precision)
    // M12 driver-visible: persist the winner, RELOAD it, and score the
    // corpus with the reloaded pipeline — the mean prediction must
    // reproduce exactly, pinning the save/load round-trip (not just
    // the in-memory model) under the oracle
    val tmp = java.nio.file.Files.createTempDirectory("graft_q134_")
    val reloadedMean =
      try {
        graft.ml.SentimentML.save(selected.model, tmp.resolve("m").toString)
        val loaded = graft.ml.SentimentML.load(tmp.resolve("m").toString)
        val row = loaded.transform(docs)
          .agg(avg(col("prediction"))).head()
        if (row.isNullAt(0)) 0.0 else row.getDouble(0)
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    val rows = rs.map(r =>
      (r.name, r.labelColumn, math.rint(r.precision * 10000) / 10000)) :+
      (("selected:" + selected.name, selected.labelColumn,
        math.rint(selected.precision * 10000) / 10000)) :+
      (("reloaded:" + selected.name, selected.labelColumn,
        math.rint(reloadedMean * 10000) / 10000))
    rows.toDF("classifier", "label_column", "precision")
      .orderBy("classifier")
  }

  /** Interpolated bigram LM perplexity filter (CCNet shape): the
    * even-id half of the corpus is the reference model, every odd-id
    * doc is scored by its average negative bigram log-probability
    * under it. lambda = 0.75 keeps BOTH interpolation constants exact
    * binary fractions, so the DuckDB replay's arithmetic is
    * bit-identical. */
  def q135BigramLm(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    graft.ops.TextStats.bigramLmScore(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
      docs.filter(col("doc_id") % 2 === 0), "text",
      minBigramCount = 2, lambda = 0.75)
      .orderBy("doc_id")
  }

  /** Tokens-per-doc column shared by the packing queries: size of the
    * shared normalized-token contract
    * ([[graft.ops.Dedup.normalizedTokens]]). */
  private def packTokens: Column =
    size(graft.ops.Dedup.normalizedTokens(col("text")))

  /** Sequence-packing plan (concat-and-chunk): every doc's place in a
    * 4-shard, 512-token-window training layout — deterministic md5
    * order, integer offsets, window span. The full per-doc plan is
    * the oracle contract (exact integers, no floats). */
  def q136PackPlan(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Pack.packPlan(t(spark, dir, "documents"), "doc_id",
      packTokens, shards = 4, seqLen = 512)
      .orderBy("doc_id")

  /** Packing economics per shard: windows, padding, boundary-crossing
    * docs — the report that prices a seqLen/shards choice. */
  def q137PackSummary(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Pack.packSummary(
      graft.ops.Pack.packPlan(t(spark, dir, "documents"), "doc_id",
        packTokens, shards = 4, seqLen = 512),
      seqLen = 512)
      .orderBy("shard")

  /** Cross-source contamination matrix: shared trigram-shingle types
    * and containment per source pair — the provenance report that
    * finds mirrored/scraped sources. Zero-overlap pairs are absent
    * (the matrix is sparse by construction). */
  def q138SourceOverlap(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Diff.sourceOverlapMatrix(
      t(spark, dir, "documents"), "source", "text", n = 3)
      .orderBy("source_a", "source_b")

  /** Hourly event-type mix drift vs the corpus-global mix (add-one KL,
    * [[graft.streaming.EventStreams.typeMixDrift]]): the
    * distribution-shift monitor, batch form. The reference collect is
    * a type CENSUS (one row per distinct event type — 4 here, bounded
    * by schema not volume). */
  def q139TypeDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val rows = ev.groupBy("event_type").agg(count(lit(1)).as("n")).collect()
    val n = rows.map(_.getLong(1)).sum
    val ref = rows.map(r => (r.getString(0), r.getLong(1).toDouble / n))
      .sortBy(_._1).toSeq
    graft.streaming.EventStreams.typeMixDrift(ev, ref, "1 hour")
      .orderBy("window_start")
  }

  /** Split-leakage audit: the q22 near-dup pair set joined against the
    * standard 80/10/10 per-document hash split — every returned pair
    * is a train/eval contamination (near-identical docs on opposite
    * sides of a split boundary). Map-only over the pair frame; the
    * fix it prescribes is cluster-keyed assignment, which q81's
    * components feed. */
  def q140SplitLeakage(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Splits.nearDupLeakage(
      graft.ops.Dedup.minhashPairs(
        t(spark, dir, "documents"), "doc_id", "text",
        shingleSize = 3, numHashes = 12, bands = 4, threshold = 0.7),
      "id_a", "id_b")
      .orderBy("id_a", "id_b")

  /** Entity-resolution staging shared by q142/q143: each part gets a
    * distinctive name (`p_name + md5-prefix tag`, so organic rows are
    * far apart in edit distance), and every 7th part plants a
    * typo'd duplicate record (id + 1e6, last char -> 'x') the
    * resolver must link. */
  private def entityStage(spark: SparkSession, dir: String): DataFrame = {
    // tag FIRST: blocking keys on the name prefix, and a
    // high-selectivity prefix (account-number / email shape) is what
    // keeps blocks small at scale — blocking on the low-cardinality
    // p_name words instead measured 25M+ candidate pairs at sf0.1
    // (64 distinct base names = degenerate blocks, the exact failure
    // the operator's maxBlockSize guard exists to catch)
    val base = t(spark, dir, "part").select(
      col("p_partkey").as("id"),
      concat(
        substring(md5(col("p_partkey").cast("string").cast("binary")), 1, 6),
        lit(" "), col("p_name"))
        .as("name"))
    // two planted typo families: every 7th part duplicates with its
    // LAST char flipped (prefix blocks catch it), every 11th with its
    // FIRST char flipped (only the suffix blocking pass can see it —
    // the recall case a single prefix key provably misses)
    val tailTypos = base.filter(col("id") % 7 === 0).select(
      (col("id") + 1000000L).as("id"),
      concat(expr("substring(name, 1, length(name) - 1)"), lit("x"))
        .as("name"))
    val headTypos = base.filter(col("id") % 11 === 0).select(
      (col("id") + 2000000L).as("id"),
      concat(lit("x"), expr("substring(name, 2)")).as("name"))
    base.unionByName(tailTypos).unionByName(headTypos)
  }

  /** Record linkage, pair stage: blocked fuzzy matching over the
    * staged part records — every planted typo pair (and nothing
    * else at this threshold, by construction of the md5 tags) comes
    * back with its edit similarity. The tail-typo family exercises
    * the prefix blocking pass; the HEAD-typo family (first char
    * flipped) is invisible to prefix blocking and pins the suffix
    * pass's recall. */
  def q142EntityPairs(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Entity.matchPairs(entityStage(spark, dir), "id", "name",
      blockChars = 6, minSim = 0.9)
      .orderBy("id_a", "id_b")

  /** Record linkage, closure stage: transitive entity ids over the
    * q142 pairs — every record labeled with its component's smallest
    * id (its own if unmatched). The oracle replays the closure with a
    * recursive reachability CTE, so the contract covers transitivity,
    * not just the planted two-record shape. */
  def q143EntityIds(spark: SparkSession, dir: String): DataFrame = {
    val staged = entityStage(spark, dir)
    graft.ops.Entity.entityIds(staged, "id",
      graft.ops.Entity.matchPairs(staged, "id", "name",
        blockChars = 6, minSim = 0.9))
      .select(col("id"), col("entity_id"))
      .orderBy("id")
  }

  /** §3.3 CLI word-score TRAINING lifecycle END-TO-END: a labeled CSV
    * is staged from the documents table,
    * [[graft.cli.SentimentCli.trainWordScore]] runs the real CLI path —
    * format sniffing, text-column detection (D2), clean+STEM (U1/U2),
    * per-category vocabulary training with overlap removal (A5/J2/U2set),
    * distinct outputs (set-U1), word-list file sink (S12) — and the
    * EMITTED FILES are read back and digested (sorted-word md5 per
    * category, so the digest is storage-order-independent). Pieces are
    * oracle-checked elsewhere (q26, q82, q87); this row pins their
    * composition through the CLI wiring, closing the third lifecycle
    * next to q132 (§3.1) and q134 (§3.2 training semantics). Oracle:
    * pinned truth table (stemmed vocabulary is not SQL-expressible —
    * q16-pin contract). */
  def q141CliTrainWordScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_q141_")
    val in = tmp.resolve("train.csv").toString
    val dest = tmp.resolve("wl").toString
    try {
      // same sanitized staging contract as q132 (sniffers are raw
      // line kernels; a no-op on the synthetic corpus)
      val staged = t(spark, dir, "documents").select(
        col("doc_id").as("id"),
        col("lang"),
        regexp_replace(col("text"), "[,|:;\\t\"'\\n\\r]", " ").as("text"))
      graft.sources.FormatIO.save("csv", staged, in, overwrite = true)
      graft.cli.SentimentCli.trainWordScore(graft.cli.SentimentCli.Config(
        inputs = Seq(in), output = Some(dest), limit = 1000), spark)
      val nCats = staged.select("lang").distinct().count().toInt
      val rows = (0 until nCats).map { c =>
        val words = spark.read.text(dest + c)
          .collect().map(_.getString(0)).sorted
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(words.mkString("\n").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (c.toString, words.length.toLong, digest)
      }
      rows.toDF("category", "n_words", "words_digest")
        .orderBy("category")
        .localCheckpoint(true)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** §3.1 CLI scoring lifecycle END-TO-END (the driver-visible form of
    * SentimentCliSpec's e2e tests): a Sentiment140-shaped CSV is
    * staged from the documents table, [[graft.cli.SentimentCli.run]]
    * scores it through the real CLI path — format sniffing (S2/S5-S7),
    * text-column DETECTION (D2, not an override), clean+stem (U1/U2),
    * word-score incl. the fuzzy dictionary ladder (U3/U4), display,
    * format-preserving save (S11) — and the SAVED CSV is read back and
    * digested. Every piece is oracle-checked elsewhere (q77, q82, q15,
    * q16, q87); this row pins their COMPOSITION through the CLI wiring.
    * Oracle: pinned truth table (PinnedOracles.q132Sql) — the stemmed
    * fuzzy-ladder scores are not SQL-expressible, q16-pin contract. */
  def q132CliScore(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q132_")
    val in = tmp.resolve("tweets.csv").toString
    val outPath = tmp.resolve("scored.csv").toString
    try {
      // Sentiment140 shape: polarity, id, date, query, user, text —
      // the reference's primary corpus layout (SURVEY §1.1). The text
      // is normalized to single-line, delimiter/quote-free form at
      // staging: the S5-S7 sniffers are raw line-count kernels (the
      // reference's intended semantics), so a comma/quote/newline in
      // the free text would flip the sniffed dialect and fail the
      // lifecycle for a fixture reason, not a code reason. A no-op on
      // the current synthetic corpus (verified: zero matches at
      // sf0.001/sf0.01), so the pinned truth table is unaffected;
      // word-scoring strips punctuation anyway, so scores are
      // insensitive to the substitution.
      val s140 = t(spark, dir, "documents").select(
        (col("doc_id") % 5 * 4 % 5).cast("int").as("polarity"),
        col("doc_id").as("id"),
        lit("Mon Jan 01 00:00:00 UTC 2024").as("date"),
        lit("NO_QUERY").as("query"),
        concat(lit("user"), col("doc_id") % 10).as("user"),
        regexp_replace(col("text"), "[,|:;\\t\"'\\n\\r]", " ").as("text"))
      graft.sources.FormatIO.save("csv", s140, in, overwrite = true)
      graft.cli.SentimentCli.run(graft.cli.SentimentCli.Config(
        inputs = Seq(in), output = Some(outPath), limit = 100), spark)
      val (back, tag) = graft.sources.FormatIO.loadFromPath(outPath, spark)
        .getOrElse(sys.error("extension dispatch failed for " + outPath))
      require(tag == "csv", s"output format not preserved: got '$tag'")
      back.select(col("id").cast("long").as("doc_id"),
        round(col("computed").cast("double"), 4).as("computed"))
        .orderBy("doc_id")
        .localCheckpoint(true)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** Semi-structured staging shared by q144/q146: the raw
    * `events.props` JSON ('{"k": N}') reshaped into the three payload
    * states an ingest actually sees — every 13th event TRUNCATED to
    * malformed JSON, every other remaining even event ENRICHED with a
    * second key (`"u"`, the user id spliced in by string surgery so
    * both engines build byte-identical payloads), the rest raw. */
  private def propsStage(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).withColumn("props",
      when(col("event_id") % 13 === 0, substring(col("props"), 1, 3))
        .when(col("event_id") % 2 === 0,
          concat(expr("substring(props, 1, length(props) - 1)"),
            lit(", \"u\": "), col("user_id"), lit("}")))
        .otherwise(col("props")))

  /** Typed JSON extraction (map-only `get_json_object` projection) over
    * the staged payloads, rolled up per event type: row counts, the
    * malformed count (k is on every valid payload, so a null k IS the
    * corrupt-row detector), the enriched count, and the two field
    * sums. Pins the null-for-corrupt and null-for-missing contracts of
    * [[graft.ops.Semistructured.extractJson]] cross-engine. */
  def q144JsonExtract(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Semistructured.extractJson(propsStage(spark, dir), "props",
      Seq(graft.ops.Semistructured.JsonField("k", "$.k", "bigint"),
        graft.ops.Semistructured.JsonField("u", "$.u", "bigint")))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_bad"),
        sum(when(col("u").isNotNull, 1L).otherwise(0L)).as("n_enriched"),
        sum("k").as("sum_k"),
        sum("u").as("sum_u"))
      .orderBy("event_type")

  /** Payload schema inference over the same staged column: per key,
    * presence count, integer-shaped value count, and distinct-value
    * count — [[graft.ops.Semistructured.jsonKeyCensus]], with the
    * malformed rows proven to drop out (k's n_rows excludes exactly
    * the truncated payloads). */
  def q146JsonKeyCensus(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Semistructured.jsonKeyCensus(propsStage(spark, dir), "props")
      .orderBy("key")

  /** Cluster-keyed (leakage-free) dataset split, certified: q140's
    * near-dup pairs are closed into components, documents are split
    * 80/10/10 by COMPONENT id ([[graft.ops.Splits.assignByCluster]]),
    * and the same pair frame is audited against the new assignment —
    * `leaked_pairs` must be 0 in every split, the certificate q140's
    * non-empty straddle list says a per-document split cannot give. */
  def q145ClusterSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = graft.ops.Dedup.minhashPairs(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 12, bands = 4, threshold = 0.7)
    val assigned = graft.ops.Splits.assignByCluster(
      docs.select("doc_id"), "doc_id", pairs)
    val sums = assigned.groupBy("split").agg(
      count(lit(1)).as("n_docs"),
      countDistinct("cluster_id").as("n_clusters"))
    val leaks = pairs
      .join(assigned.select(col("doc_id").as("id_a"),
        col("split").as("split_a")), "id_a")
      .join(assigned.select(col("doc_id").as("id_b"),
        col("split").as("split_b")), "id_b")
      .where(col("split_a") =!= col("split_b"))
      .groupBy(col("split_a").as("split"))
      .agg(count(lit(1)).as("leaked_pairs"))
    sums.join(leaks, Seq("split"), "left")
      .na.fill(0L, Seq("leaked_pairs"))
      .orderBy("split")
  }

  /** KMV distinct-count sketch vs exact, per event type: the k=64
    * sketch estimate of distinct users beside the true
    * `count(DISTINCT)` — the validation harness for
    * [[graft.ops.Sketch.kmvDistinct]]'s O(k)-state cardinality
    * telemetry (at sf0.01+ every type exceeds k, so the (k-1)/u_k
    * estimation path is what's pinned, not the exact fallback). */
  def q147KmvUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val ex = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("n_exact"))
    ex.join(graft.ops.Sketch.kmvDistinct(ev, "event_type", "user_id", 64),
        Seq("event_type"))
      .orderBy("event_type")
  }

  /** Per-user behavioral transcript assembly
    * ([[graft.ops.Assemble.transcripts]]): each user's first 20 events
    * in (time, event_id) order joined into one sequence string — the
    * event-log → training-example layout step — with the full event
    * count and a truncation flag. Order is microsecond time with the
    * event id as the unique tiebreak (the q120 determinism
    * convention). */
  def q148Transcripts(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Assemble.transcripts(
      events(spark, dir)
        .where(col("user_id").isNotNull)
        .withColumn("us", unix_micros(col("ts"))),
      "user_id", Seq("us", "event_id"), "event_type", maxItems = 20)
      .orderBy("user_id")

  /** Temperature-flattened language mixing
    * ([[graft.ops.Sample.ratesForTemperature]] at alpha = 0.5 +
    * [[graft.ops.Sample.byRates]]): rebalance the skewed per-language
    * document counts toward sqrt-share targets without upsampling (the
    * rarest language keeps rate 1.0), apply the deterministic md5
    * filter, and report available/rate/kept per language. The oracle
    * replays the exact pow/min/multiply arithmetic (order-free by
    * construction) and the 10^4-bucket cutoff. */
  def q149TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val avail = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // language domain: bounded by construction; fail fast if a schema
    // mistake points this at a high-cardinality column
    require(avail.size <= 1000,
      s"q149 grouped ${avail.size} languages — not a language column?")
    val rates = graft.ops.Sample.ratesForTemperature(avail, alpha = 0.5)
    val kept = graft.ops.Sample
      .byRates(docs, "lang", "doc_id", rates, defaultRate = 0.0)
      .groupBy("lang").agg(count(lit(1)).as("__nk"))
    import spark.implicits._
    val plan = avail.keys.toSeq.sorted
      .map(g => (g, avail(g), rates(g)))
      .toDF("lang", "n_available", "rate")
    plan.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_available"),
        round(col("rate"), 6).as("rate"),
        coalesce(col("__nk"), lit(0L)).as("n_kept"))
      .orderBy("lang")
  }

  /** KMV sketch mergeability, certified: sketch the two halves of the
    * event log separately ([[graft.ops.Sketch.kmvState]] — the
    * incremental-ingest shape: yesterday's persisted state + today's
    * delta), merge the states ([[graft.ops.Sketch.kmvMergeStates]]),
    * and compare against sketching the whole log in one pass. The
    * merge is EXACT (k smallest of a union come from the per-side k
    * smallest), so `states_equal` must be true and the estimates
    * identical in every group — re-deriving that invariant on both
    * engines. */
  def q150KmvMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val k = 64
    val merged = graft.ops.Sketch.kmvMergeStates(
      graft.ops.Sketch.kmvState(
        ev.where(col("event_id") % 2 === 0), "event_type", "user_id", k),
      graft.ops.Sketch.kmvState(
        ev.where(col("event_id") % 2 === 1), "event_type", "user_id", k),
      "event_type", k)
      .withColumnRenamed("kmv", "kmv_m")
    val whole = graft.ops.Sketch.kmvState(ev, "event_type", "user_id", k)
    merged.join(whole, Seq("event_type"))
      .select(col("event_type"),
        size(col("kmv_m")).cast("long").as("k_state"),
        graft.ops.Sketch.estimateFrom(col("kmv_m"), k).as("est_merged"),
        graft.ops.Sketch.estimateFrom(col("kmv"), k).as("est_whole"),
        (col("kmv_m") === col("kmv")).as("states_equal"))
      .orderBy("event_type")
  }

  /** q147's cardinality contract replayed through the MERGEABLE
    * aggregate form ([[graft.ops.KmvAggregator]]): per-event-type KMV
    * states from ONE hash aggregate (partial map-side, no distinct
    * pre-pass, no rank window), composed with `rollup` for the
    * grand-total row — the grouping-set composition the window form
    * cannot express. The oracle re-derives each sketch (and the
    * rollup total over the distinct union) with the rank-k replay,
    * certifying UDAF ≡ window-form semantics on a second engine. */
  def q151KmvRollup(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    events(spark, dir)
      .rollup("event_type")
      // the rollup total row is identified by grouping() (computed in
      // the agg, where grouping bits are in scope), not by a NULL
      // value coalesce — a genuinely NULL event_type group must stay
      // distinct from the grand total, not collide with it
      .agg(graft.ops.KmvAggregator.kmvStateAgg(col("user_id"), k).as("kmv"),
        grouping(col("event_type")).as("__is_total"))
      .select(
        when(col("__is_total") === 1, lit("ALL"))
          .otherwise(col("event_type")).as("event_type"),
        size(col("kmv")).cast("long").as("n_kept"),
        graft.ops.Sketch.estimateFrom(col("kmv"), k).as("est_distinct"))
      .orderBy("event_type")
  }

  /** The STREAMING ingest gate ([[graft.ops.Curate.streamingGate]])
    * run in its batch form (same code path batch/stream — the
    * streamed≡batch equivalence is a spec; THIS row pins the gate
    * arithmetic against the oracle): exact novelty vs the historical
    * slice, quality >= 0.3, repetition <= 0.3, LM gate against a
    * PRE-FITTED top-4096 unigram reference model (fit on the
    * historical slice — the fit/apply split an ingest edge needs),
    * and exact-gram decontamination vs the benchmark slice. Output is
    * each admitted doc with its reference-model score (NULL = the
    * no-opinion tokenless case). The band-index stage is deliberately
    * absent: a Bloom filter is not SQL-replayable (its plumbing is
    * pinned by q57 and the streamed≡batch spec instead). */
  def q152StreamGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val hist = docs.filter(col("doc_id") % 5 === 0)
    val input = docs.filter(col("doc_id") % 5 =!= 0)
    val benchmark = docs.filter(col("doc_id") % 101 === 0)
    val model = graft.ops.TextStats.fitUnigramRef(hist, "text", 4096)
    val grams = graft.ops.Decontaminate.fitBenchGrams(benchmark, "text", 5)
    val kept = graft.ops.Curate.streamingGate(input,
      minQuality = 0.3, maxDup2gramFrac = 0.3,
      historicalCorpus = Some(hist),
      unigramRef = Some((model, 9.0)),
      benchGrams = Some(grams))
    graft.ops.TextStats.unigramRefScore(kept, "text", model, "lm_ref")
      .select(col("doc_id"), col("lm_ref"))
      .orderBy("doc_id")
  }

  /** Exact heavy-hitter TOKENS over the corpus
    * ([[graft.ops.Frequent.heavyHitters]]): every token exceeding 1%
    * of all token instances, with its exact count — stopword/
    * boilerplate discovery with O(k) aggregate state (Misra–Gries
    * candidates, k=100) instead of a billion-key hash aggregate. The
    * oracle replays the full GROUP BY / HAVING — exactly what the
    * two-pass construction guarantees to equal. */
  def q153HeavyTokens(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Frequent.heavyHitters(
      t(spark, dir, "documents")
        .select(explode(graft.ops.Dedup.normalizedTokens(col("text")))
          .as("token")),
      "token", phi = 0.01)

  /** HTML → text extraction ([[graft.ops.Web.htmlToText]]): each doc's
    * text is wrapped in a synthetic HTML page exercising every rule —
    * script/style subtrees (whose CONTENT must vanish), comments,
    * attribute-bearing tags, the six named entities incl. the
    * double-escape case — and the extractor must recover the body text
    * plus the decoded footer. The oracle replays the identical
    * RE2-compatible regex chain. */
  def q154HtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val page = concat(
      lit("<html><head><script type=\"text/js\">var x = 1 < 2;</script>" +
        "<style>p { color: red }</style></head><body><!-- nav --><p>"),
      col("text"),
      lit("</p><DIV class=\"f\">&amp;lt; &lt;tag&gt; &nbsp;&#39;q&quot;</DIV></body></html>"))
    t(spark, dir, "documents")
      .select(col("doc_id"),
        graft.ops.Web.htmlToText(page).as("text"))
      .orderBy("doc_id")
  }

  /** URL → host/registrable-domain parsing
    * ([[graft.ops.Web.host]]/[[graft.ops.Web.apexDomain]]) over
    * synthesized crawl URLs exercising credentials, ports, multi-part
    * public suffixes, and unparseable relative URLs — rolled up to the
    * per-apex (n_docs, n_hosts) census that feeds per-domain caps and
    * leakage-safe splits. Relative URLs land in the explicit '(none)'
    * bucket (host() returns NULL, never ""). */
  def q155DomainCensus(spark: SparkSession, dir: String): DataFrame = {
    val url = when(col("doc_id") % 17 === 0,
      concat(lit("/rel/"), col("doc_id").cast("string")))
      .otherwise(concat(
        // protocol-relative "//host/path" (crawled src/href attributes)
        // must parse to the same host as the schemed form
        when(col("doc_id") % 19 === 0, lit("//")).otherwise(lit("https://")),
        when(col("doc_id") % 11 === 0, lit("u:p@")).otherwise(lit("")),
        lit("sub"), (col("doc_id") % 7).cast("string"),
        lit(".dom"), (col("doc_id") % 13).cast("string"),
        when(col("doc_id") % 3 === 0, lit(".co.uk"))
          .when(col("doc_id") % 23 === 0, lit(".web.zz"))
          .otherwise(lit(".com")),
        when(col("doc_id") % 5 === 0, lit(":8080")).otherwise(lit("")),
        lit("/p/"), col("doc_id").cast("string")))
    // USER-EXTENDED suffix table (the built-in set plus a synthetic
    // "web.zz" multi-part suffix), applied via the broadcast-joined
    // form — the 100-TB path for the full ~9k-entry PSL. OpsSpec pins
    // withApexDomain ≡ the apexDomain column form.
    val table = graft.ops.Web.DefaultMultiPartSuffixes :+ "web.zz"
    graft.ops.Web.withApexDomain(
        t(spark, dir, "documents")
          .select(graft.ops.Web.host(url).as("host")),
        "host", "apex", table)
      .groupBy(coalesce(col("apex"), lit("(none)")).as("apex"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_hosts"))
      .orderBy("apex")
  }

  /** The Gopher/MassiveText rule bundle
    * ([[graft.ops.GopherRules.qualityFlags]]) over documents with
    * synthesized STRUCTURE (bullet lines, ellipsis endings, #-runs,
    * numeric-only lines layered on by doc_id residue classes) so every
    * rule fires somewhere — per-doc rule columns plus the combined
    * pass flag, all replayed verbatim by the oracle. minWords lowered
    * to 10 for the short synthetic docs (the band is the documented
    * corpus-dependent knob). */
  def q156GopherRules(spark: SparkSession, dir: String): DataFrame = {
    val structured = concat_ws("\n",
      col("text"),
      when(col("doc_id") % 4 === 0, lit("• a bullet item")),
      when(col("doc_id") % 6 === 0, lit("- another list line")),
      when(col("doc_id") % 5 === 0, lit("a trailing thought...")),
      when(col("doc_id") % 9 === 0, lit("#### #tags remain ####")),
      when(col("doc_id") % 7 === 0, lit("42 17 99 31 55 0 8 13 21 34")))
    graft.ops.GopherRules.qualityFlags(
      t(spark, dir, "documents")
        .select(col("doc_id"), structured.as("text")),
      "doc_id", "text", minWords = 10)
      .orderBy("doc_id")
  }

  /** Multi-epoch data recipe end-to-end
    * ([[graft.ops.Sample.epochPlan]] + materializeEpochs): a 1.8x-of-
    * available token budget at 4:3:2:1 weights forces every source to
    * a different epoch count (≈2.88/2.16/1.44/0.72 — full passes plus
    * a deterministic fractional sample), the fan-out materializes via
    * map-side explode, and the realized row/token/epoch counts land
    * beside the plan. The oracle re-derives the whole recipe: exact
    * integer budget, the plan arithmetic in the same operation order,
    * the 10^4 md5 cutoff, and the materialization counts. */
  def q157EpochPlan(spark: SparkSession, dir: String): DataFrame = {
    val weights = Map("src0" -> 4.0, "src1" -> 3.0,
      "src2" -> 2.0, "src3" -> 1.0)
    val tk = t(spark, dir, "documents")
      .where(col("source").isin(weights.keys.toSeq: _*))
      .select(col("doc_id"), col("source"),
        graft.ops.TextStats.tokenCount(col("text")).cast("long").as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val avail = tk.groupBy("source").agg(sum(col("toks")).as("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val budget = avail.values.sum * 9L / 5L // exact integer 1.8x
    val plan = graft.ops.Sample.epochPlan(avail, weights, budget)
    val mat = graft.ops.Sample
      .materializeEpochs(tk, "source", "doc_id", plan)
      .groupBy("source").agg(count(lit(1)).as("__nr"),
        sum(col("toks")).as("__ot"), max(col("epoch")).as("__me"))
    import spark.implicits._
    val planDf = weights.keys.toSeq.sorted
      .map { g => (g, avail(g), plan(g).full.toLong, plan(g).fracRate) }
      .toDF("source", "avail_tokens", "full_epochs", "frac_rate")
    val out = planDf.join(mat, Seq("source"), "left")
      .select(col("source"), col("avail_tokens"), col("full_epochs"),
        round(col("frac_rate"), 6).as("frac_rate"),
        coalesce(col("__nr"), lit(0L)).as("n_rows_out"),
        coalesce(col("__ot"), lit(0L)).as("out_tokens"),
        coalesce(col("__me"), lit(0)).cast("long").as("max_epoch"))
      .orderBy("source")
      .localCheckpoint(true)
    tk.unpersist()
    out
  }

  /** Hard-negative mining for contrastive training
    * ([[graft.ops.SimSearch.hardNegatives]]): for each of the first 8
    * embeddings, the 5 most-similar corpus vectors with a DIFFERENT
    * language label, banded into [0, 0.999] on the rounded cosine (the
    * false-negative cap). Labels ride from the documents table; the
    * oracle replays the full SRP pipeline + label-mismatch rule +
    * similarity band. */
  def q158HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val labeled = t(spark, dir, "embeddings")
      .join(t(spark, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("lang")), Seq("vec_id"))
    graft.ops.SimSearch.hardNegatives(
      labeled.where(col("vec_id") >= 8),
      labeled.where(col("vec_id") < 8),
      "vec_id", "embedding", "lang", m = 5)
      .orderBy(col("query_id"), desc("cosine"), col("vec_id"))
  }

  /** Daily PSI drift series over the event-type mix
    * ([[graft.ops.TimeSeries.psiByPeriod]]): day-over-day population
    * stability of the 5-type distribution across the fixture's 30
    * days — the when-did-it-shift monitor beside q125's two-corpus KL
    * and q139's fixed-reference drift. The oracle re-derives the
    * add-one-smoothed shares on the global type domain and the
    * adjacent-day sum. */
  def q159PsiDrift(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.psiByPeriod(events(spark, dir), "ts", "event_type")

  /** Homoglyph-evasion dedup ([[graft.ops.Confusables]]): every 13th
    * doc is duplicated with its a/e/o substituted by Cyrillic
    * lookalikes — byte-level exact dedup ([[graft.ops.Dedup.exact]])
    * provably cannot collapse those copies, the confusable-skeleton
    * dedup must collapse ALL of them. One summary row pins the three
    * survivor counts; the oracle re-derives them as distinct-key
    * counts with the same translate fold (mapping interpolated from
    * the one Scala table). */
  def q160ConfusableDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val planted = base.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        translate(col("text"), "aeo", "аео").as("text"))
    val staged = base.unionByName(planted)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nIn = staged.count()
    val nEx = graft.ops.Dedup.exact(staged, "doc_id", "text").count()
    val nCf = graft.ops.Confusables
      .dropConfusableDuplicates(staged, "doc_id", "text").count()
    staged.unpersist()
    import spark.implicits._
    Seq((nIn, nEx, nCf, nEx - nCf))
      .toDF("n_input", "n_exact", "n_confusable", "n_homoglyph_only")
  }

  /** C4 line-level cleaning ([[graft.ops.Lines.c4LineFilter]]) over
    * documents with synthesized boilerplate chrome — a navigation stub
    * (no terminal punctuation), a javascript warning (marker), a
    * too-short exclamation, and a second real sentence layered on by
    * residue class. The cleaned text, kept/dropped counts, and C4's
    * at-least-2-kept-lines page rule are all replayed by the oracle. */
  def q161C4Lines(spark: SparkSession, dir: String): DataFrame = {
    val structured = concat_ws("\n",
      concat(col("text"), lit(".")),
      lit("Home | Products | About"),
      when(col("doc_id") % 3 === 0,
        lit("Please enable JavaScript to view this page.")),
      when(col("doc_id") % 4 === 0, lit("Wow!")),
      when(col("doc_id") % 5 === 0,
        lit("A second real sentence with actual words?")))
    graft.ops.Lines.c4LineFilter(
      t(spark, dir, "documents")
        .select(col("doc_id"), structured.as("text")),
      "text", minLineWords = 3)
      .where(col("n_lines_kept") >= 2)
      .select(col("doc_id"), col("n_lines_kept"),
        col("n_lines_dropped"), col("clean_text"))
      .orderBy("doc_id")
  }

  /** The embedding produce→consume loop END-TO-END
    * ([[graft.ml.Embeddings]]): train Word2Vec over the corpus
    * (deterministic 1-partition fit, seed 7), average-embed every
    * document, and run the library's own
    * [[graft.ops.SimSearch.cosineTopK]] over the TRAINED vectors —
    * doc 0's top-5 neighbors. Rows-only oracle (skip-gram training is
    * not SQL-expressible); determinism and the ANN handoff are pinned
    * in MLSpec. */
  def q162W2vAnn(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val model = graft.ml.Embeddings.trainWord2Vec(
      docs, "text", dim = 16, minCount = 5, maxIter = 1, seed = 7L)
    graft.ops.SimSearch.cosineTopK(
      graft.ml.Embeddings.docVectors(model, docs, "doc_id", "text"),
      "doc_id", "embedding", queryId = 0L, k = 5)
  }

  /** Split-assignment stratification QA: assign doc-level iid splits
    * ([[graft.ops.Splits.assign]] keyed on the doc id) and measure how
    * far each split's language mix drifts from the corpus mix — the
    * sanity report every split ships with (a hash split SHOULD be
    * language-balanced; a big deviation means the hash or the key is
    * broken). Exact-integer share arithmetic; the oracle replays the
    * md5 split rule and the max-deviation fold. */
  def q163SplitBalance(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .withColumn("doc_key", col("doc_id").cast("string"))
    val s = graft.ops.Splits.assign(docs, "doc_key")
    val bySplitLang = s.groupBy(col("split").as("__s1"), col("lang").as("__l1"))
      .agg(count(lit(1)).as("__nsl"))
    val bySplit = s.groupBy(col("split").as("__s2"))
      .agg(count(lit(1)).as("__ns"))
    val byLang = s.groupBy(col("lang").as("__l2"))
      .agg(count(lit(1)).as("__nl"))
    val total = s.count()
    bySplitLang
      .join(bySplit, col("__s1") === col("__s2"))
      .join(byLang, col("__l1") === col("__l2"))
      .groupBy(col("__s1").as("split"))
      .agg(max(col("__ns")).as("n_docs"),
        round(max(abs(col("__nsl").cast("double") / col("__ns") -
          col("__nl").cast("double") / lit(total.toDouble))), 6)
          .as("max_lang_dev"))
      .orderBy("split")
  }

  /** Embedding-space outliers: each vector's cosine to its own
    * language's centroid ([[graft.ops.VectorAgg.centroids]] +
    * [[graft.ops.SimSearch.cosine]]), bottom-10 — the embedding-
    * quality QA that surfaces mislabeled or garbage vectors (a doc far
    * from every same-label neighbor is suspicious whatever the
    * labeler said). Centroids are a narrow (label, pos) aggregate that
    * broadcasts back; the scoring is map-side. */
  def q164EmbeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val labeled = t(spark, dir, "embeddings")
      .join(t(spark, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("lang")), Seq("vec_id"))
    val cents = graft.ops.VectorAgg.centroids(labeled, "lang", "embedding")
      .select(col("cluster"), col("centroid"))
    labeled.join(broadcast(cents), col("lang") === col("cluster"))
      .select(col("vec_id"), col("lang"),
        round(graft.ops.SimSearch.cosine(
          col("embedding").cast("array<double>"), col("centroid")), 4)
          .as("cos_centroid"))
      .orderBy(col("cos_centroid").asc, col("vec_id").asc)
      .limit(10)
  }

  /** Incremental corpus ledger certified mergeable
    * ([[graft.ops.Ledger]]): snapshot the two doc_id-parity halves
    * separately (yesterday's ledger + today's delta), merge, and
    * compare against the one-pass whole-corpus snapshot — counts,
    * token volume, sketch states, and the distinct-text estimate must
    * all agree per source. The oracle re-derives both paths (sums +
    * the q150-style rank-k union replay). */
  def q165Ledger(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val k = 64
    val merged = graft.ops.Ledger.merge(
      graft.ops.Ledger.snapshot(
        docs.where(col("doc_id") % 2 === 0), "source", "text", k),
      graft.ops.Ledger.snapshot(
        docs.where(col("doc_id") % 2 === 1), "source", "text", k),
      "source", k)
    val whole = graft.ops.Ledger.snapshot(docs, "source", "text", k)
      .select(col("source").as("__ws"), col("n_docs").as("__wn"),
        col("n_tokens").as("__wt"), col("kmv").as("__wk"))
    graft.ops.Ledger.report(merged, "source", k)
      .join(merged.select(col("source").as("__ms"), col("kmv")),
        col("source") === col("__ms"))
      .join(whole, col("source") === col("__ws"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("est_distinct_texts"), col("dup_ratio"),
        (col("n_docs") === col("__wn") && col("n_tokens") === col("__wt") &&
          col("kmv") === col("__wk")).as("merge_exact"))
      .orderBy("source")
  }

  /** Per-language quality-score quantile panel through the bucketed
    * prefix-sum form ([[graft.ops.Sample.groupQuantilesByBucket]]):
    * p25/p50/p75/p95 per language with aggregate state bounded by
    * langs x 1001 buckets — the corpus-scale alternative to the exact
    * `percentile` aggregate (which buffers every group value). Rank
    * thresholds compare in pure integer arithmetic
    * (cum*10000 >= bp*n), so the oracle replays the construction
    * verbatim with zero float-boundary risk. */
  def q167GroupQuantiles(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sample.groupQuantilesByBucket(
      t(spark, dir, "documents")
        .select(col("lang"),
          graft.ops.TextStats.qualityScore(col("text")).as("quality")),
      "lang", "quality", Seq(0.25, 0.5, 0.75, 0.95), scale = 1000)
      .orderBy("lang", "q")

  /** Per-registrable-domain CAP — the Common-Crawl downsampling step:
    * parse each doc's URL to its apex domain ([[graft.ops.Web.host]] /
    * [[graft.ops.Web.apexDomain]]), keep the k=5 best docs per apex by
    * the q33 quality score ([[graft.ops.Sample.topKPerGroup]] —
    * WindowGroupLimit prunes per-task before the shuffle, so a
    * boilerplate mega-domain ships k rows per task, never its full
    * membership), and report the cap census per apex: total docs,
    * docs kept, and the admission quality floor. Unparseable URLs
    * land in the explicit '(none)' bucket and are capped like any
    * domain. */
  def q168DomainCap(spark: SparkSession, dir: String): DataFrame = {
    val url = when(col("doc_id") % 17 === 0,
      concat(lit("/rel/"), col("doc_id").cast("string")))
      .otherwise(concat(
        lit("https://"),
        lit("sub"), (col("doc_id") % 7).cast("string"),
        lit(".dom"), (col("doc_id") % 13).cast("string"),
        when(col("doc_id") % 3 === 0, lit(".co.uk")).otherwise(lit(".com")),
        lit("/p/"), col("doc_id").cast("string")))
    // localCheckpoint: the scored projection (URL synth + host regex +
    // the quality regex kernels) feeds BOTH the totals and the top-k
    // branches — materialize it once instead of evaluating the regex
    // chain twice over the corpus (q160's pattern)
    val scored = t(spark, dir, "documents")
      .select(col("doc_id"),
        graft.ops.Web.host(url).as("host"),
        graft.ops.TextStats.qualityScore(col("text")).as("quality"))
      .select(col("doc_id"), col("quality"),
        coalesce(graft.ops.Web.apexDomain(col("host")), lit("(none)"))
          .as("apex"))
      .localCheckpoint(true)
    val kept = graft.ops.Sample.topKPerGroup(
      scored, "apex", "quality", "doc_id", k = 5)
    val totals = scored.groupBy(col("apex"))
      .agg(count(lit(1)).as("n_total"))
    val keptAgg = kept.groupBy(col("apex").as("__ka"))
      .agg(count(lit(1)).as("n_kept"), min(col("quality")).as("q_floor"))
    totals.join(keptAgg, col("apex") === col("__ka"))
      .select(col("apex"), col("n_total"), col("n_kept"), col("q_floor"))
      .orderBy("apex")
  }

  /** Compression-ratio repetitiveness signal
    * ([[graft.ops.TextStats.compressionRatio]], zlib level 6):
    * documents with SYNTHESIZED 4x repetition (doc_id % 4 == 0) vs
    * plain, summarized per class (count, avg/min/max ratio at 4
    * decimals) over docs past the 200-char floor — certifying the
    * signal's separating power: the repeated class must compress far
    * below natural prose. zlib output is not SQL-replayable, so the
    * oracle is a pinned-VALUES truth table frozen at sf0.01 from a
    * determinism-proved run (the q86/q87 contract style). */
  def q169CompressionSignal(spark: SparkSession, dir: String): DataFrame = {
    val layered = t(spark, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat_ws(" ", col("text"), col("text"), col("text"), col("text")))
          .otherwise(col("text")).as("t2"),
        (col("doc_id") % 4 === 0).as("repeated"))
      .where(length(col("t2")) >= 200)
    layered
      .select(col("repeated"),
        graft.ops.TextStats.compressionRatio(col("t2")).as("r"))
      .groupBy(col("repeated"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("r")), 4).as("avg_ratio"),
        round(min(col("r")), 4).as("min_ratio"),
        round(max(col("r")), 4).as("max_ratio"))
      .orderBy("repeated")
  }

  /** Weak-supervision quality model end-to-end
    * ([[graft.ml.QualityClassifier]], the FineWeb-edu recipe shape):
    * Gopher rule verdicts become weak labels, a tf-idf +
    * LogisticRegression model fits on them, and the corpus is scored
    * with the smooth P(pass) — summarized per weak-label class
    * (count, mean probability, fraction scored >= 0.5 = model↔rule
    * agreement), certifying the distilled model separates the
    * classes. ML training is not SQL-expressible, so the oracle is a
    * pinned-VALUES truth table frozen at sf0.01 from a
    * determinism-proved run (8- vs 32-thread sessions agree; q134's
    * contract style). */
  def q170QualityModel(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    // minWords/minStopWords tuned to the short synthetic fixture so
    // the weak labels actually MIX (defaults fail every doc on the
    // stop-word rule — a one-class label can't train anything): at
    // these knobs the binding rule is stop-word presence, which is
    // lexically visible to the tf-idf featurizer — the distillation
    // the query certifies (the corpus-dependent band is the same
    // documented knob as q156's)
    val labels = graft.ops.GopherRules
      .qualityFlags(docs, "doc_id", "text", minWords = 10,
        minStopWords = 1)
      .select(col("doc_id").as("__ld"), col("gopher_pass"))
    val labeled = docs.join(labels, col("doc_id") === col("__ld"))
      .drop("__ld")
    val model = graft.ml.QualityClassifier.fit(labeled, "text", "gopher_pass")
    graft.ml.QualityClassifier.score(model, labeled)
      .groupBy(col("gopher_pass"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("p_quality")), 3).as("avg_p"),
        round(avg(when(col("p_quality") >= 0.5, 1.0).otherwise(0.0)), 3)
          .as("frac_ge_half"))
      .orderBy("gopher_pass")
  }

  /** Corrupt-row QUARANTINE ingest contract
    * ([[graft.sources.FormatIO.loadCsvQuarantine]]): a typed CSV feed
    * with PLANTED corruption — an untypeable integer field every
    * doc_id % 13 (value "xx<id>") and a whole-line garbage record
    * every doc_id % 41 — loads without crashing (FAILFAST) and
    * without silent nulls (plain PERMISSIVE): good rows arrive fully
    * typed, corrupt rows land whole in the dead-letter frame. Output
    * is the ingest report both channels agree on: good count + id/tok
    * sums, quarantined count. The oracle replays the PLANTING RULE
    * arithmetically — which is the certification that Spark's parse
    * quarantines exactly the planted rows, no more, no fewer. */
  /** q171's staged corrupt-CSV feed, one per sfDir (see the memoization
    * note inside the query). */
  private val q171Staged =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  def q171CsvQuarantine(spark: SparkSession, dir: String): DataFrame = {
    // the staged feed is memoized PER sfDir: constructing this
    // DataFrame repeatedly (Bench samples each query several times;
    // Explain also builds it) must not leak one temp directory + CSV
    // per construction — one staged file per scale factor, cleaned at
    // JVM exit (dir registered before file: deleteOnExit runs in
    // reverse registration order, so the file goes first)
    val p = q171Staged.computeIfAbsent(dir, { d =>
      val head = t(spark, d, "documents").select("doc_id", "lang")
        .orderBy("doc_id").limit(200)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val tmp = java.nio.file.Files.createTempDirectory("graft_q171_")
      tmp.toFile.deleteOnExit()
      val f = tmp.resolve("feed.csv")
      f.toFile.deleteOnExit()
      val lines = "doc_id,lang,toks" +: head.map { case (id, l) =>
        if (id % 41 == 0) "###garbage-line-no-delimiters###"
        else if (id % 13 == 0) s"$id,$l,xx$id"
        else s"$id,$l,${id % 97}"
      }
      java.nio.file.Files.write(f, lines.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f
    })
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("toks",
        org.apache.spark.sql.types.IntegerType)))
    val (good, bad) = graft.sources.FormatIO.loadCsvQuarantine(
      spark, p.toString, schema)
    val g = good.agg(
      count(lit(1)).as("n_good"),
      coalesce(sum(col("doc_id")), lit(0L)).as("sum_good_ids"),
      coalesce(sum(col("toks").cast("long")), lit(0L)).as("sum_good_toks"))
    val b = bad.agg(count(lit(1)).as("n_quarantined"))
    g.crossJoin(broadcast(b)) // two 1-row aggregates — the report row
  }

  /** Rank-percentile score calibration per language through the
    * SCALE-SAFE prefix-sum form ([[graft.ops.Sample
    * .percentileRankByBucket]]): every doc's quality score becomes
    * its within-language percentile (tie-min semantics) — the
    * shape-free normalization for mixing heterogeneously-scored
    * sources, beside q73's z-score form. No per-language corpus
    * window: one (lang, bucket) hash aggregate + a prefix sum over
    * the <=1001-bucket domain + a broadcast lookup, so a majority-
    * language corpus cannot pile into one sort task. scale=1000 is
    * LOSSLESS for the 3-decimal quality score, so the oracle replays
    * it as plain `percent_rank() OVER (PARTITION BY lang ORDER BY
    * quality)`. */
  def q166RankCalibrate(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sample.percentileRankByBucket(
      t(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          graft.ops.TextStats.qualityScore(col("text")).as("quality")),
      "lang", "quality", "pct_rank", scale = 1000)
      .orderBy("doc_id")

  /** Unigram vocabulary shared by q172/q173, MEMOIZED per sfDir (the
    * q171 staged-feed pattern): Bench samples each query several times
    * and Explain constructs it too, so without the memo every
    * construction re-pays the census + Viterbi-EM fit. Safe to cache —
    * the trainer is deterministic and parallelism-independent by its
    * integer-count construction (UnigramSpec pins it), so every fit
    * over the same corpus returns the same pieces. */
  private val unigramVocabMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[graft.ops.Unigram.Piece]]()
  private def unigramVocab(spark: SparkSession, dir: String)
      : Seq[graft.ops.Unigram.Piece] =
    unigramVocabMemo.computeIfAbsent(dir, { d =>
      graft.ops.Unigram.learnVocab(
        t(spark, d, "documents"), "text",
        vocabSize = 256, maxPieceLen = 6, seedSize = 512, emIters = 1)
    })

  /** Unigram-LM tokenizer TRAINING ([[graft.ops.Unigram.learnVocab]],
    * Kudo 2018's SentencePiece unigram model under the library's
    * deterministic Viterbi-EM contract): the top-32 pieces of a
    * 256-piece vocabulary learned from the documents corpus.
    * Iterative EM + pruning is not SQL-expressible → pinned-VALUES
    * oracle (the q95 pattern); UnigramSpec pins a hand-worked EM
    * example independently. */
  def q172UnigramVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    unigramVocab(spark, dir).take(32).zipWithIndex
      .map { case (p, i) => (i + 1, p.piece, p.count) }
      .toDF("rank", "piece", "piece_count")
      .orderBy("rank")
  }

  /** q174's persisted IVF index, one per sfDir: a FIXED path under
    * the system temp dir (ivfSave overwrites, so repeated JVMs reuse
    * one tree instead of accumulating temp directories — the q171
    * memoization lesson) plus an in-JVM memo so Bench's repeated
    * sampling skips the refit. Deterministic: seeded KMeans over the
    * full frame, the q27/q53 contract. */
  private val q174Index =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q174IndexDir(spark: SparkSession, dir: String): String =
    q174Index.computeIfAbsent(dir, { d =>
      // keyed on a digest of the FULL path (leaf kept for readability):
      // two corpora sharing a leaf name (v1/sf0.01 vs v2/sf0.01) must
      // not clobber each other's persisted index — PLUS a per-process
      // token: the memo map is in-JVM only, so two concurrent bench
      // JVMs on one host sharing a fixed path could interleave one
      // JVM's ivfSave delete with the other's ivfBaselineLoad (and a
      // leftover dir owned by another user would break the overwrite).
      // The dir is registered for deletion at exit so per-process
      // paths don't accumulate across runs.
      val sfName = d.split('/').filter(_.nonEmpty).lastOption.getOrElse("sf")
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val pid = ProcessHandle.current().pid()
      val pathObj = java.nio.file.Paths
        .get(System.getProperty("java.io.tmpdir"),
          s"graft_q174_index_${sfName}_${digest}_p$pid")
      val path = pathObj.toString
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(pathObj.toFile)
      }
      val emb = t(spark, d, "embeddings")
      val idx = graft.ops.SimSearch.ivfFit(emb, "vec_id", "embedding",
        nlist = 16, seed = 42L)
      graft.ops.SimSearch.ivfSave(idx, path)
      // the baseline is part of the corpus VERSION: fit + persist it
      // with the index (ivfSave just invalidated any stale one), so
      // every q174 run LOADS it instead of re-scanning the assigned
      // corpus — the serving shape ivfBaselineSave exists for
      graft.ops.SimSearch.ivfBaselineSave(spark,
        graft.ops.SimSearch.ivfBaselineOf(spark, idx.centers, emb,
          "embedding"), path)
      path
    })

  /** IVF DRIFT MONITOR ([[graft.ops.SimSearch.ivfDriftReport]]): the
    * measurable "refit per corpus version" trigger next to
    * [[graft.ops.SimSearch.ivfAppend]]. A CONTROL ingest batch (an
    * in-distribution fifth of the indexed corpus) must raise neither
    * alert; a PLANTED drifting batch (the same vectors shifted +2.0
    * in every coordinate — an embedder/preprocessing break) must
    * raise both: the cell-share PSI (directional shift, smoothed over
    * the fixed cell domain) and the nearest-center distance ratio
    * (diffuse off-manifold drift). The oracle replays the batch
    * counts arithmetically and asserts the alert contract — the
    * q27/q66 contract-boolean pattern (KMeans internals are not
    * SQL-expressible; the decision they must produce is). */
  def q174IvfDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val idxDir = q174IndexDir(spark, dir)
    val baseline = graft.ops.SimSearch.ivfBaselineLoad(spark, idxDir)
    val control = emb.where(col("vec_id") % 5 === 0)
      .select("vec_id", "embedding")
    val drifted = control.select(
      (col("vec_id") + lit(1000000L)).as("vec_id"),
      transform(col("embedding"), x => x + lit(2.0f)).as("embedding"))
    def report(batch: org.apache.spark.sql.DataFrame, label: String) =
      graft.ops.SimSearch.ivfDriftReport(spark, idxDir, baseline,
        batch, "embedding")
        .select(lit(label).as("batch"), col("n_vectors"),
          col("psi_alert"), col("dist_alert"))
    report(control, "control").unionByName(report(drifted, "drifted"))
      .orderBy("batch")
  }

  /** Curation CLI lifecycle ([[graft.cli.CurateCli]] — the q132/q141
    * pattern for the curation surface): stage the ingest corpus and
    * the benchmark slice as parquet files, drive the CLI end to end
    * through its own arg grammar (`parse` -> `run`: FormatIO load,
    * [[graft.ops.Curate.standard]] with quality/repetition gates,
    * exact+near dedup, decontamination, splits; parquet corpus sink +
    * CSV report sink), then read BOTH sinks back: the six report rows,
    * plus a summary row recomputed from the curated parquet itself
    * (count + (id, split) membership digest) — which must equal the
    * split stage's row, proving the sink holds exactly the final
    * stage's rows. The oracle replays every stage count and digest in
    * SQL (the q57 stage formulas, minus the stages this config leaves
    * off). */
  def q175CliCurate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_q175_")
    try {
      val in = tmp.resolve("corpus.parquet").toString
      val bench = tmp.resolve("bench.parquet").toString
      val outDir = tmp.resolve("curated").toString
      val repPath = tmp.resolve("report.csv").toString
      val docs = t(spark, dir, "documents")
      graft.sources.FormatIO.save("parquet",
        docs.filter(col("doc_id") % 5 =!= 0)
          .select("doc_id", "text", "lang", "source"), in, overwrite = true)
      graft.sources.FormatIO.save("parquet",
        docs.filter(col("doc_id") % 101 === 0)
          .select("doc_id", "text"), bench, overwrite = true)
      val cfg = graft.cli.CurateCli.parse(Seq(
        "--input", in, "--output", outDir, "--report", repPath,
        "--filetype", "parquet", "--benchmark", bench))
        .getOrElse(sys.error("CurateCli.parse rejected a valid arg vector"))
      graft.cli.CurateCli.run(cfg, spark)
      val report = spark.read.option("header", "true").csv(repPath)
        .select(col("stage_idx").cast("int"), col("stage"),
          col("n_rows").cast("long"), col("ids_digest"))
      val curated = spark.read.parquet(outDir)
      val o = curated.agg(
        count(lit(1)),
        coalesce(sum(graft.ops.Profile.rowDigest(
          Seq(col("doc_id"), col("split")))), lit(0).cast("decimal(38,0)")))
        .head()
      val outputRow = Seq((6, "curated_output", o.getLong(0),
        o.getDecimal(1).toBigInteger.toString))
        .toDF("stage_idx", "stage", "n_rows", "ids_digest")
      report.unionByName(outputRow)
        .orderBy("stage_idx")
        .localCheckpoint(true)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** Unigram tokenizer APPLICATION ([[graft.ops.Unigram.tokenize]]):
    * per-doc piece counts + order-sensitive token digests under the
    * q172 vocabulary. Map-only over the corpus (the piece model rides
    * the closure); pinned-VALUES oracle, same contract as q96. */
  def q173UnigramTokens(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Unigram.tokenize(
      t(spark, dir, "documents"), "doc_id", "text",
      unigramVocab(spark, dir))
      .orderBy("doc_id")

  /** The REAL compressed-codec image path under oracle — q90's
    * contract pushed through an actual PNG codec
    * ([[graft.ops.Multimodal.decodeRaster]], the JDK's `javax.imageio`,
    * zero external deps). Deterministic 8x4 RGB is synthesized per
    * embedding row (integer arithmetic on (vec_id, x, y)), encoded as
    * PNG, and then every downstream step decodes the COMPRESSED
    * payload: real dims at ingest, real luminance histogram, real
    * nearest-neighbor resize re-encoded as PNG and decoded again.
    * PNG is lossless, so DuckDB replays the whole chain
    * arithmetically — a green row proves the codec decode bit-exact.
    * Map-only but for the final sort and narrow blob_id joins. */
  def q176PngDecode(spark: SparkSession, dir: String): DataFrame = {
    val genPng = udf((id: Long) => {
      val (w, h) = (8, 4)
      val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val i = 3 * (y * w + x)
        rgb(i) = ((id * 37 + x * 5 + y * 11) % 256).toByte
        rgb(i + 1) = ((id * 23 + x * 13 + y * 7) % 256).toByte
        rgb(i + 2) = ((id * 41 + x * 3 + y * 17) % 256).toByte
      }
      graft.ops.Multimodal.encodePng(w, h, rgb)
    })
    val imgs = t(spark, dir, "embeddings").select(col("vec_id"))
      .withColumn("payload", genPng(col("vec_id")))
    val blobs = graft.ops.Multimodal.asBlobTable(
      imgs, "vec_id", "payload", "image/png")
    def countsOf(feats: DataFrame, pixels: Int, outCol: String): DataFrame =
      feats.select(col("blob_id"),
        concat_ws(",", transform(col("features"),
          f => round(f * lit(pixels)).cast("int").cast("string"))).as(outCol))
    val full = countsOf(
      graft.ops.Multimodal.extractFeatures(blobs, bins = 16), 32, "lum_bins")
    val resized = graft.ops.Multimodal.resize(blobs, maxWidth = 4)
    val resizedDims = resized.select(col("blob_id"),
      col("meta.width").as("r_width"), col("meta.height").as("r_height"))
    val resizedBins = countsOf(
      graft.ops.Multimodal.extractFeatures(resized, bins = 16), 8, "r_lum_bins")
    blobs.select(col("blob_id"), col("meta.width").as("width"),
        col("meta.height").as("height"))
      .join(full, Seq("blob_id"))
      .join(resizedDims, Seq("blob_id"))
      .join(resizedBins, Seq("blob_id"))
      .orderBy("blob_id")
  }

  /** JPEG through the same codec path: lossy, so the oracle checks
    * what survives a lossy round-trip EXACTLY — decoded dimensions
    * (odd 11x7 exercises MCU padding), the decoded pixel count
    * recovered from the L1-normalized histogram, and the
    * resize-to-PNG dims (JPEG in, lossless PNG out). Pixel fidelity
    * is spec territory (MultimodalSpec bounds the error); the oracle
    * row proves the codec DECODED rather than fell to the byte stub —
    * a stub payload would report neither 11x7 nor 77 pixels. */
  def q177JpegDims(spark: SparkSession, dir: String): DataFrame = {
    val genJpeg = udf((id: Long) => {
      val (w, h) = (11, 7)
      val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val i = 3 * (y * w + x)
        val v = ((id * 7 + x * 2 + y * 3) % 200 + 28).toByte
        rgb(i) = v; rgb(i + 1) = v; rgb(i + 2) = v
      }
      graft.ops.Multimodal.encodeJpeg(w, h, rgb)
    })
    val imgs = t(spark, dir, "embeddings").select(col("vec_id"))
      .withColumn("payload", genJpeg(col("vec_id")))
    val blobs = graft.ops.Multimodal.asBlobTable(
      imgs, "vec_id", "payload", "image/jpeg")
    def pixelsOf(feats: DataFrame, pixels: Int, outCol: String): DataFrame =
      feats.select(col("blob_id"),
        aggregate(transform(col("features"),
            f => round(f * lit(pixels)).cast("int")),
          lit(0), (acc, v) => acc + v).as(outCol))
    val full = pixelsOf(
      graft.ops.Multimodal.extractFeatures(blobs, bins = 16), 77, "n_pixels")
    val resized = graft.ops.Multimodal.resize(blobs, maxWidth = 4)
    val resizedDims = resized.select(col("blob_id"),
      col("meta.width").as("r_width"), col("meta.height").as("r_height"))
    val resizedPixels = pixelsOf(
      graft.ops.Multimodal.extractFeatures(resized, bins = 16), 8, "r_pixels")
    blobs.select(col("blob_id"), col("meta.width").as("width"),
        col("meta.height").as("height"))
      .join(full, Seq("blob_id"))
      .join(resizedDims, Seq("blob_id"))
      .join(resizedPixels, Seq("blob_id"))
      .orderBy("blob_id")
  }

  /** REAL video under oracle: a 4-frame uncompressed AVI (RIFF
    * container, bottom-up BGR DIB frames — [[graft.ops.Video]]) is
    * muxed per embedding row from deterministic RGB, then the engine
    * parses the container FOR REAL — ingest metadata (n_frames,
    * duration from avih), frame sampling at stride 2, per-frame
    * decode (un-pad + row flip; width 5 forces row padding) and the
    * shared luminance kernel — all replayed arithmetically by DuckDB
    * (raw DIB is lossless). A parallel 2-frame Motion-JPEG AVI proves
    * the in-container compressed path: frame 1 (a non-zero offset)
    * decodes through javax.imageio to exact 11x7 dims. Payloads stay
    * in map stages; only (blob_id, narrow features) shuffle for the
    * final pivot/joins. */
  def q178VideoFrames(spark: SparkSession, dir: String): DataFrame = {
    def rgbAt(id: Long, f: Int, w: Int, h: Int): Array[Byte] = {
      val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val i = 3 * (y * w + x)
        rgb(i) = ((id * 13 + f * 19 + x * 7 + y * 3) % 256).toByte
        rgb(i + 1) = ((id * 11 + f * 23 + x * 5 + y * 17) % 256).toByte
        rgb(i + 2) = ((id * 19 + f * 29 + x * 11 + y * 13) % 256).toByte
      }
      rgb
    }
    val genAvi = udf((id: Long) =>
      graft.ops.Video.encodeAvi(5, 4, fps = 10,
        (0 until 4).map(f => rgbAt(id, f, 5, 4))))
    val genMjpeg = udf((id: Long) => {
      def gray(f: Int): Array[Byte] = Array.tabulate(11 * 7 * 3) { i =>
        val p = i / 3
        ((id * 7 + f * 5 + (p % 11) * 2 + (p / 11) * 3) % 200 + 28).toByte
      }
      graft.ops.Video.encodeAvi(11, 7, fps = 5,
        (0 until 2).map(gray), mjpeg = true)
    })
    val ids = t(spark, dir, "embeddings").select(col("vec_id"))
    val blobs = graft.ops.Multimodal.asBlobTable(
      ids.withColumn("payload", genAvi(col("vec_id"))),
      "vec_id", "payload", "video/x-msvideo")
    val mjBlobs = graft.ops.Multimodal.asBlobTable(
      ids.withColumn("payload", genMjpeg(col("vec_id"))),
      "vec_id", "payload", "video/x-msvideo")
    val ff = graft.ops.Video.frameFeatures(blobs, stride = 2, bins = 16)
      .select(col("blob_id"), col("frame_idx"),
        concat_ws(",", transform(col("features"),
          f => round(f * lit(20)).cast("int").cast("string"))).as("bins"))
    val wide = ff.groupBy("blob_id").agg(
      max(when(col("frame_idx") === 0, col("bins"))).as("f0_bins"),
      max(when(col("frame_idx") === 2, col("bins"))).as("f2_bins"))
    val mj = graft.ops.Video.frameFeatures(mjBlobs, stride = 1, bins = 16)
      .where(col("frame_idx") === 1)
      .select(col("blob_id"), col("width").as("mj_width"),
        col("height").as("mj_height"))
    val mjMeta = mjBlobs.select(col("blob_id"),
      col("meta.n_frames").as("mj_frames"))
    blobs.select(col("blob_id"), col("meta.n_frames").as("n_frames"),
        col("meta.duration_ms").as("duration_ms"))
      .join(wide, Seq("blob_id"))
      .join(mjMeta, Seq("blob_id"))
      .join(mj, Seq("blob_id"))
      .orderBy("blob_id")
  }

  /** q180/q181's WordPiece vocabulary, one fit per sfDir (the q172
    * memoization pattern — Bench's repeated sampling pays the fit
    * once): deterministic and parallelism-independent by construction
    * (exact Long counts, total tie order; WordPieceSpec pins the
    * likelihood criterion by hand). */
  private val wordPieceMemo = new java.util.concurrent.ConcurrentHashMap[
    String, graft.ops.WordPiece.Vocab]()
  private def wordPieceVocab(spark: SparkSession, dir: String)
      : graft.ops.WordPiece.Vocab =
    wordPieceMemo.computeIfAbsent(dir, { d =>
      graft.ops.WordPiece.learnVocab(
        t(spark, d, "documents"), "text", numMerges = 24)
    })

  /** WordPiece tokenizer TRAINING ([[graft.ops.WordPiece.learnVocab]],
    * Schuster & Nakajima 2012 — the BERT family): 24 merges by the
    * LIKELIHOOD criterion (count(lr)/(count(l)·count(r)) — the thing
    * that separates WordPiece from q95's frequency-merge BPE) over
    * the documents corpus. Iterative merging is not SQL-expressible →
    * pinned-VALUES oracle (the q95 pattern; integer counts only, the
    * score stays implied so no floats cross engines). */
  def q180WordpieceVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    wordPieceVocab(spark, dir).merges
      .map(m => (m.rank, m.piece, m.pairCount, m.leftCount, m.rightCount))
      .toDF("rank", "piece", "pair_count", "left_count", "right_count")
      .orderBy("rank")
  }

  /** WordPiece APPLICATION ([[graft.ops.WordPiece.tokenize]]): BERT's
    * greedy longest-match-first walk with whole-word [UNK] under the
    * q180 vocabulary. Map-only over the corpus (the piece set rides
    * the closure); pinned-VALUES oracle, the q96/q173 contract. */
  def q181WordpieceTokens(spark: SparkSession, dir: String): DataFrame =
    graft.ops.WordPiece.tokenize(
      t(spark, dir, "documents"), "doc_id", "text",
      wordPieceVocab(spark, dir))
      .orderBy("doc_id")

  /** Luhn-gated payment-card redaction under oracle
    * ([[graft.ops.Redact.redactCards]]): a deterministic 16-digit PAN
    * is planted per document — 15 payload digits from (doc_id, i)
    * arithmetic plus the TRUE Luhn check digit for doc_id%3==0 rows,
    * a perturbed (checksum-failing) digit for doc_id%3==1 rows, no
    * card at all for the rest — and the operator must redact exactly
    * the valid third: the checksum, not the digit-run shape, is the
    * gate. All planting is Catalyst arithmetic the oracle replays in
    * DuckDB list algebra (including the check-digit computation).
    * Map-only but for the final sort; pure codegen HOFs, no UDF. */
  def q182CardRedact(spark: SparkSession, dir: String): DataFrame = {
    val pay = transform(sequence(lit(0), lit(14)),
      i => pmod(col("doc_id") * (i * 3 + 7), lit(10)))
    val lsum = aggregate(sequence(lit(1), lit(15)), lit(0), (acc, k) => {
      val d = element_at(pay, k).cast("int")
      acc + when(pmod(k - 1, lit(2)) === 0,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    val check = pmod(lit(10) - pmod(lsum, lit(10)), lit(10))
    val used = when(pmod(col("doc_id"), lit(3)) === 1,
      pmod(check + 5, lit(10))).otherwise(check)
    val card = concat(
      concat_ws("", transform(pay, d => d.cast("string"))),
      used.cast("string"))
    val staged = when(pmod(col("doc_id"), lit(3)) === 2, col("text"))
      .otherwise(concat(col("text"), lit(" card "), card, lit(" end")))
    t(spark, dir, "documents").select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        size(graft.ops.Redact.cardCandidates(staged)).as("n_card"),
        md5(graft.ops.Redact.redactCards(staged).cast("binary"))
          .as("red_digest"))
      .orderBy("doc_id")
  }

  /** COMPRESSED audio under oracle — G.711 µ-law (the telephony
    * codec) through the real WAV chunk walk: deterministic µ-law
    * bytes are synthesized per embedding row, wrapped in a format-7
    * RIFF container, and [[graft.ops.Multimodal.decodeWav]] must
    * expand them to linear 16-bit PCM (integer bit arithmetic the
    * oracle replays in DuckDB) before the q91 feature kernel runs.
    * Map-only but for the final sort. */
  def q183UlawDecode(spark: SparkSession, dir: String): DataFrame = {
    val genUlaw = udf((id: Long) => {
      val n = 48
      val bytes = Array.tabulate(n)(i => ((id * 13 + i * 7) % 256).toByte)
      graft.ops.Multimodal.encodeWavG711(8000, 1, bytes)
    })
    val blobs = t(spark, dir, "embeddings")
      .select(col("vec_id").as("blob_id"), genUlaw(col("vec_id")).as("data"))
    graft.ops.Multimodal.extractAudioFeatures(blobs)
      .select(col("blob_id"), col("sample_rate"), col("n_samples"),
        col("peak_abs"), col("zero_crossings"), col("sum_sq"))
      .orderBy("blob_id")
  }

  /** Product quantization under a contract oracle (the q27/q66/q174
    * pattern — PQ ranks are approximate by design, so the oracle
    * checks the SERVING CONTRACT, not the ranking): m=16 seeded
    * subspace codebooks of k=32 over the embeddings corpus, every
    * vector encoded to 16 code indices (16 bytes at k<=256 vs 256
    * raw float bytes — 16x), then ADC search for query 0 must (a)
    * rank the query's own encoding first (its ADC distance is pure
    * quantization error), (b) recover >= 8 of the exact top-10 inside
    * the top-100 rerank window (the IVF+PQ production shape), (c) be
    * deterministic across repeated searches, and (d) produce a
    * non-degenerate code space. Corpus-side search reads CODES ONLY —
    * the 100 TB point: float vectors stay cold. */
  /** q184's PQ model, one fit per sfDir (the q172/q180 memoization
    * pattern — the 16 subspace KMeans fits are deterministic, so
    * Bench's repeated sampling pays them once). */
  private val pqModelMemo = new java.util.concurrent.ConcurrentHashMap[
    String, graft.ops.SimSearch.PqModel]()

  def q184PqRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = t(spark, dir, "embeddings")
    val model = pqModelMemo.computeIfAbsent(dir, { d =>
      graft.ops.SimSearch.pqFit(
        t(spark, d, "embeddings"), "vec_id", "embedding", m = 16, k = 32)
    })
    val codes = graft.ops.SimSearch.pqEncode(
      emb, "vec_id", "embedding", model).persist()
    try {
      val n = codes.count()
      val nDistinct = codes.select(col("codes").cast("array<string>"))
        .distinct().count()
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val top = graft.ops.SimSearch.pqSearch(
        codes, "vec_id", model, q, topK = 100).collect()
      val again = graft.ops.SimSearch.pqSearch(
        codes, "vec_id", model, q, topK = 100).collect()
      // unit-norm fixture: exact cosine order IS exact L2 order
      val exact = graft.ops.SimSearch.cosineTopK(
        emb, "vec_id", "embedding", 0L, 10).collect().map(_.getLong(0)).toSet
      val window = top.map(_.getLong(0)).toSet
      Seq((model.m, model.k, model.dsub,
        model.m * model.dsub * 4 / model.m, // raw float bytes per code int
        n, nDistinct > n / 10,
        top.head.getLong(0) == 0L,
        exact.intersect(window).size >= 8,
        top.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
          again.map(r => (r.getLong(0), r.getDouble(1))).toSeq))
        .toDF("m", "k", "dsub", "compression_x", "n_codes",
          "diverse_codes", "self_top1", "recall_ok", "deterministic")
    } finally { codes.unpersist(); () }
  }

  /** Parquet FOOTER census under oracle
    * ([[graft.sources.ParquetMeta]]): lineitem's order keys are
    * staged into four contiguous key-range partitions, then the
    * row-group statistics are read back from FILE METADATA ONLY (no
    * data pages) and a range-probe skipping report derived — and the
    * oracle replays the same numbers from the DATA, so a footer
    * census that disagrees with its own pages goes red. Buckets 2–3
    * sit entirely above the probe's high edge: the report must call
    * them skippable, which is exactly the row-group pruning a 100 TB
    * scan's predicate pushdown performs. */
  def q185FooterCensus(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q185_")
    try {
      val lay = tmp.resolve("lay").toString
      val li = t(spark, dir, "lineitem").select(col("l_orderkey"))
      val mx = li.agg(max("l_orderkey")).head().getLong(0)
      li.withColumn("bucket",
          least(floor(col("l_orderkey") * 4 / (mx + 1)), lit(3)).cast("int"))
        .repartition(col("bucket"))
        .write.partitionBy("bucket").mode("overwrite").parquet(lay)
      val stats = graft.sources.ParquetMeta.rowGroupStats(
        spark, lay, "l_orderkey")
        .withColumn("bucket",
          regexp_extract(col("file"), "bucket=(\\d+)", 1).cast("int"))
      val rep = graft.sources.ParquetMeta.skippingReport(
        stats, lo = mx / 4, hi = mx / 2)
      rep.groupBy("bucket").agg(
          sum("n_rows").as("n_rows"),
          min("col_min").as("key_min"),
          max("col_max").as("key_max"),
          (min(when(col("skippable"), 1).otherwise(0)) === 1).as("skippable"))
        .orderBy("bucket")
        .localCheckpoint(true)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** q186's persisted IVF+PQ index, one per sfDir (the q174 path
    * discipline: digest-keyed, pid-scoped, shutdown-hook cleaned;
    * fitted+saved once per JVM, every query run LOADS it — the
    * fit-once/serve-many shape the composition exists for). */
  private val q186Index =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q186IndexDir(spark: SparkSession, dir: String): String =
    q186Index.computeIfAbsent(dir, { d =>
      val sfName = d.split('/').filter(_.nonEmpty).lastOption.getOrElse("sf")
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val pid = ProcessHandle.current().pid()
      val pathObj = java.nio.file.Paths
        .get(System.getProperty("java.io.tmpdir"),
          s"graft_q186_ivfpq_${sfName}_${digest}_p$pid")
      val path = pathObj.toString
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(pathObj.toFile)
      }
      graft.ops.SimSearch.ivfPqSave(
        graft.ops.SimSearch.ivfPqFit(
          t(spark, d, "embeddings"), "vec_id", "embedding",
          nlist = 16, m = 16, k = 32, seed = 42L),
        path)
      path
    })

  /** IVF+PQ composed serving under a contract oracle (the q184
    * pattern — ADC ranks are approximate by design, so the oracle
    * checks the SERVING GUARANTEES, which the Spark side must earn):
    * the persisted index (q186IndexDir — codes partitioned by cell,
    * shared codebooks, `_kind`-guarded) serves query 0 and must
    * (a) rank the query's own code first under the PRODUCTION
    * nprobe=4 pruning (its cell is its nearest center by
    * construction), (b) reproduce flat [[graft.ops.SimSearch
    * .pqSearch]] EXACTLY at nprobe=nlist (shared raw-vector
    * codebooks — the composition adds pruning, not error),
    * (c) recover a clear majority (>= 6) of the exact cosine top-10
    * inside the half-probe top-100 rerank window (see the bar note
    * below), and (d) be deterministic across repeated
    * probed searches. Geometry and corpus count are exact constants.
    * The pruned scan reads ~nprobe/nlist of the code bytes at the
    * FILE level (partitioned layout) — the last O(corpus)-per-query
    * serving path closed. */
  def q186IvfPqServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = t(spark, dir, "embeddings")
    val idx = graft.ops.SimSearch.ivfPqLoad(
      spark, q186IndexDir(spark, dir), "vec_id")
    val q = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pruned = rows(graft.ops.SimSearch.ivfPqSearch(idx, q, 100, nprobe = 4))
    val prunedAgain =
      rows(graft.ops.SimSearch.ivfPqSearch(idx, q, 100, nprobe = 4))
    // recall window at nprobe=8 (half the cells), bar 6/10: IVF
    // recall is a property of the DATA's cluster structure — the
    // near-uniform 64-dim fixture spreads the true top-10 across
    // many cells (sf0.001 measures 7/10 at half-probe, sf0.01+
    // >= 8), so the scale-stable guarantee worth pinning is a clear
    // majority at 2x pruning; the quantization-only >= 8/10 bar is
    // q184's (flat window), and full-probe parity is exact below.
    // BAR PROVENANCE (pin, not property): 6/10 is an empirical floor
    // measured on the driver fixtures at sf0.001/sf0.01/sf0.1 (one
    // bit of headroom at the worst sf) — the TESTED SF SET for this
    // constant. A new scale factor or a regenerated fixture must
    // re-measure half-probe recall before trusting this row; the
    // by-construction guarantees (self_top1, parity_flat at
    // nprobe=nlist, determinism) hold at any sf and need no bar.
    val halfProbe =
      rows(graft.ops.SimSearch.ivfPqSearch(idx, q, 100, nprobe = 8))
    val probedAll =
      rows(graft.ops.SimSearch.ivfPqSearch(idx, q, 100, nprobe = 16))
    val flat = rows(graft.ops.SimSearch.pqSearch(
      idx.codes.select("vec_id", "codes"), "vec_id", idx.model, q, 100))
    // unit-norm fixture: exact cosine order IS exact L2 order
    val exact = graft.ops.SimSearch.cosineTopK(
      emb, "vec_id", "embedding", 0L, 10).collect().map(_.getLong(0)).toSet
    val nCodes = idx.codes.count()
    Seq((16, idx.model.m, idx.model.k, idx.model.dsub, nCodes,
      pruned.head._1 == 0L,
      probedAll == flat,
      exact.intersect(halfProbe.map(_._1).toSet).size >= 6,
      pruned == prunedAgain))
      .toDF("nlist", "m", "k", "dsub", "n_codes",
        "self_top1", "parity_flat", "recall_ok", "deterministic")
  }

  /** TYPED parquet footer census under oracle (q185's sibling for
    * text- and time-keyed layouts — the common case for crawl
    * corpora): orders is staged partitioned by its priority class,
    * then the row-group statistics for the STRING key
    * (o_orderpriority) and the TIMESTAMP column (o_orderdate) are
    * read back from FILE METADATA ONLY — logical-type decode, honest
    * cross-type nulls — and a string range probe's skipping report
    * derived (sound on bounds: footer string stats may be truncated
    * prefixes). The oracle replays every number from the DATA, so a
    * footer decode that disagrees with its own pages goes red.
    * Timestamps surface as formatted UTC strings (both engines
    * truncate to seconds identically). */
  def q189TypedFooterCensus(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q189_")
    val prevTs = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      // INT96 carries no usable stats — stage the annotated int64 form
      spark.conf.set("spark.sql.parquet.outputTimestampType",
        "TIMESTAMP_MICROS")
      val lay = tmp.resolve("lay").toString
      t(spark, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderdate"),
          substring(col("o_orderpriority"), 1, 1).as("bucket"))
        .repartition(col("bucket"))
        .write.partitionBy("bucket").mode("overwrite").parquet(lay)
      def statsOf(column: String) =
        graft.sources.ParquetMeta.rowGroupStats(spark, lay, column)
          .withColumn("bucket",
            regexp_extract(col("file"), "bucket=(\\d+)", 1))
      val pri = graft.sources.ParquetMeta.skippingReportString(
        statsOf("o_orderpriority"), lo = "2", hi = "3")
        .groupBy("bucket").agg(
          sum("n_rows").as("n_rows"),
          min("col_min_str").as("pri_min"),
          max("col_max_str").as("pri_max"),
          (min(when(col("skippable"), 1).otherwise(0)) === 1).as("skippable"))
      val ts = statsOf("o_orderdate")
        .groupBy("bucket").agg(
          date_format(min("col_min_ts"), "yyyy-MM-dd HH:mm:ss").as("ts_min"),
          date_format(max("col_max_ts"), "yyyy-MM-dd HH:mm:ss").as("ts_max"))
      pri.join(ts, Seq("bucket")).orderBy("bucket").localCheckpoint(true)
    } finally {
      spark.conf.set("spark.sql.parquet.outputTimestampType", prevTs)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** q190's persisted IVF+PQ index with an APPENDED batch, one per
    * sfDir (the q186 path discipline): fit+save on the 4/5 base,
    * ivfPqAppend the 1/5 batch — once per JVM; every query run
    * serves from the loaded index. */
  private val q190Index =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q190IndexDir(spark: SparkSession, dir: String): String =
    q190Index.computeIfAbsent(dir, { d =>
      val sfName = d.split('/').filter(_.nonEmpty).lastOption.getOrElse("sf")
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val pid = ProcessHandle.current().pid()
      val pathObj = java.nio.file.Paths
        .get(System.getProperty("java.io.tmpdir"),
          s"graft_q190_ivfpqapp_${sfName}_${digest}_p$pid")
      val path = pathObj.toString
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(pathObj.toFile)
      }
      val emb = t(spark, d, "embeddings")
      graft.ops.SimSearch.ivfPqSave(
        graft.ops.SimSearch.ivfPqFit(
          emb.where(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
          nlist = 16, m = 16, k = 32, seed = 42L),
        path)
      // the EXACTLY-ONCE path: the batch lands under its ledger id,
      // so q190 can prove a replayed id is a no-op
      graft.ops.SimSearch.ivfPqAppend(spark, path,
        emb.where(col("vec_id") % 5 === 0), "vec_id", "embedding",
        batchId = Some(1L))
      path
    })

  /** q192/q193's synthetic image corpus: one 36x24 gradient image
    * per embedding id (pixel (x,y): r=(id·7+x·5+y·3)%256,
    * g=(id·11+x·3)%256, b=(y·13+id)%256 — closed-form, so the oracle
    * replays every pixel) PLUS a 2x pixel-replicated copy at id+10000
    * — a planted near-duplicate (area-pooled dHash is invariant under
    * replication). Containers alternate P6/PNG per id, and each
    * copy uses the OPPOSITE codec — the pairs cross codecs, which is
    * exactly what perceptual (not byte-level) dedup exists for. */
  private def q192Blobs(spark: SparkSession, dir: String): DataFrame = {
    def pix(id: Long, x: Int, y: Int): (Byte, Byte, Byte) = (
      ((id * 7 + x * 5 + y * 3) % 256).toByte,
      ((id * 11 + x * 3) % 256).toByte,
      ((y * 13 + id) % 256).toByte)
    def raster(id: Long, w: Int, h: Int, scale: Int): Array[Byte] = {
      val rgb = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val (r, g, b) = pix(id, x / scale, y / scale)
          val i = 3 * (y * w + x)
          rgb(i) = r; rgb(i + 1) = g; rgb(i + 2) = b
          x += 1
        }
        y += 1
      }
      rgb
    }
    val gen = udf((id: Long) => {
      val rgb = raster(id, 36, 24, 1)
      if (id % 2 == 0) graft.ops.Multimodal.encodePpm(36, 24, rgb)
      else graft.ops.Multimodal.encodePng(36, 24, rgb)
    })
    val gen2x = udf((id: Long) => {
      val rgb = raster(id, 72, 48, 2)
      if (id % 2 == 0) graft.ops.Multimodal.encodePng(72, 48, rgb)
      else graft.ops.Multimodal.encodePpm(72, 48, rgb)
    })
    val ids = t(spark, dir, "embeddings").select(col("vec_id"))
    ids.select(col("vec_id").as("blob_id"), gen(col("vec_id")).as("data"))
      .unionByName(ids.select((col("vec_id") + 10000L).as("blob_id"),
        gen2x(col("vec_id")).as("data")))
  }

  /** Perceptual image hashing under oracle
    * ([[graft.ops.Multimodal.perceptualHash]] — dHash, Krawetz
    * 2011): every synthesized image (and its cross-codec 2x copy)
    * decodes through the REAL codec paths and pools to the 64-bit
    * difference hash; the oracle replays the hash BIT FOR BIT from
    * the pixel formula (integer cell sums on the 9x8 grid, strict
    * right-neighbor comparisons) — the 2x copies must land on the
    * base image's exact bits (area-pooling invariance). Map-only but
    * for the final sort; payloads never shuffle. */
  def q192ImagePhash(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.perceptualHash(q192Blobs(spark, dir))
      .select(col("blob_id"), col("width"), col("height"),
        lpad(bin(col("dhash")), 64, "0").as("bits"))
      .orderBy("blob_id")

  /** IMAGE near-duplicate pairs under oracle
    * ([[graft.ops.Multimodal.imageNearDupPairs]] — the multimodal
    * dedup modality): perceptual hashes through the banded Hamming
    * join (16-bit chunk buckets; EXACT recall for the threshold by
    * pigeonhole, never all-pairs), so every planted cross-codec
    * rescaled copy must pair with its base at Hamming 0 — and the
    * oracle BRUTE-FORCES the full pair set over the replayed bits
    * (BITSTRING xor), so the bucketed plan must reproduce exactly
    * what an all-pairs scan would find, incidental collisions
    * included. */
  def q193ImageNeardup(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.imageNearDupPairs(
      q192Blobs(spark, dir), maxHamming = 2)
      .orderBy("id_a", "id_b")

  /** Audio fingerprinting under oracle
    * ([[graft.ops.Multimodal.audioPerceptualHash]] — the envelope
    * dHash): deterministic G.711 µ-law telephony WAVs are
    * synthesized per embedding id (the q183 byte formula, 130
    * samples → 65 uniform 2-sample windows) plus a 2x
    * SAMPLE-REPLICATED copy at id+10000, decoded through the REAL
    * chunk walk + µ-law expansion, and pooled to the 64-bit envelope
    * hash — which the oracle replays BIT FOR BIT (µ-law integer
    * arithmetic + window sums + strict right-neighbor compare); the
    * upsampled copies must land on the base bits (pooling is
    * replication-invariant). Map-only but for the final sort. */
  def q194AudioPhash(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.audioPerceptualHash(q194Blobs(spark, dir))
      .select(col("blob_id"), col("sample_rate"), col("n_samples"),
        lpad(bin(col("ahash")), 64, "0").as("bits"))
      .orderBy("blob_id")

  /** q194/q195's synthetic audio corpus: one 130-sample µ-law WAV per
    * embedding id (the q183 byte formula — closed-form, so the oracle
    * replays every sample) plus a 2x SAMPLE-REPLICATED copy at
    * id+10000 — a planted near-duplicate (65-window pooling is
    * replication-invariant on the aligned length). */
  private def q194Blobs(spark: SparkSession, dir: String): DataFrame = {
    val n = 130
    val genBase = udf((id: Long) => {
      val bytes = Array.tabulate(n)(i => ((id * 13 + i * 7) % 256).toByte)
      graft.ops.Multimodal.encodeWavG711(8000, 1, bytes)
    })
    val gen2x = udf((id: Long) => {
      val bytes = Array.tabulate(2 * n)(i =>
        ((id * 13 + (i / 2) * 7) % 256).toByte)
      graft.ops.Multimodal.encodeWavG711(8000, 1, bytes)
    })
    val ids = t(spark, dir, "embeddings").select(col("vec_id"))
    ids.select(col("vec_id").as("blob_id"), genBase(col("vec_id")).as("data"))
      .unionByName(ids.select((col("vec_id") + 10000L).as("blob_id"),
        gen2x(col("vec_id")).as("data")))
  }

  /** AUDIO near-duplicate pairs under oracle
    * ([[graft.ops.Multimodal.audioNearDupPairs]] — q193's proof
    * pattern for the audio modality): the q194 fixture (deterministic
    * µ-law WAVs + 2x sample-replicated copies) runs through the
    * banded Hamming join (16-bit chunk buckets; EXACT recall for the
    * threshold by pigeonhole, never all-pairs), so every planted
    * upsampled copy must pair with its base at Hamming 0 — and the
    * oracle BRUTE-FORCES the full pair set over the bit-for-bit
    * replayed envelope hashes (BITSTRING xor), so the bucketed plan
    * must reproduce exactly what an all-pairs scan would find,
    * incidental collisions included. */
  def q195AudioNeardup(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.audioNearDupPairs(
      q194Blobs(spark, dir), maxHamming = 2)
      .orderBy("id_a", "id_b")

  /** q197's two persisted IVF+PQ indexes at EQUAL geometry — shared
    * raw-vector codebooks vs per-cell RESIDUAL codebooks — one pair
    * per sfDir (the q186 path discipline: fit+save once per JVM,
    * every query run loads and serves). */
  private val q197Index =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def q197IndexDirs(spark: SparkSession, dir: String): (String, String) =
    q197Index.computeIfAbsent(dir, { d =>
      val sfName = d.split('/').filter(_.nonEmpty).lastOption.getOrElse("sf")
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val pid = ProcessHandle.current().pid()
      val base = java.nio.file.Paths
        .get(System.getProperty("java.io.tmpdir"),
          s"graft_q197_res_${sfName}_${digest}_p$pid")
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(base.toFile)
      }
      val emb = t(spark, d, "embeddings")
      val shared = base.resolve("shared").toString
      val res = base.resolve("residual").toString
      graft.ops.SimSearch.ivfPqSave(
        graft.ops.SimSearch.ivfPqFit(emb, "vec_id", "embedding",
          nlist = 16, m = 16, k = 32, seed = 42L), shared)
      graft.ops.SimSearch.ivfPqSave(
        graft.ops.SimSearch.ivfPqFit(emb, "vec_id", "embedding",
          nlist = 16, m = 16, k = 32, seed = 42L, residual = true), res)
      (shared, res)
    })

  /** Mean squared RECONSTRUCTION error of an index's own codes — the
    * k-means objective the codebooks minimized, measured over the
    * whole corpus in one map pass (codes ⋈ vectors on the id): for
    * each row, decode its code word per subspace and sum the squared
    * gap to the (residual or raw) input the encoder saw. The number
    * q197 holds the residual-vs-shared trade to. */
  private def q197MeanSelfError(idx: graft.ops.SimSearch.IvfPqIndex,
                                emb: org.apache.spark.sql.DataFrame): Double = {
    val spark = emb.sparkSession
    val bcModel = spark.sparkContext.broadcast(idx.model)
    val bcCenters = spark.sparkContext.broadcast(idx.centers)
    val bcRot = spark.sparkContext.broadcast(idx.rotation)
    val isRes = idx.residual
    val errU = udf((v: Seq[Double], cell: Int, cs: Seq[Int]) => {
      val m = bcModel.value
      // an OPQ index quantizes in the rotated space — measure the
      // error where the codebooks live (rotation preserves L2, so
      // this is also the raw-space reconstruction error)
      val y = bcRot.value match {
        case Some(r) => graft.ops.SimSearch.rotateVec(r, v.toArray)
        case None => v.toArray
      }
      val base =
        if (isRes) {
          val c = bcCenters.value(cell)
          Array.tabulate(y.length)(i => y(i) - c(i))
        } else y
      var s = 0.0
      var j = 0
      while (j < m.m) {
        val cb = m.codebooks(j)(cs(j))
        var p = 0
        while (p < m.dsub) {
          val dd = base(j * m.dsub + p) - cb(p)
          s += dd * dd; p += 1
        }
        j += 1
      }
      s
    })
    idx.codes
      .join(emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("__v")), "vec_id")
      .select(avg(errU(col("__v"), col("__cell"), col("codes"))))
      .head().getDouble(0)
  }

  /** RESIDUAL IVF+PQ under a contract oracle (the q184/q186 pattern —
    * ADC ranks are approximate by design, so the oracle checks the
    * guarantees the opt-in encoding must earn at EQUAL geometry
    * vs the shared-codebook default, both persisted and loaded):
    * (a) the residual index round-trips through its DISTINCT
    * `ivfpq_res` kind and a loaded serve equals the in-memory serve;
    * (b) a residual query self-matches under production nprobe;
    * (c) TIGHTER QUANTIZATION — the corpus mean squared
    * reconstruction error under residual codebooks is <= the shared
    * default's (the point of spending the same m×k bits on the
    * near-origin residual distribution); (d) half-probe recall of
    * the exact top-10 is >= the shared default's on this fixture;
    * (e) serving is deterministic. Geometry and corpus count are
    * exact constants. */
  def q197IvfPqResidual(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = t(spark, dir, "embeddings")
    val (sharedDir, resDir) = q197IndexDirs(spark, dir)
    val shared = graft.ops.SimSearch.ivfPqLoad(spark, sharedDir, "vec_id")
    val res = graft.ops.SimSearch.ivfPqLoad(spark, resDir, "vec_id")
    val q = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val servedRes = rows(graft.ops.SimSearch.ivfPqSearch(res, q, 100, nprobe = 8))
    val servedShared =
      rows(graft.ops.SimSearch.ivfPqSearch(shared, q, 100, nprobe = 8))
    val pruned = rows(graft.ops.SimSearch.ivfPqSearch(res, q, 10, nprobe = 4))
    // unit-norm fixture: exact cosine order IS exact L2 order
    val exact = graft.ops.SimSearch.cosineTopK(
      emb, "vec_id", "embedding", 0L, 10).collect().map(_.getLong(0)).toSet
    val recallRes = exact.intersect(servedRes.map(_._1).toSet).size
    val recallShared = exact.intersect(servedShared.map(_._1).toSet).size
    val errRes = q197MeanSelfError(res, emb)
    val errShared = q197MeanSelfError(shared, emb)
    // BAR PROVENANCE (the q186 pin discipline — measured on the
    // driver fixtures before freezing): reconstruction error is
    // STRICTLY tighter at every tested sf (0.185 vs 0.207 at
    // sf0.001/0.01, 0.215 vs 0.234 at sf0.1 — ~10% lower, the
    // k-means-objective claim residual encoding actually makes);
    // half-probe recall is EQUAL at sf0.01 (10=10) and sf0.1 (9=9)
    // and one neighbor short at sf0.001 (6 vs 7 — half-probe IVF
    // probe noise on a 100-vector/16-cell corpus, not quantization),
    // so the scale-stable recall pin is >= shared - 1. A new scale
    // factor or regenerated fixture must re-measure both.
    Seq((16, res.model.m, res.model.k, res.codes.count(),
      res.residual && !shared.residual,
      pruned.head._1 == 0L,
      errRes <= errShared,
      recallRes >= recallShared - 1,
      servedRes == rows(
        graft.ops.SimSearch.ivfPqSearch(res, q, 100, nprobe = 8))))
      .toDF("nlist", "m", "k", "n_codes", "distinct_kind",
        "self_top1", "tighter_quantization", "recall_ok",
        "deterministic")
  }

  /** INCREMENTAL perceptual near-dup pairs under oracle
    * ([[graft.ops.Multimodal.perceptualPairsIncremental]] — the q48
    * incremental shape for the multimodal modalities, proved the q193
    * way): the q192 image corpus is split into an already-admitted
    * 4/5 (whose signatures are precomputed — the persisted state an
    * ingest pipeline keeps) and a NEW 1/5 batch; the incremental join
    * must find exactly the pairs an all-pairs scan finds THAT TOUCH
    * THE NEW BATCH — the oracle brute-forces every pair over the
    * bit-for-bit replayed dHashes (BITSTRING xor) and keeps those
    * with a batch member, so missing a new×old pair OR inventing an
    * old×old one both go red. */
  def q199PerceptualIncremental(spark: SparkSession, dir: String): DataFrame = {
    val blobs = q192Blobs(spark, dir)
    val newBatch = blobs.where(col("blob_id") % 5 === 0)
    val oldSigs = graft.ops.Multimodal.perceptualSignature(
      blobs.where(col("blob_id") % 5 =!= 0))
    graft.ops.Multimodal.perceptualPairsIncremental(
      newBatch, oldSigs, maxHamming = 2)
      .orderBy("id_a", "id_b")
  }

  /** Map-only perceptual NOVELTY gate under oracle
    * ([[graft.ops.Multimodal.perceptualNovelFlag]] — the
    * Novelty.nearNovelFlag shape for blob corpora, the streaming
    * ingest edge's blob prefilter): the admitted 4/5 of the q192
    * image corpus fits a chunk-key Bloom index (fpp 1e-6 — q57's
    * trick, so the exact SQL replay holds: expected false-positive
    * count across the probe set is ~1e-3); the held-out 1/5 batch is
    * flagged map-only. The oracle replays the decision EXACTLY from
    * the closed-form bits: a new blob is novel iff NONE of its four
    * 16-bit signature chunks equals any admitted blob's same-position
    * chunk (pigeonhole: every true <= 3-Hamming dup of an admitted
    * blob is flagged — the gate can over-drop, never miss). */
  def q200PerceptualGate(spark: SparkSession, dir: String): DataFrame = {
    val blobs = q192Blobs(spark, dir)
    val idx = graft.ops.Multimodal.fitPerceptualIndex(
      graft.ops.Multimodal.perceptualSignature(
        blobs.where(col("blob_id") % 5 =!= 0)), fpp = 1e-6)
    graft.ops.Multimodal.perceptualNovelFlag(
      blobs.where(col("blob_id") % 5 === 0), idx, "data", "novel")
      .select(col("blob_id"), col("novel"))
      .orderBy("blob_id")
  }

  /** TWO-STAGE ADC+rerank serving under a contract oracle
    * ([[graft.ops.SimSearch.ivfPqSearchRerank]] — the production
    * serve the q184/q186 recall contracts measure a window for):
    * stage 1 is q186's pruned ADC scan for the top-100 candidates,
    * stage 2 an exact-cosine rerank of JUST those ids (broadcast
    * lookup into the raw-vector frame). Contracts, all
    * by construction: (a) the query's own id reranks to the top at
    * cosine 1.0; (b) FULL PARITY — at nprobe=nlist with a
    * corpus-sized window the rerank output IS brute-force
    * [[graft.ops.SimSearch.cosineTopK]] (modulo the self row the
    * brute force excludes); (c) recall@10 after rerank >= recall@10
    * of the raw ADC ranking (any true top-10 member that reaches the
    * window outranks every non-member under exact cosine); (d)
    * deterministic. */
  def q198IvfPqRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = t(spark, dir, "embeddings")
    val idx = graft.ops.SimSearch.ivfPqLoad(
      spark, q186IndexDir(spark, dir), "vec_id")
    val q = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val n = emb.count().toInt
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSeq
    // (b) full parity: every cell probed, window = corpus
    val full = ivfRerank(idx, emb, q, topK = 11, window = n, nprobe = 16)
    val fullIds = ids(full)
    val brute = ids(graft.ops.SimSearch.cosineTopK(
      emb, "vec_id", "embedding", 0L, 10))
    val fullParity = fullIds.head == 0L && fullIds.drop(1) == brute
    // (a)+(c) at production pruning: window 100, nprobe 4
    val rerank = ivfRerank(idx, emb, q, topK = 11, window = 100, nprobe = 4)
    val rerankRows = rerank.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val selfTop1 = rerankRows.head._1 == 0L && rerankRows.head._2 == 1.0
    val exact10 = brute.toSet
    val rerank10 = rerankRows.map(_._1).filter(_ != 0L).take(10).toSet
    val adc10 = ids(graft.ops.SimSearch.ivfPqSearch(idx, q, 11, nprobe = 4))
      .filter(_ != 0L).take(10).toSet
    val recallGeAdc =
      exact10.intersect(rerank10).size >= exact10.intersect(adc10).size
    val deterministic = rerankRows == ivfRerank(idx, emb, q, 11, 100, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    Seq((16, idx.model.m, idx.model.k, 100, n.toLong,
      selfTop1, fullParity, recallGeAdc, deterministic))
      .toDF("nlist", "m", "k", "window", "n_vectors",
        "self_top1", "full_parity", "recall_ge_adc", "deterministic")
  }

  private def ivfRerank(idx: graft.ops.SimSearch.IvfPqIndex,
                        emb: org.apache.spark.sql.DataFrame,
                        q: Array[Double], topK: Int, window: Int,
                        nprobe: Int): org.apache.spark.sql.DataFrame =
    graft.ops.SimSearch.ivfPqSearchRerank(idx, emb, "embedding", q,
      topK, window, nprobe)

  /** BLOB-BEARING corpus curation under oracle (the q57 stage-report
    * pattern with the PERCEPTUAL dedup stage active): every document
    * carries a synthetic P6 image blob keyed by `doc_id % 100` (the
    * q192 pixel formula at 36x24 — closed-form, so the oracle replays
    * every hash bit), making docs that share a key carry
    * byte-identical blobs. The pipeline runs the quality/repetition
    * gates, [[graft.ops.Multimodal.dropPerceptualDuplicates]] at
    * maxHamming=0 under the keep-best-by-quality policy (q70's:
    * winner = highest q33 score, ties to the smallest id), exact
    * keep-best dedup, and passthrough near-dedup (threshold > 1 —
    * Jaccard can never reach it; the full near-dedup replay is q57's
    * job) / decontamination (empty benchmark) / split stages. The
    * oracle recomputes every stage count AND membership digest —
    * perceptual clusters are hash-equality classes over the replayed
    * 64-bit strings (maxHamming=0 makes grouping the transitive
    * closure), so a stage that drops the right count of the wrong
    * rows goes red. */
  def q196CurateBlobs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gen = udf((id: Long) => {
      // q192's pixel formula, 36x24, canonical P6 container
      val w = 36; val h = 24
      val rgb = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val i = 3 * (y * w + x)
          rgb(i) = ((id * 7 + x * 5 + y * 3) % 256).toByte
          rgb(i + 1) = ((id * 11 + x * 3) % 256).toByte
          rgb(i + 2) = ((y * 13 + id) % 256).toByte
          x += 1
        }
        y += 1
      }
      graft.ops.Multimodal.encodePpm(w, h, rgb)
    })
    val docs = t(spark, dir, "documents")
      .withColumn("blob", gen(col("doc_id") % 100))
    val (out, report) = graft.ops.Curate.standard(
      docs, docs.limit(0),
      nearDupThreshold = 1.01, // > max Jaccard: text near-dedup passthrough
      blobCol = Some("blob"), blobMaxHamming = 0,
      keepBestByQuality = true)
    out.unpersist()
    report.stats.zipWithIndex
      .map { case (s, i) => (i, s.name, s.rows, s.idsDigest) }
      .toDF("stage_idx", "stage", "n_rows", "ids_digest")
      .orderBy("stage_idx")
  }

  /** STREAMING blob-corpus curation under oracle
    * ([[graft.ops.Curate.streamingTail]] with `blobCol` — the durable
    * perceptual-dedup state, round 17's headline): every document
    * carries a synthetic P6 blob keyed `doc_id % max(250, maxId/20)`
    * (q192's pixel formula at 36x24 — closed-form, so the oracle
    * replays every hash bit; the modulus scales so duplicate classes
    * stay ~20 wide at every sf), texts are made unique (uid suffix)
    * and the text near-dedup
    * is a passthrough (threshold > 1), so the ONLY dedup in play is
    * the perceptual stage and the streamed result is exactly
    * replayable: three id-ordered micro-batches run through the tail,
    * and a doc is admitted iff it is the min id of its dHash-bits
    * class (first-arrival ≡ global min under id-ordered batches).
    * The query then (a) REPLAYS the last micro-batch — a foreachBatch
    * retry — and pins the admitted set unchanged; (b) reads the
    * durable `percsigs` state row count (= every admitted row, all
    * P6 payloads decode); (c) DELETES the whole admitted corpus and
    * runs a 4th batch holding a byte-identical copy of class 0 plus a
    * genuinely novel out-of-range-key blob — the dup must die through the
    * narrow signature state alone (the corpus is gone), the novel row
    * must land. The oracle recomputes every number from the closed
    * form: per-batch admitted counts are bits-class minima per id
    * range, and the 4th batch's admitted count is 1 unless the novel key's
    * bits collide with an existing class (replayed, not assumed). */
  def q201CurateBlobTail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_q201_")
    try {
      val gen = udf((key: Long) => {
        // q192's pixel formula, 36x24, canonical P6 container
        val w = 36; val h = 24
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val i = 3 * (y * w + x)
            rgb(i) = ((key * 7 + x * 5 + y * 3) % 256).toByte
            rgb(i + 1) = ((key * 11 + x * 3) % 256).toByte
            rgb(i + 2) = ((y * 13 + key) % 256).toByte
            x += 1
          }
          y += 1
        }
        graft.ops.Multimodal.encodePpm(w, h, rgb)
      })
      // persisted once: the synthetic-blob udf would otherwise re-run
      // its pixel loops on every one of the tail's scans — harness
      // cost, not operator cost. The blob-key modulus scales with the
      // corpus (max(250, maxId/20)) so duplicate classes stay ~20
      // wide at every sf — a fixed modulus would make the big-sf
      // corpus 99% duplicates and the fixture's pair graph, not the
      // operator, the thing being benchmarked.
      val base = t(spark, dir, "documents")
      val maxId = base.agg(max("doc_id")).head().getLong(0)
      val blobMod = math.max(250L, maxId / 20)
      val docs = base
        .select(col("doc_id"), col("source"),
          concat(col("text"), lit(" uid"), col("doc_id")).as("text"))
        .withColumn("blob", gen(col("doc_id") % blobMod))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cut1 = maxId / 3
      val cut2 = 2 * maxId / 3
      val batches = Seq(
        docs.where(col("doc_id") <= cut1),
        docs.where(col("doc_id") > cut1 && col("doc_id") <= cut2),
        docs.where(col("doc_id") > cut2))
      val outDir = tmp.resolve("out").toString
      def tail = graft.ops.Curate.streamingTail(spark, outDir,
        minQuality = 0.0, maxDup2gramFrac = 1.0, threshold = 1.01,
        blobCol = Some("blob"), blobMaxHamming = 0)
      batches.zipWithIndex.foreach { case (b, i) => tail(b, i.toLong) }
      def admittedIds(): Set[Long] = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val perBatch = spark.read.parquet(outDir)
        .groupBy(col("__batch_id").cast("long").as("__b"))
        .agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val before = admittedIds()
      // (a) foreachBatch retry of the last micro-batch: idempotent
      tail(batches(2), 2L)
      val replayNoop = admittedIds() == before
      // (b) the durable signature state covers every admitted row
      val stateSigs = spark.read.parquet(
        tmp.resolve("out__state").resolve("percsigs").toString).count()
      // (c) corpus-deletion survival: the dedup evidence is the narrow
      // state, never the corpus — delete every admitted partition
      java.nio.file.Files.list(tmp.resolve("out")).forEach { p =>
        if (p.getFileName.toString.startsWith("__batch_id=")) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(q => java.nio.file.Files.deleteIfExists(q))
        }
      }
      val extra = Seq(
        (maxId + 1, "s", s"wholly new prose alpha ${maxId + 1}"),
        (maxId + 2, "s", s"wholly new prose beta ${maxId + 2}"))
        .toDF("doc_id", "source", "text")
        .withColumn("blob",
          gen(when(col("doc_id") === maxId + 1, 0L)
            .otherwise(blobMod + 700L)))
      tail(extra, 3L)
      val b3Path = tmp.resolve("out").resolve("__batch_id=3")
      val b3Ids: Set[Long] =
        if (!java.nio.file.Files.exists(b3Path)) Set.empty
        else spark.read.parquet(b3Path.toString)
          .select("doc_id").collect().map(_.getLong(0)).toSet
      docs.unpersist()
      Seq((perBatch.getOrElse(0L, 0L), perBatch.getOrElse(1L, 0L),
        perBatch.getOrElse(2L, 0L), stateSigs, replayNoop,
        b3Ids.size.toLong, !b3Ids.contains(maxId + 1)))
        .toDF("b0_admitted", "b1_admitted", "b2_admitted", "state_sigs",
          "replay_noop", "b3_admitted", "b3_dup_dropped")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  private val q202Index = new java.util.concurrent.ConcurrentHashMap[
    String, (String, String, String,
      graft.ops.SimSearch.OpqStats, graft.ops.SimSearch.OpqStats)]()

  /** Memoized fit+persist of the three q202 indexes: OPQ shared, the
    * IDENTITY-rotation baseline (same trainer, opqIters = 0 — equal
    * everything but the learned rotation), and OPQ residual. */
  private def q202IndexDirs(spark: SparkSession, dir: String)
      : (String, String, String,
         graft.ops.SimSearch.OpqStats, graft.ops.SimSearch.OpqStats) =
    q202Index.computeIfAbsent(dir, { d =>
      val sfName = d.split('/').filter(_.nonEmpty).lastOption.getOrElse("sf")
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val pid = ProcessHandle.current().pid()
      val base = java.nio.file.Paths
        .get(System.getProperty("java.io.tmpdir"),
          s"graft_q202_opq_${sfName}_${digest}_p$pid")
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(base.toFile)
      }
      val emb = t(spark, d, "embeddings")
      val opqDir = base.resolve("opq").toString
      val identDir = base.resolve("ident").toString
      val resDir = base.resolve("opqres").toString
      val (opqIdx, opqStats) = graft.ops.SimSearch.ivfPqFitOpq(
        emb, "vec_id", "embedding", nlist = 16, m = 16, k = 32, seed = 42L)
      graft.ops.SimSearch.ivfPqSave(opqIdx, opqDir)
      val (identIdx, _) = graft.ops.SimSearch.ivfPqFitOpq(
        emb, "vec_id", "embedding", nlist = 16, m = 16, k = 32, seed = 42L,
        opqIters = 0)
      graft.ops.SimSearch.ivfPqSave(identIdx, identDir)
      val (resIdx, resStats) = graft.ops.SimSearch.ivfPqFitOpq(
        emb, "vec_id", "embedding", nlist = 16, m = 16, k = 32, seed = 42L,
        residual = true)
      graft.ops.SimSearch.ivfPqSave(resIdx, resDir)
      (opqDir, identDir, resDir, opqStats, resStats)
    })

  /** OPQ-rotated IVF+PQ under a contract oracle (Ge et al. 2013; the
    * q197 discipline for comparing approximate encodings — pin the
    * objective the method optimizes, give ranking-level claims
    * slack): at EQUAL geometry (nlist 16, m 16, k 32) and an
    * EQUAL-everything-but-the-rotation baseline (the same
    * deterministic sample trainer with opqIters = 0 — identity
    * rotation, identical codebook init and Lloyd schedule), the
    * learned rotation must (a) carry DISTINCT persisted kinds
    * (`ivfpq_opq` / `ivfpq_opq_res`) whose loads restore the
    * rotation/residual flags; (b) never increase the TRAINING
    * objective (guaranteed: every alternating step is monotone —
    * both the shared and the residual composition); (c) quantize the
    * CORPUS tighter or equal within 5% — mean squared reconstruction
    * error of the rotated index <= 1.05x the identity baseline's
    * (the generalization claim: measured STRICTLY tighter at every
    * tested sf when frozen, with slack because the monotonicity
    * guarantee covers only the training sample — the q197/q186 bar
    * discipline); (d) self-match
    * under production pruning on the LOADED indexes, deterministic
    * (OpsSpec pins loaded ≡ in-memory and the append/batch paths).
    * Thread-stability provenance: the rotation is fit driver-side
    * from an id-ORDERED sample precisely so partitioning/thread
    * count cannot perturb it (SimSearch.opqTrain scaladoc); MEASURED:
    * the md5 of the sf0.01 rotation (12-decimal entries) is
    * d82449cd0d4892f1 at both SPARK_GRAFT_CPUS=8 and 32
    * (2026-08-16, temporary println probe, reverted). */
  def q202IvfPqOpq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = t(spark, dir, "embeddings")
    val (opqDir, identDir, resDir, opqStats, resStats) =
      q202IndexDirs(spark, dir)
    val opq = graft.ops.SimSearch.ivfPqLoad(spark, opqDir, "vec_id")
    val ident = graft.ops.SimSearch.ivfPqLoad(spark, identDir, "vec_id")
    val res = graft.ops.SimSearch.ivfPqLoad(spark, resDir, "vec_id")
    val q = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val servedOpq = rows(graft.ops.SimSearch.ivfPqSearch(opq, q, 10, nprobe = 4))
    val servedRes = rows(graft.ops.SimSearch.ivfPqSearch(res, q, 10, nprobe = 4))
    val corpusOpq = q197MeanSelfError(opq, emb)
    val corpusIdent = q197MeanSelfError(ident, emb)
    Seq((16, opq.model.m, opq.model.k, opq.codes.count(),
      opq.rotation.isDefined && !opq.residual &&
        res.rotation.isDefined && res.residual &&
        ident.rotation.isDefined,
      opqStats.errRotated <= opqStats.errIdentity,
      resStats.errRotated <= resStats.errIdentity,
      // GENERALIZATION claim with slack (the q197/q186 discipline for
      // non-guaranteed bars): the monotone-objective argument covers
      // the 4096-row training sample only; on the corpus the rotation
      // measured STRICTLY tighter at sf0.001/0.01/0.1 when frozen
      // (2026-08-16), and the 5% headroom keeps a correct
      // implementation from going red on a future sample-
      // unrepresentative scale factor. The strict, guaranteed claim
      // is the objective_decreased pair above.
      corpusOpq <= corpusIdent * 1.05,
      servedOpq.head._1 == 0L && servedRes.head._1 == 0L,
      servedOpq == rows(graft.ops.SimSearch.ivfPqSearch(opq, q, 10, nprobe = 4)) &&
        servedRes == rows(graft.ops.SimSearch.ivfPqSearch(res, q, 10, nprobe = 4))))
      .toDF("nlist", "m", "k", "n_codes", "distinct_kinds",
        "objective_decreased", "objective_decreased_res",
        "corpus_tighter", "self_top1", "deterministic")
  }

  /** STREAMING semantic-dedup state under oracle
    * ([[graft.ops.Curate.streamingTail]] with `vecCol` — the
    * embedding modality's durable cross-batch state, q201's pattern):
    * every embedding row becomes a doc whose vector is the BASE
    * embedding of `vec_id % max(20, (maxId+1)/50)` (docs sharing a
    * key carry byte-identical vectors), texts are unique and the
    * text near-dedup a passthrough, so the ONLY dedup in play is the
    * semantic stage and the streamed result is exactly replayable:
    * admitted = min vec_id per key class (identical vectors pair at
    * cosine 1; the fixture's max CROSS-class cosine is ~0.33 vs the
    * 0.95 threshold — REPLAYED as its own `fixture_margin_ok` column
    * on both engines, not assumed). Then (a) the last micro-batch
    * REPLAYS (idempotence), (b) the durable `semvecs` SRP state is
    * censused, (c) the whole admitted corpus is DELETED and a 4th
    * batch carrying an exact copy of class 0's vector plus its
    * NEGATION runs — the copy must die through the narrow state
    * alone (cosine 1 vs the stored vector), the negation must land
    * (cosine -1; every cross cosine is under the margin). */
  def q204CurateSemanticTail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_q204_")
    try {
      val emb = t(spark, dir, "embeddings")
      val maxId = emb.agg(max("vec_id")).head().getLong(0)
      val mod = math.max(20L, (maxId + 1) / 50)
      val base = emb.where(col("vec_id") < mod)
        .select(col("vec_id").as("__k"), col("embedding").as("vec"))
      val docs = emb
        .select(col("vec_id").as("doc_id"), lit("s").as("source"),
          concat(lit("uniq text "), col("vec_id")).as("text"),
          (col("vec_id") % mod).as("__k"))
        .join(base, "__k").drop("__k")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cut1 = maxId / 3
      val cut2 = 2 * maxId / 3
      val batches = Seq(
        docs.where(col("doc_id") <= cut1),
        docs.where(col("doc_id") > cut1 && col("doc_id") <= cut2),
        docs.where(col("doc_id") > cut2))
      val outDir = tmp.resolve("out").toString
      def tail = graft.ops.Curate.streamingTail(spark, outDir,
        minQuality = 0.0, maxDup2gramFrac = 1.0, threshold = 1.01,
        vecCol = Some("vec"))
      batches.zipWithIndex.foreach { case (b, i) => tail(b, i.toLong) }
      def admittedIds(): Set[Long] = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val perBatch = spark.read.parquet(outDir)
        .groupBy(col("__batch_id").cast("long").as("__b"))
        .agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val before = admittedIds()
      tail(batches(2), 2L)
      val replayNoop = admittedIds() == before
      val stateVecs = spark.read.parquet(
        tmp.resolve("out__state").resolve("semvecs").toString).count()
      // the fixture's safety margin, replayed on BOTH engines: no
      // cross-class base pair may reach the threshold (otherwise the
      // closed-form class-minima replay would not model the operator)
      val baseVecs = base.orderBy("__k")
        .select(col("vec").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
        }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      val marginOk = (for {
        i <- baseVecs.indices; j <- baseVecs.indices if i < j
      } yield cos(baseVecs(i), baseVecs(j))).max < 0.95
      java.nio.file.Files.list(tmp.resolve("out")).forEach { p =>
        if (p.getFileName.toString.startsWith("__batch_id=")) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(q => java.nio.file.Files.deleteIfExists(q))
        }
      }
      val dup = baseVecs(0).map(_.toFloat)
      val neg = baseVecs(0).map(x => (-x).toFloat)
      val extra = Seq(
        (maxId + 1, "s", s"uniq text ${maxId + 1}", dup),
        (maxId + 2, "s", s"uniq text ${maxId + 2}", neg))
        .toDF("doc_id", "source", "text", "vec")
      tail(extra, 3L)
      val b3Path = tmp.resolve("out").resolve("__batch_id=3")
      val b3Ids: Set[Long] =
        if (!java.nio.file.Files.exists(b3Path)) Set.empty
        else spark.read.parquet(b3Path.toString)
          .select("doc_id").collect().map(_.getLong(0)).toSet
      docs.unpersist()
      Seq((perBatch.getOrElse(0L, 0L), perBatch.getOrElse(1L, 0L),
        perBatch.getOrElse(2L, 0L), stateVecs, replayNoop,
        b3Ids.size.toLong, !b3Ids.contains(maxId + 1), marginOk))
        .toDF("b0_admitted", "b1_admitted", "b2_admitted", "state_vecs",
          "replay_noop", "b3_admitted", "b3_dup_dropped",
          "fixture_margin_ok")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** VIDEO near-duplicate pairs under oracle
    * ([[graft.ops.Video.videoNearDupPairs]] — the q193 pattern for
    * the video modality, completing the perceptual set): every 10th
    * document id becomes a 6-frame 36x24 DIB AVI keyed
    * `(doc_id/10) % max(25, maxId/100)` (closed-form pixels, so the
    * oracle replays every dHash bit), and every ODD video id carries
    * the SAME frames 2x nearest-neighbor UPSCALED (72x48 —
    * grid-aligned, so the area-pooling dHash is bit-exact equal: the
    * rescaled-copy case byte dedup can never catch). The operator
    * samples stride-2 frames, pairs through the
    * (position, chunk, key)-banded Hamming join, and keeps pairs
    * matching at EVERY sampled position; the oracle brute-forces the
    * full key-pair space over the replayed bits (BITSTRING xor), so
    * missing a rescaled pair OR inventing a cross-key one both go
    * red. */
  def q203VideoNeardup(spark: SparkSession, dir: String): DataFrame = {
    val maxId = t(spark, dir, "documents")
      .agg(max("doc_id")).head().getLong(0)
    val mod = math.max(25L, maxId / 100)
    val gen = udf((vid: Long) => {
      val w = 36; val h = 24
      val k = ((vid / 10) % mod).toInt
      val frames = (0 until 6).map { f =>
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val i = 3 * (y * w + x)
            rgb(i) = ((k * 5 + f * 17 + x * 3 + y * 7) % 256).toByte
            rgb(i + 1) = ((k * 11 + f * 3 + x * 5) % 256).toByte
            rgb(i + 2) = ((k * 7 + f * 13 + y * 11) % 256).toByte
            x += 1
          }
          y += 1
        }
        rgb
      }
      if ((vid / 10) % 2 == 1) {
        // 2x nearest-neighbor upscale: out(x, y) = in(x/2, y/2) — the
        // grid-aligned rescale the dHash is bit-exact invariant under
        val up = frames.map { rgb =>
          val out = new Array[Byte](2 * w * 2 * h * 3)
          var y = 0
          while (y < 2 * h) {
            var x = 0
            while (x < 2 * w) {
              val s = 3 * ((y / 2) * w + (x / 2))
              val d = 3 * (y * 2 * w + x)
              out(d) = rgb(s); out(d + 1) = rgb(s + 1); out(d + 2) = rgb(s + 2)
              x += 1
            }
            y += 1
          }
          out
        }
        graft.ops.Video.encodeAvi(2 * w, 2 * h, 10, up)
      } else graft.ops.Video.encodeAvi(w, h, 10, frames)
    })
    val vids = t(spark, dir, "documents")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("blob_id"))
      .withColumn("data", gen(col("blob_id")))
    graft.ops.Video.videoNearDupPairs(vids, stride = 2, maxHamming = 2)
      .orderBy("id_a", "id_b")
  }

  /** BATCH ADC serving under a contract oracle
    * ([[graft.ops.SimSearch.ivfPqSearchBatch]] — the annLshTopKBatch
    * shape for the composed index): a query SET (every 25th corpus
    * vector) is served from q186's persisted index in ONE job — the
    * exploded (qid, probe-cell, ADC-table) frame broadcasts into a
    * cell equi-join, the codes never shuffle, only narrow (qid, id,
    * dist) rows reach the per-query rank window. The contract: (a)
    * every query's top-1 is itself (its own code achieves the global
    * ADC minimum), (b) the batch ranking equals per-query
    * [[graft.ops.SimSearch.ivfPqSearch]] EXACTLY for a sampled
    * prefix of queries (same table, rounding, tie-break), (c)
    * repeated batch runs are deterministic. Query count is exact
    * arithmetic. */
  def q191IvfPqBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = t(spark, dir, "embeddings")
    val idx = graft.ops.SimSearch.ivfPqLoad(
      spark, q186IndexDir(spark, dir), "vec_id")
    val queries = emb.where(col("vec_id") % 25 === 0)
      .select(col("vec_id"), col("embedding"))
    def batchRows() = graft.ops.SimSearch.ivfPqSearchBatch(
      idx, queries, "vec_id", "embedding", topK = 10, nprobe = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._3, t._2))
    val batch = batchRows()
    val byQuery = batch.groupBy(_._1)
    val allSelfTop1 = byQuery.forall { case (qid, rows) =>
      rows.minBy(t => (t._3, t._2))._2 == qid
    }
    // per-query parity on the first 5 query ids (driver-bounded)
    val sampleIds = byQuery.keys.toSeq.sorted.take(5)
    val paritySample = sampleIds.forall { qid =>
      val q = emb.where(col("vec_id") === qid)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val single = graft.ops.SimSearch.ivfPqSearch(idx, q, 10, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fromBatch = batch.filter(_._1 == qid)
        .map(t => (t._2, t._3)).toSeq
      // align on (dist, id) — ivfPqSearch's own output order
      single == fromBatch.sortBy(t => (t._2, t._1))
    }
    Seq((queries.count(), byQuery.size.toLong,
      allSelfTop1, paritySample, batch.toSeq == batchRows().toSeq))
      .toDF("n_queries", "n_served", "all_self_top1",
        "parity_sample", "deterministic")
  }

  /** IVF+PQ incremental APPEND under a contract oracle
    * ([[graft.ops.SimSearch.ivfPqAppend]] — the ivfAppend story for
    * the composed layout): the persisted index is fitted on a 4/5
    * base and the held-out 1/5 batch APPENDED without refit; the
    * loaded index must (a) hold exactly base+batch codes, (b) have
    * encoded the appended vectors IDENTICALLY to a direct
    * pqEncode with the persisted codebooks (encoding is
    * deterministic given the model — append adds rows, not error),
    * (c) serve an APPENDED vector as its own top-1 under production
    * nprobe pruning (its cell is its nearest center; its code
    * achieves the global ADC minimum for its own query), (d) be
    * deterministic across repeated searches, and (e) — the
    * EXACTLY-ONCE contract — treat a REPLAY of the already-applied
    * ledger batch id as a no-op (same code count after the replay
    * attempt; a retried ingest can never double-append). Split
    * counts are exact arithmetic (the q174/q186/q188 pattern). */
  def q190IvfPqAppend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = t(spark, dir, "embeddings")
    val path = q190IndexDir(spark, dir)
    val idx = graft.ops.SimSearch.ivfPqLoad(spark, path, "vec_id")
    val batch = emb.where(col("vec_id") % 5 === 0)
    val nBase = emb.where(col("vec_id") % 5 =!= 0).count()
    val nBatch = batch.count()
    val appended = idx.codes.where(col("vec_id") % 5 === 0)
      .select("vec_id", "codes")
    val direct = graft.ops.SimSearch.pqEncode(
      batch, "vec_id", "embedding", idx.model)
    val encodeParity = appended.exceptAll(direct).isEmpty &&
      direct.exceptAll(appended).isEmpty
    // vec_id 0 is in the APPENDED fifth: the append path must serve it
    val q = batch.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    def rows() = graft.ops.SimSearch.ivfPqSearch(idx, q, 50, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = rows()
    // the replay: batch id 1 is already in the applied ledger — the
    // append must return false and leave the codes frame untouched
    val replayApplied = graft.ops.SimSearch.ivfPqAppend(spark, path,
      batch, "vec_id", "embedding", batchId = Some(1L))
    val nAfterReplay = graft.ops.SimSearch.ivfPqLoad(spark, path, "vec_id")
      .codes.count()
    Seq((nBase, nBatch, idx.codes.count(),
      encodeParity,
      served.head._1 == 0L,
      served == rows(),
      !replayApplied && nAfterReplay == nBase + nBatch))
      .toDF("n_base", "n_appended", "n_codes",
        "encode_parity", "appended_self_top1", "deterministic",
        "replay_noop")
  }

  /** ANN index lifecycle CLI under oracle ([[graft.cli.IndexCli]] —
    * the q175 CLI pattern for the SimSearch family): stage the
    * embeddings corpus as a 4/5 base + 1/5 ingest batch, drive the
    * CLI end to end through its own arg grammar — `fit` (persisted
    * cell-partitioned index + drift baseline), `append` with a
    * ledger `--batch-id` TWICE (the batch lands once; the replay is
    * the exactly-once no-op every production retry depends on),
    * `search` (nprobe-pruned serving to a parquet sink),
    * `search-batch` (a whole query frame served in ONE job — the
    * pipeline shape), `drift` twice (the held-out control batch must
    * raise no alert; the same batch shifted +2.0 per coordinate must
    * raise both) — and cross-check both search sinks against the
    * library serving the same persisted index. Counts are exact
    * arithmetic; the lifecycle guarantees are booleans the CLI must
    * earn (the q174/q186 contract pattern). */
  def q188IndexCli(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_q188_")
    try {
      val emb = t(spark, dir, "embeddings")
      val base = emb.where(col("vec_id") % 5 =!= 0)
      val batch = emb.where(col("vec_id") % 5 === 0)
      val basePath = tmp.resolve("base.parquet").toString
      val batchPath = tmp.resolve("batch.parquet").toString
      base.write.parquet(basePath)
      batch.write.parquet(batchPath)
      val ix = tmp.resolve("ix").toString
      val searchOut = tmp.resolve("res").toString
      val batchOut = tmp.resolve("resbatch").toString
      val driftOut = tmp.resolve("drift").toString
      def cli(args: String*): Unit =
        graft.cli.IndexCli.run(graft.cli.IndexCli.parse(args).get, spark)
      cli("fit", "--index", ix, "--input", basePath)
      cli("append", "--index", ix, "--input", batchPath, "--batch-id", "1")
      val nAfterAppend = spark.read.parquet(s"$ix/assigned").count()
      // the REPLAY of an applied ledger id must be a no-op
      cli("append", "--index", ix, "--input", batchPath, "--batch-id", "1")
      val replayNoop = nAfterAppend == emb.count() &&
        spark.read.parquet(s"$ix/assigned").count() == nAfterAppend
      cli("search", "--index", ix, "--output", searchOut,
        "--k", "10", "--nprobe", "4", "--query-id", "0")
      // batch serving: every 25th vector as the query frame, one job
      val queriesPath = tmp.resolve("queries.parquet").toString
      val queries = emb.where(col("vec_id") % 25 === 0)
      queries.write.parquet(queriesPath)
      cli("search-batch", "--index", ix, "--input", queriesPath,
        "--output", batchOut, "--k", "10", "--nprobe", "4")
      cli("drift", "--index", ix, "--input", batchPath,
        "--output", driftOut)
      val control = spark.read.parquet(driftOut).head()
      val shiftedPath = tmp.resolve("shifted.parquet").toString
      batch.select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(2.0f)).as("embedding"))
        .write.parquet(shiftedPath)
      cli("drift", "--index", ix, "--input", shiftedPath,
        "--output", driftOut)
      val drifted = spark.read.parquet(driftOut).head()
      val cliRes = spark.read.parquet(searchOut)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val libIdx = graft.ops.SimSearch.ivfLoad(spark, ix, "vec_id",
        "embedding")
      val libRes = graft.ops.SimSearch.ivfSearch(libIdx, 0L, 10, 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      def batchRows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .sortBy(t => (t._1, -t._3, t._2)).toSeq
      val cliBatch = batchRows(spark.read.parquet(batchOut))
      val libBatch = batchRows(graft.ops.SimSearch.ivfSearchBatch(
        libIdx, queries, "vec_id", "embedding", 10, 4))
      Seq((base.count(), batch.count(),
        cliRes == libRes && cliRes.length == 10,
        replayNoop,
        cliBatch == libBatch &&
          cliBatch.map(_._1).distinct.length == queries.count(),
        control.getAs[Boolean]("psi_alert"),
        control.getAs[Boolean]("dist_alert"),
        drifted.getAs[Boolean]("psi_alert"),
        drifted.getAs[Boolean]("dist_alert")))
        .toDF("n_fit", "n_appended", "search_ok", "replay_noop",
          "search_batch_ok",
          "control_psi_alert", "control_dist_alert",
          "drifted_psi_alert", "drifted_dist_alert")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** RAW WARC `response`-record ingest under oracle
    * ([[graft.sources.Warc.readWarcRecords]] — CommonCrawl's actual
    * crawl output, the upstream of q179's WET): each document is
    * staged as a `response` record whose payload is a full HTTP
    * message (status line from doc_id arithmetic, Content-Type,
    * octet-exact Content-Length, an HTML page wrapping the text),
    * one third of the urls ALSO get a `request` record the reader
    * must pass through with null HTTP columns (honest skip
    * accounting). The typed reader dispatches on WARC-Type, splits
    * the HTTP message, and [[graft.ops.Web.htmlToText]] recovers the
    * visible text from the body — raw crawl → extracted text end to
    * end. The oracle replays the record-length arithmetic (record
    * Content-Length covers the WHOLE HTTP message) and the q154
    * regex chain. Staging write + one map-stage read; payloads never
    * shuffle before the digest projection. */
  def q187WarcResponses(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q187_")
    try {
      val wdir = tmp.resolve("crawl").toString
      val docs = t(spark, dir, "documents").select(
        concat(lit("https://"), col("source"), lit(".example/doc/"),
          col("doc_id")).as("url"),
        col("doc_id"), col("text"))
      val body = concat(lit("<html><head><title>d"),
        col("doc_id").cast("string"),
        lit("</title><script>var x=1;</script></head><body><!-- nav --><p>"),
        col("text"), lit("</p></body></html>"))
      val responses = docs.select(
        lit("response").as("wt"), col("url"),
        lit("application/http;msgtype=response").as("ct"),
        graft.sources.Warc.httpResponseMessage(
          when(col("doc_id") % 7 === 0, 404).otherwise(200),
          lit("text/html"), body).as("payload"))
      val requests = docs.where(col("doc_id") % 3 === 0).select(
        lit("request").as("wt"), col("url"),
        lit("application/http;msgtype=request").as("ct"),
        concat(lit("GET /doc/"), col("doc_id").cast("string"),
          lit(" HTTP/1.1\r\nHost: h.example\r\n\r\n")).as("payload"))
      graft.sources.Warc.writeWarc(
        responses.unionByName(requests).repartition(4),
        "wt", "url", "ct", "payload", wdir)
      val recs = graft.sources.Warc.readWarcRecords(spark, wdir)
      val reqCounts = recs.where(col("warc_type") === "request")
        .groupBy("url").agg(count(lit(1)).as("n_requests"))
      recs.where(col("warc_type") === "response" &&
          col("http_status").isNotNull)
        .join(reqCounts, Seq("url"), "left")
        .select(col("url"), col("http_status"), col("http_content_type"),
          col("content_length"),
          md5(graft.ops.Web.htmlToText(col("payload")).cast("binary"))
            .as("text_md5"),
          coalesce(col("n_requests"), lit(0L)).as("n_requests"))
        .orderBy("url")
        .localCheckpoint(true)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** WARC/WET ingest under oracle ([[graft.sources.Warc]]): the
    * corpus is staged as a 4-part WET shard set (distributed writer,
    * deterministic record IDs, octet-exact Content-Length), then read
    * back through BOTH real paths — the splittable delimiter reader
    * (readWet: record boundaries assigned by Hadoop's delimiter scan,
    * payload cut to Content-Length bytes) and the strict per-file
    * byte walk (readWarcFiles) — and the two must agree with the
    * arithmetic the oracle replays from `documents` (URL construct,
    * UTF-8 octet length, payload md5, md5-derived record ID). The
    * staging write is the only wide step; both reads are one map
    * stage each, payloads never shuffle before the narrow digest
    * projection. */
  def q179WetIngest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q179_")
    try {
      val wetDir = tmp.resolve("wet").toString
      val docs = t(spark, dir, "documents").select(
        concat(lit("https://"), col("source"), lit(".example/doc/"),
          col("doc_id")).as("url"),
        col("text").as("payload"))
      graft.sources.Warc.writeWet(docs.repartition(4), "url", "payload", wetDir)
      val wet = graft.sources.Warc.readWet(spark, wetDir)
        .where(col("is_valid"))
        .select(col("url"), col("record_id"), col("content_length"),
          md5(col("payload").cast("binary")).as("payload_md5"))
      val strict = graft.sources.Warc.readWarcFiles(spark, wetDir)
        .select(col("url"),
          col("content_length").as("b_content_length"),
          md5(col("payload").cast("binary")).as("b_payload_md5"))
      wet.join(strict, Seq("url")).orderBy("url").localCheckpoint(true)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

}
