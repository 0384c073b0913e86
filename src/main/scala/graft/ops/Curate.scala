package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.state.State

/**
 * End-to-end corpus curation — the standard LLM training-data pipeline
 * composed from this library's operators in the order production
 * pipelines run them (cheap row-local gates first, pairwise/global
 * passes on the survivors):
 *
 *   1. novelty gate      — [[Novelty.exactNovel]] vs a historical
 *                          corpus (optional; drop already-ingested docs
 *                          before anything touches them)
 *   2. near-novelty gate — [[Novelty.nearNovel]] vs a prebuilt
 *                          [[Novelty.BandIndex]] (optional; map-only
 *                          near-dup check against the corpus sketch)
 *   3. quality gate      — [[TextStats.qualityScore]] >= minQuality
 *   4. repetition gate   — [[TextStats.repetitionStats]] dup-2-gram cap
 *   5. LM gate           — [[TextStats.unigramLogProb]] cap (optional;
 *                          CCNet-style perplexity-proxy filter)
 *  5b. perceptual dedup  — [[Multimodal.dropPerceptualDuplicates]]
 *                          (optional, via `blobCol`: image/audio
 *                          payloads hashed per modality, banded
 *                          Hamming clusters, keep-best-by-quality
 *                          under `keepBestByQuality` else min-id —
 *                          the blob-bearing corpus stage; runs before
 *                          the text dedups so a re-encoded image dup
 *                          dies before its caption pays shingling)
 *   6. exact dedup       — [[Dedup.exact]] (min-id winner), or
 *                          [[Dedup.exactKeepBest]] ranked by the q33
 *                          quality score (`keepBestByQuality = true`:
 *                          among copies, keep the one worth training
 *                          on — whitespace/case variants can differ in
 *                          quality even when their normalized text
 *                          matches)
 *   7. near dedup        — [[Dedup.dropNearDuplicates]] (MinHash LSH +
 *                          connected-components closure)
 *   8. semantic dedup    — [[SimSearch.dropSemanticDuplicates]]
 *                          (optional; SemDeDup over an embedding col)
 *   9. decontamination   — [[Decontaminate.decontaminate]] vs an eval set
 *  10. split assignment  — [[Splits.assign]] (leakage-safe by group)
 *
 * Each stage only ever REMOVES or ANNOTATES rows, so stage counts are
 * monotone non-increasing — the per-stage report is the monitoring
 * surface a production run logs. Chunk/pack ([[Chunk]], [[Pack]]) are
 * deliberately downstream of curation (run per training config, not
 * per corpus version).
 *
 * Single-pass contract: every counted stage is persisted before its
 * count and its predecessor released right after, so stage N's count
 * reads stage N-1's cache instead of recomputing stages 1..N-1 from
 * the source — at 100 TB the difference between one scan and a scan
 * per stage. The four ROW-LOCAL gates (1-4) go further: they share
 * ONE annotated cache and ONE conditional-aggregate job that emits
 * all four report rows, so the front of the pipeline costs one
 * materialization, not four. The RETURNED frame is still persisted
 * (it is the last stage's cache); the caller writes it out or
 * unpersists it.
 */
object Curate {

  /** One pipeline stage's outcome: surviving row count plus an
    * order-independent membership digest — the sum of each surviving
    * row's 60-bit md5-prefix id hash ([[Profile.rowDigest]]), as a
    * decimal string. The digest pins WHICH rows survived, not just how
    * many, so an oracle replaying the gate chain catches a stage that
    * drops the right count of the wrong rows. The split stage digests
    * (id, split) so the assignment itself is pinned too. `elapsedMs`
    * is the stage's wall-clock materialization time (build + persist +
    * count/digest agg) — the monitoring number a production run logs;
    * NOT part of any oracle contract (it is nondeterministic). */
  final case class StageStat(name: String, rows: Long, idsDigest: String,
                             elapsedMs: Long = 0L)

  /** Per-stage surviving row counts + membership digests, in pipeline
    * order. */
  final case class Report(stats: Seq[StageStat]) {
    def stages: Seq[(String, Long)] = stats.map(s => (s.name, s.rows))
    def counts: Map[String, Long] = stages.toMap
  }

  /**
   * Run the standard pipeline. Returns the curated, split-annotated
   * corpus (persisted — unpersist or write it when done) and the
   * per-stage report. `benchmark` is the eval set to decontaminate
   * against (pass a small DataFrame of documents). Optional stages
   * activate via `historicalCorpus` (exact novelty), `bandIndex`
   * (near-novelty), `maxAvgNegLogp` (LM gate), `blobCol` (perceptual
   * image/audio dedup over that binary column), and `semanticVecCol`
   * (SemDeDup over that embedding column).
   */
  def standard(docs: DataFrame, benchmark: DataFrame,
               idCol: String = "doc_id", textCol: String = "text",
               groupCol: String = "source",
               minQuality: Double = 0.3,
               maxDup2gramFrac: Double = 0.3,
               nearDupThreshold: Double = 0.7,
               contaminationN: Int = 5,
               historicalCorpus: Option[DataFrame] = None,
               bandIndex: Option[Novelty.BandIndex] = None,
               maxAvgNegLogp: Option[Double] = None,
               blobCol: Option[String] = None,
               blobMaxHamming: Int = 2,
               semanticVecCol: Option[String] = None,
               semanticThreshold: Double = 0.95,
               semanticNlist: Int = SimSearch.AutoNlist,
               keepBestByQuality: Boolean = false): (DataFrame, Report) = {
    val b = scala.collection.mutable.ArrayBuffer.empty[StageStat]
    var prev: Option[DataFrame] = None
    // ONE agg job per stage materializes the cache AND yields both the
    // count and the membership digest (sum of 60-bit md5-prefix id
    // hashes; zero-row stages digest to "0" on both engines)
    def stage(name: String, df: DataFrame,
              digestCols: Seq[String] = Seq(idCol)): DataFrame = {
      val t0 = System.nanoTime()
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val r = p.agg(
          count(lit(1)),
          coalesce(sum(Profile.rowDigest(digestCols.map(col))),
            lit(0).cast("decimal(38,0)"))).head()
        b += StageStat(name, r.getLong(0), r.getDecimal(1).toBigInteger.toString,
          (System.nanoTime() - t0) / 1000000L)
      } catch { case e: Throwable => p.unpersist(); throw e }
      prev.foreach(_.unpersist())
      prev = Some(p)
      p
    }
    // a failing stage must not strand the predecessor's cache for the
    // rest of the session (a bench harness catches the exception and
    // keeps running) — release the live stage cache and rethrow
    try {
      // the four ROW-LOCAL gates — novelty (left join against the
      // distinct corpus key set), near-novelty (broadcast-sketch
      // probe), quality (regex kernel), repetition (dup-2-gram UDF) —
      // are FUSED into one annotated, persisted frame and ONE
      // aggregate job that emits every fused stage's (count, digest)
      // row via conditional aggregation over the cumulative gates. The
      // monotone per-stage report is unchanged, but the pipeline pays
      // one persist+scan where it used to pay up to four, and the old
      // repetition keep-list semi-join (an id shuffle) disappears: the
      // gate value rides the row. The quality value is computed ONCE
      // and carried as a column because keep-best dedup needs it again
      // (scoring the corpus twice would repeat the regex pass per row).
      Seq("__curate_novel", "__curate_nearnovel", "__curate_q",
        "__curate_rfrac").foreach { c =>
        require(!docs.columns.contains(c),
          s"input column $c collides with Curate's reserved name") }
      val tq0 = System.nanoTime()
      var flagged = docs
      // (stage name, this stage's OWN gate) in pipeline order; the agg
      // below folds them cumulatively so each stage's survivors are
      // "every gate so far", exactly as the unfused pipeline filtered
      val gates = scala.collection.mutable.ArrayBuffer.empty[(String, org.apache.spark.sql.Column)]
      historicalCorpus.foreach { hist =>
        flagged = Novelty.exactNovelFlag(flagged, hist, textCol,
          "__curate_novel")
        gates += (("novelty", col("__curate_novel")))
      }
      bandIndex.foreach { idx =>
        flagged = Novelty.nearNovelFlag(flagged, idx, textCol,
          "__curate_nearnovel")
        gates += (("near_novelty", col("__curate_nearnovel")))
      }
      flagged = flagged
        .withColumn("__curate_q", TextStats.qualityScore(col(textCol)))
        .withColumn("__curate_rfrac", TextStats.dup2gramFrac(col(textCol)))
      gates += (("quality", col("__curate_q") >= minQuality))
      gates += (("repetition", col("__curate_rfrac") <= maxDup2gramFrac))
      val cumulative = gates.scanLeft(lit(true)) {
        case (acc, (_, g)) => acc && g }.drop(1)
      val allOk = cumulative.last
      val annot = flagged.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val dig = Profile.rowDigest(Seq(col(idCol)))
        val zero = lit(0).cast("decimal(38,0)")
        val aggs = cumulative.flatMap { g =>
          Seq(count(when(g, 1)), coalesce(sum(when(g, dig)), zero)) }
        val r = annot.agg(aggs.head, aggs.tail.toSeq: _*).head()
        // one materialization backs all fused report rows; its wall
        // time is logged on the first row (the rest ride the same
        // conditional agg, marginal cost ~0)
        val ms = (System.nanoTime() - tq0) / 1000000L
        gates.zipWithIndex.foreach { case ((name, _), i) =>
          b += StageStat(name, r.getLong(2 * i),
            r.getDecimal(2 * i + 1).toBigInteger.toString,
            if (i == 0) ms else 0L)
        }
      } catch { case e: Throwable => annot.unpersist(); throw e }
      prev.foreach(_.unpersist())
      prev = Some(annot)
      val repetition = {
        val gated = annot.where(allOk)
          .drop("__curate_novel", "__curate_nearnovel", "__curate_rfrac")
        if (keepBestByQuality) gated else gated.drop("__curate_q")
      }
      val lmGated = maxAvgNegLogp match {
        case Some(cap) => stage("lm_gate", {
          // scored under the SURVIVORS' own unigram model (the corpus at
          // this stage IS the model corpus, CCNet-style self-scoring).
          // Gate by ANTI-joining the docs that EXCEED the cap: zero-token
          // docs produce no unigramLogProb row at all, and a semi-join on
          // the passers would silently drop them even under a non-binding
          // cap — an LM gate has no opinion on docs with no tokens.
          val drop = TextStats.unigramLogProb(repetition, idCol, textCol)
            .where(col("avg_neg_logp") > cap)
            .select(idCol)
          repetition.join(drop, Seq(idCol), "left_anti")
        })
        case None => repetition
      }
      // perceptual dedup runs BEFORE the text dedups (a re-encoded
      // image dup dies before its caption pays shingling) and shares
      // the keep-best policy: the carried __curate_q score ranks
      // cluster members when keepBestByQuality is on, min-id otherwise
      val blobDeduped = blobCol match {
        case Some(bc) => stage("perceptual_dedup",
          Multimodal.dropPerceptualDuplicates(lmGated, idCol, bc,
            blobMaxHamming,
            scoreCol = if (keepBestByQuality) Some("__curate_q") else None))
        case None => lmGated
      }
      val exact = stage("exact_dedup",
        if (keepBestByQuality)
          Dedup.exactKeepBest(blobDeduped, idCol, textCol, "__curate_q")
            .drop("__curate_q")
        else Dedup.exact(blobDeduped, idCol, textCol))
      val near = stage("near_dedup",
        Dedup.dropNearDuplicates(exact, idCol, textCol,
          threshold = nearDupThreshold))
      val semantic = semanticVecCol match {
        case Some(vc) => stage("semantic_dedup",
          SimSearch.dropSemanticDuplicates(near, idCol, vc,
            semanticThreshold, semanticNlist))
        case None => near
      }
      val clean = stage("decontaminate",
        Decontaminate.decontaminate(semantic, benchmark, idCol, textCol,
          contaminationN))
      val split = stage("split", Splits.assign(clean, groupCol),
        digestCols = Seq(idCol, "split"))
      (split, Report(b.toSeq))
    } catch { case e: Throwable => prev.foreach(_.unpersist()); throw e }
  }

  /**
   * STREAMING ingest gate — the stateless prefix of [[standard]] as
   * one transformation that works on a streaming OR batch frame (the
   * same code path, so the streamed≡batch equivalence is structural):
   *
   *   [exact novelty]  — stream-static left-anti vs a STATIC
   *                      historical corpus ([[Novelty.exactNovel]])
   *   [near novelty]   — broadcast [[Novelty.BandIndex]] probe, map-only
   *   [perceptual]     — broadcast [[Multimodal.PerceptualIndex]]
   *                      probe over a blob column (map-only chunk-key
   *                      prefilter; never misses a <= 3-Hamming dup
   *                      of the admitted corpus by pigeonhole)
   *   quality          — [[TextStats.qualityScore]] >= minQuality
   *   repetition       — [[TextStats.dup2gramFrac]] <= maxDup2gramFrac
   *   [LM gate]        — [[TextStats.unigramRefScore]] vs a PRE-FITTED
   *                      [[TextStats.UnigramRef]] (an ingest stream
   *                      cannot self-score the way [[standard]]'s
   *                      batch LM stage does; tokenless docs pass —
   *                      same no-opinion contract)
   *   decontamination  — [[Decontaminate.cleanFlag]] vs a pre-fitted
   *                      EXACT [[Decontaminate.BenchGrams]] set
   *
   * Everything here is a per-row expression plus broadcast fit
   * artifacts (or a supported stream-static anti-join), so the gate
   * runs in APPEND mode with no watermark and no state — the shape an
   * ingest edge wants: documents are accepted/rejected the moment
   * they arrive. The STATEFUL tail (exact/near/semantic dedup, split
   * assignment) cannot be a per-row decision; land gated micro-batches
   * via `foreachBatch` and run [[standard]] (or
   * [[Dedup.incrementalNearDupPairs]] against the accumulated corpus)
   * there — the fit/apply split this library uses everywhere.
   */
  def streamingGate(docs: DataFrame, textCol: String = "text",
                    minQuality: Double = 0.3,
                    maxDup2gramFrac: Double = 0.3,
                    historicalCorpus: Option[DataFrame] = None,
                    bandIndex: Option[Novelty.BandIndex] = None,
                    unigramRef: Option[(TextStats.UnigramRef, Double)] = None,
                    benchGrams: Option[Decontaminate.BenchGrams] = None,
                    perceptualIndex:
                      Option[(String, Multimodal.PerceptualIndex)] = None)
      : DataFrame = {
    Seq("__gate_nn", "__gate_lm", "__gate_cl", "__gate_pn").foreach { c =>
      require(!docs.columns.contains(c),
        s"input column $c collides with streamingGate's reserved names") }
    val fresh = historicalCorpus match {
      case Some(hist) => Novelty.exactNovel(docs, hist, textCol)
      case None => docs
    }
    val nearFresh = bandIndex match {
      case Some(idx) =>
        Novelty.nearNovelFlag(fresh, idx, textCol, "__gate_nn")
          .where(col("__gate_nn")).drop("__gate_nn")
      case None => fresh
    }
    // the blob prefilter sits with the novelty gates: a payload whose
    // perceptual signature collides with the admitted corpus drops at
    // the edge (map-only broadcast probe — see the Multimodal scaladoc
    // for the prefilter-vs-proof semantics)
    val blobFresh = perceptualIndex match {
      case Some((blobCol, idx)) =>
        Multimodal.perceptualNovelFlag(nearFresh, idx, blobCol, "__gate_pn")
          .where(col("__gate_pn")).drop("__gate_pn")
      case None => nearFresh
    }
    val gated = blobFresh
      .where(TextStats.qualityScore(col(textCol)) >= minQuality)
      .where(TextStats.dup2gramFrac(col(textCol)) <= maxDup2gramFrac)
    val lmGated = unigramRef match {
      case Some((model, cap)) =>
        // tokenless docs score NULL and pass (no-opinion contract)
        TextStats.unigramRefScore(gated, textCol, model, "__gate_lm")
          .where(col("__gate_lm").isNull || col("__gate_lm") <= cap)
          .drop("__gate_lm")
      case None => gated
    }
    benchGrams match {
      case Some(bg) =>
        Decontaminate.cleanFlag(lmGated, textCol, bg, "__gate_cl")
          .where(col("__gate_cl")).drop("__gate_cl")
      case None => lmGated
    }
  }

  /**
   * The STATEFUL streaming curation tail, composed for `foreachBatch`:
   * per micro-batch, [[streamingGate]] (every stateless row gate,
   * including decontamination) → exact dedup (intra-batch min-id via
   * [[Dedup.exact]] PLUS cross-batch novelty vs everything already
   * admitted) → near dedup ([[Dedup.minhashPairsIncrementalIndexed]] against
   * the admitted corpus — new x corpus and new x new candidates only,
   * never corpus x corpus) → append the admitted docs to `outDir`.
   *
   * THE DEDUP STATE IS INCREMENTAL AND DURABLE: beside `outDir` the
   * tail maintains narrow state frames under `<outDir>__state`, each
   * written per batch from the rows just admitted —
   *
   *   keys/      (__id, __nk)         md5 exact-novelty keys
   *                                   ([[Novelty.exactKeyCol]])
   *   shingles/  (__id, __sh)         [[Dedup.shinglesOf]]
   *   postings/  (__band, __bh, __id) [[Dedup.postingsOf]]
   *   percsigs/  (__id, modality, sig) [[Multimodal.perceptualSignature]]
   *                                   (only with `blobCol`)
   *   semvecs/   (__id, __b, __v, __n) [[SimSearch.srpStateOf]]
   *                                   (only with `vecCol`)
   *
   * ONE FRAME RECIPE serves all five: a frame is its directory plus
   * its rows as a function of the admitted rows it covers, so the
   * per-batch write (from the rows just landed) and the rebuild from
   * `outDir` (from the whole admitted corpus) are the same
   * derivation, written in the same order — derived frames first,
   * keys LAST as the state's commit marker.
   *
   * WITH `vecCol`, a SEMANTIC dedup step runs after the text near
   * dedup (Curate.standard's stage order): the batch's embeddings
   * pair EXACTLY against the durable `semvecs` frame plus themselves
   * ([[SimSearch.cosinePairsIncrementalFromState]] — SRP-bucketed candidates,
   * exact-cosine verify; the admitted corpus is never re-bucketed or
   * re-read) and drop first-arrival. The frame follows every percsigs
   * recipe below (per-batch partitions before keys, rebuild from
   * outDir on any coverage gap, marker-tracked — including the SRP
   * bit width, which is part of the state's identity — output-fold
   * compaction, replay exclusion). Note the sampled-batch semantics
   * difference from the batch pipeline's [[SimSearch
   * .dropSemanticDuplicates]]: the batch stage pairs within SemDeDup
   * KMeans cells, the streaming stage within SRP buckets (a corpus
   * fit per micro-batch would defeat the point) — both are
   * candidate-generation strategies in front of the SAME exact-cosine
   * verify, so they agree wherever their candidate sets both contain
   * the true pairs (identical/near-identical vectors collide under
   * both; CurateGateSpec pins streamed ≡ batch ≡ standard on such a
   * fixture). Scale shape, honestly: unlike the text postings (whose
   * bucketed base keeps the state side Exchange-free), the semantic
   * state is scanned ONCE per batch — column-pruned to (id, bucket)
   * for the candidate join (the O(batch) probe side broadcasts) and
   * to the candidate ids' vectors for the verify; nothing corpus-wide
   * ever shuffles, but the scan itself is O(admitted corpus) columnar
   * bytes per batch. At extreme scale the upgrade path is a
   * bucket-partitioned fold of the state (probe-cell file pruning,
   * the ivfPqSave recipe) — deliberately not paid until a profile
   * demands it.
   *
   * WITH `blobCol`, a PERCEPTUAL dedup step runs between the gate and
   * the text dedups (Curate.standard's stage order): the batch's
   * image/audio payloads are signatured once, paired EXACTLY against
   * the durable `percsigs` frame plus themselves
   * ([[Multimodal.perceptualPairsIncrementalFromSigs]] — never the
   * over-dropping Bloom prefilter, and the admitted corpus' blobs are
   * never re-decoded), and dropped first-arrival: near-dups of an
   * admitted blob die, intra-batch clusters keep their min id.
   * Undecodable payloads are never dropped here. The signature state
   * rides every recipe below: written per batch before keys (the
   * commit marker), rebuilt from `outDir` in one decode pass when
   * coverage is missing (an older-build state, batches admitted
   * without `blobCol`, or a destroyed frame — the `_state_params`
   * marker records whether the state tracks signatures, so a
   * blob-less invocation of a tracking state FAILS instead of
   * silently going stale), folded by `compactEvery` through the
   * output-fold recipe (its banded candidate join keys on derived
   * chunk values, so a bucketed tier buys nothing — the O(batch)
   * probe side broadcasts instead), and excluded for the in-flight
   * batch on replay.
   *
   * so a micro-batch pays O(batch + state-frame read), NEVER an
   * O(admitted-corpus) text re-read or re-shingle: exact novelty
   * anti-joins the batch against the 16-byte key frame
   * ([[Novelty.exactNovelVsKeys]]), and near dedup probes the
   * precomputed posting index
   * ([[Dedup.minhashPairsIncrementalIndexed]]) — the corpus side of
   * the candidate join is narrow precomputed rows, and corpus shingle
   * arrays load only for ids that appear in a candidate pair.
   *
   * STATE LIFECYCLE: the output and every state frame are
   * batch-partitioned tables of [[graft.state.State]], with its
   * layout, control files and replay contract (each batch writes its
   * own partition by dynamic overwrite and reads exclude it, so a
   * foreachBatch retry is a from-scratch recompute of exactly this
   * batch). After many batches a state read is many small files.
   * [[compactState]] folds all committed partitions into ONE
   * bucketed+sorted base per frame (keys by `__nk`, shingles by
   * `__id`, postings by `(__band, __bh)`), committed through the
   * `_compaction.meta` control file, which records the fold boundary
   * (`upTo`) — reads take base + only partitions ABOVE the boundary,
   * so a crash anywhere during compaction never double-counts or
   * loses state. The bucketed base makes the state side of the
   * exact-novelty anti-join Exchange-free (the batch side alone
   * shuffles, O(batch) rows); pass `compactEvery = Some(n)` to run
   * the fold automatically whenever n uncompacted batch partitions
   * have accumulated, or call [[compactState]] out-of-band while the
   * stream is stopped. The OUTPUT corpus accumulates one partition
   * per batch the same way — [[compactOutput]] (or
   * `compactOutputEvery`) folds committed output partitions into one
   * coalesced base partition with the same replay-safety contract;
   * both auto-folds use those functions' default widths.
   * A `_state_params` marker (written with the first state write)
   * records the state's fixed identity — Dedup's spec-pinned
   * 3-shingle, 12-hash, 4-band MinHash banding and the 8-bit SRP
   * width; a state computed under other values (another build) fails
   * loudly instead of silently probing stale postings.
   *
   * BOOTSTRAP / MIGRATION: every frame that lacks coverage — all the
   * text frames when `outDir` holds admitted batches but the key
   * state is absent (a corpus landed by an older build, a wiped state
   * dir), a modality frame the marker does not track or whose
   * directory is gone — is REBUILT from `outDir` in one pass before
   * the batch proceeds: the only situation where this tail ever reads
   * the full admitted corpus, paid once, not per batch. Keys land
   * LAST and the marker's tracking flags flip only after the rebuild,
   * so a crash mid-rebuild redoes it instead of trusting partial
   * state.
   *
   * Cross-batch semantics are FIRST-ARRIVAL (the only semantics a
   * stream can have): a doc near-duplicate to an already-admitted doc
   * is dropped; intra-batch near-dup groups collapse to their min-id
   * representative through the same pair-closure as
   * [[Dedup.dropNearDuplicates]], restricted to pairs whose BOTH ends
   * survived the cross-batch check (a doc whose only near-witness was
   * itself rejected stays — the admitted corpus already carries that
   * cluster's representative). Equal to the batch pipeline whenever
   * arrival order follows id order and no near-dup CHAIN straddles a
   * batch boundary through a dropped middle element — the
   * streamed≡batch equivalence CurateGateSpec pins on the fixture;
   * at production scale the divergence is the usual greedy-vs-closure
   * epsilon, not a correctness bug.
   *
   * Ids must be globally unique across the stream (one id space —
   * the pair normalization depends on it).
   */
  def streamingTail(spark: org.apache.spark.sql.SparkSession,
                    outDir: String,
                    idCol: String = "doc_id", textCol: String = "text",
                    minQuality: Double = 0.3,
                    maxDup2gramFrac: Double = 0.3,
                    historicalCorpus: Option[DataFrame] = None,
                    unigramRef: Option[(TextStats.UnigramRef, Double)] = None,
                    benchGrams: Option[Decontaminate.BenchGrams] = None,
                    threshold: Double = 0.7,
                    compactEvery: Option[Int] = None,
                    compactMaxBases: Int = 4,
                    compactOutputEvery: Option[Int] = None,
                    blobCol: Option[String] = None,
                    blobMaxHamming: Int = 2,
                    vecCol: Option[String] = None,
                    semanticThreshold: Double = 0.95)
      : (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    require(!batch.columns.contains("__batch_id"),
      "input column __batch_id collides with streamingTail's partition column")
    compactEvery.foreach(n => require(n >= 1, "compactEvery must be >= 1"))
    compactOutputEvery.foreach(n =>
      require(n >= 1, "compactOutputEvery must be >= 1"))
    val sd = outDir.stripSuffix("/") + "__state"
    // the modality frames in effect: (frame, the option that fills it,
    // its column)
    val modal = blobCol.map(("percsigs", "blobCol", _)).toSeq ++
      vecCol.map(("semvecs", "vecCol", _))
    val tracks = modal.map(_._1)
    // every frame in effect, in write order: derived frames first,
    // keys LAST (the state's commit marker)
    val frames = Seq("shingles", "postings") ++ tracks :+ "keys"
    // the state frames are only meaningful under the banding
    // parameters they were computed with — a mismatched rerun would
    // silently probe stale postings under the old banding. The marker
    // is written with the first state write; a pre-marker state dir
    // (older build) adopts the current invocation's parameters, which
    // is exactly the trust the caller extended before the marker
    // existed. The marker also pins which modality frames the state
    // TRACKS (see checkStateParams).
    val stored = checkStateParams(spark, sd, tracks)
    // the compaction manifest: read once per batch, and again only
    // after a fold replaced it
    var comp = loadCompaction(spark, sd)
    // the batch's perceptual signatures and SRP state (blobCol/vecCol
    // set), computed ONCE by the modality steps and reused by the
    // state write
    var batchSigs: Option[DataFrame] = None
    var batchSem: Option[DataFrame] = None
    // THE FRAME RECIPE: writes each of `which` (in `frames` order)
    // derived from `rows`, the admitted rows it covers. The shingle
    // frame is persisted so shingling runs once for its two consumers;
    // a modality frame reuses the batch's one decode/bucketing pass
    // when this batch ran it, semi-joined to `rows` (the payload bytes
    // are identical, so the frame is still a pure function of the
    // durable output), and derives afresh otherwise (the rebuild).
    // Before the keys write (the commit marker), every sibling
    // DIRECTORY must exist even when the rows put nothing in it (a
    // zero-row partitioned write may create nothing): the read side
    // treats "keys exist but a sibling dir is missing" as destroyed
    // state and throws, so the write side makes the invariant
    // unconditional.
    def writeFrames(rows: DataFrame, which: Seq[String])
                   (write: (String, DataFrame) => Unit): Unit = {
      val sh = Dedup.shinglesOf(rows, idCol, textCol, ShingleSize)
        .persist(StorageLevel.MEMORY_AND_DISK)
      def reuse(pre: Option[DataFrame])(fresh: => DataFrame): DataFrame =
        pre.fold(fresh)(_.join(rows.select(col(idCol)), Seq(idCol),
          "left_semi")).withColumnRenamed(idCol, "__id")
      try which.foreach { frame =>
        if (frame == "keys") {
          frames.init.foreach(f => State.mkdirs(spark, s"$sd/$f"))
          writeStateParamsIfAbsent(spark, sd, tracks)
        }
        write(frame, frame match {
          case "shingles" => sh
          case "postings" => Dedup.postingsOf(sh, NumHashes, Bands)
          case "percsigs" => reuse(batchSigs)(Multimodal
            .perceptualSignature(rows, idCol, blobCol.get)
            .where(col("sig").isNotNull))
          case "semvecs" => reuse(batchSem)(SimSearch.srpStateOf(rows,
            idCol, vecCol.get, SemanticBits))
          case "keys" => rows.select(col(idCol).as("__id"),
            Novelty.exactKeyCol(textCol).as("__nk"))
        })
      } finally sh.unpersist()
    }
    // 1. stateless row gates — identical code path to the pure gate
    val gated = streamingGate(batch, textCol, minQuality, maxDup2gramFrac,
      historicalCorpus, unigramRef = unigramRef, benchGrams = benchGrams)
    // 2. resolve the dedup state: the durable incremental frames,
    //    rebuilt once from outDir where coverage is missing
    val outHasBatches = State.batchIds(spark, outDir).nonEmpty
    // "state committed" has two witnesses: batch partitions under
    // keys (the pre-compaction shape) OR a compaction manifest (all
    // partitions may have been folded into the bucketed base)
    def stateCommitted: Boolean =
      comp.isDefined || State.batchIds(spark, s"$sd/keys").nonEmpty
    // REBUILD — every frame is a PURE FUNCTION of the admitted corpus,
    // so any coverage gap rebuilds it from outDir in one pass, each
    // row in its original __batch_id partition (replay exclusion keeps
    // working): the text frames when outDir holds batches but no key
    // state (BOOTSTRAP), a modality frame when the marker does not
    // track it (a state that predates tracking, batches admitted
    // without the column) or its dir is gone. Coverage is judged
    // BEFORE anything is written, keys go LAST, and the marker's
    // tracking flags flip only after the rebuild (below), so a crash
    // anywhere in here redoes the rebuild instead of trusting partial
    // coverage.
    val committed = stateCommitted
    val gaps =
      if (!committed && !outHasBatches) Seq.empty
      else modal.filterNot { case (f, _, _) =>
        stored(f) && State.exists(spark, s"$sd/$f") }
    val rebuild = gaps.map(_._1) ++
      (if (outHasBatches && !committed) StateFrames else Seq.empty)
    if (rebuild.nonEmpty) {
      if (gaps.nonEmpty && !outHasBatches) {
        val what = gaps.head._2
        throw new IllegalStateException(
          s"streamingTail: $what is set but the committed state at " +
            s"$sd has no $what coverage and $outDir holds no batches " +
            "to rebuild it from — the admitted corpus is gone. Restore " +
            "outDir, or delete the WHOLE state dir to start fresh.")
      }
      val corpus =
        State.readExcluding(spark, outDir, batchId, tagged = true).get
      gaps.foreach { case (_, what, c) =>
        require(corpus.columns.contains(c),
          s"streamingTail: $what=$c but the admitted corpus under " +
            s"$outDir has no such column — the state cannot be rebuilt " +
            "for batches admitted without it")
      }
      // the frames drop non-selected columns, so re-join the partition
      // id through the corpus' (id -> batch) map
      val idToBatch =
        corpus.select(col(idCol).as("__id"), col(State.BatchCol))
      writeFrames(corpus.drop(State.BatchCol),
          frames.filter(rebuild.contains)) { (f, df) =>
        State.writeTagged(df.join(idToBatch, "__id"), s"$sd/$f")
        // a zero-row rebuild still marks coverage
        State.mkdirs(spark, s"$sd/$f")
      }
    }
    // the marker now reflects exactly what this invocation tracks
    // (checkStateParams already threw on any illegal transition, and
    // the rebuild above closed any coverage gap)
    if (stateCommitted)
      State.writeControl(spark, sd, ParamsFile, stateParamsContent(tracks))
    // auto-compaction: once n batch partitions of a table above its
    // fold boundary, other than this batch's own, are pending, fold
    // them. Running HERE — inside foreachBatch, before this batch's
    // state read — is what makes the fold safe without coordination:
    // every partition except this batch's own is committed
    // (foreachBatch for batch N only runs after N-1's commit), this
    // batch's partition is excluded explicitly, and there is no
    // concurrent reader to race.
    def foldWhen(n: Int, dir: String, above: Long)(fold: => Unit): Unit =
      if (State.batchIds(spark, dir)
          .count(id => id > above && id != batchId) >= n) fold
    // the output-fold recipe (negative-id base partition,
    // marker-healed); the heal runs every batch so a crash inside a
    // previous fold's dup window is closed at the next batch, not at
    // the next threshold crossing
    def foldOutput(n: Int, dir: String): Unit = {
      healOutputFold(spark, dir)
      foldWhen(n, dir, -1L)(compactOutput(spark, dir, compactAll = true,
        excludeBatchIds = Set(batchId)))
    }
    compactEvery.foreach { n =>
      foldWhen(n, s"$sd/keys", comp.fold(Long.MinValue)(_.upTo)) {
        compactState(spark, sd, compactAll = true,
          excludeBatchIds = Set(batchId), maxBases = compactMaxBases)
        comp = loadCompaction(spark, sd)
      }
      // the modality frames self-fold through the OUTPUT-fold recipe
      // instead of the tiered manifest: their rows are narrow
      // signatures/vectors — the per-batch small-file problem is real,
      // a bucketed tier is not (the banded candidate join keys on
      // derived chunk values, so no bucket layout can make it
      // Exchange-free; the probe side broadcasts instead)
      tracks.foreach(f => foldOutput(n, s"$sd/$f"))
    }
    compactOutputEvery.foreach(foldOutput(_, outDir))
    val (novelOf, pairsOf, oldIds) =
      if (!stateCommitted) {
        // fresh stream: no admitted corpus yet, nothing to dedup
        // against cross-batch: the batch pair pass (the incremental
        // core with no corpus index)
        ((df: DataFrame) => df,
          (ex: DataFrame) => Dedup.minhashPairs(ex, idCol, textCol,
            ShingleSize, NumHashes, Bands, threshold),
          batch.limit(0).select(col(idCol).as("__old_id")))
      } else {
        // the durable-state default: narrow precomputed frames only —
        // the admitted corpus TEXT is never read here. Each frame is
        // the compacted bucketed BASE (when a manifest exists) plus
        // the batch partitions ABOVE the fold boundary — partitions at
        // or below it are superseded by the base (they linger only in
        // a compaction crash window, and counting them would double
        // the folded rows). INTEGRITY rule: a frame may legitimately
        // lack PARTITIONS (every write with keys also creates the
        // shingles/postings DIRECTORIES, even when a batch had nothing
        // shingleable to put in them; compaction removes only
        // partition subdirs), but a missing directory or missing
        // manifest-listed base while the state is committed means the
        // state was destroyed out-of-band — falling back to empty
        // there would silently disable cross-batch NEAR dedup forever
        // (exact dups still caught by keys), the exact
        // silent-degradation mode the explicit-existence checks exist
        // to prevent. Throw instead.
        val folded = comp.map(_.upTo).getOrElse(Long.MinValue)
        def tailState(sub: String, empty: => DataFrame): DataFrame = {
          val dir = s"$sd/$sub"
          if (!State.exists(spark, dir))
            throw new IllegalStateException(
              s"streamingTail state is corrupt: $dir is missing while " +
                "the state is committed — the near-dedup state was " +
                "destroyed out-of-band. Delete the WHOLE state dir to " +
                "trigger a bootstrap rebuild from outDir, or restore " +
                "the frame.")
          else State.readExcluding(spark, dir, batchId, folded)
            .getOrElse(empty)
        }
        def baseState(sub: String): Seq[DataFrame] =
          comp.toSeq.flatMap(m => m.bases.map(tier =>
            openStateBase(spark, sd, m.buckets, tier, sub)))
        val keysBases = baseState("keys")
        val keysTail = tailState("keys",
          batch.limit(0).select(col(idCol).as("__id"),
            Novelty.exactKeyCol(textCol).as("__nk")))
        val postings = (baseState("postings") :+
          tailState("postings",
            Dedup.postingsOf(Dedup.shinglesOf(batch.limit(0), idCol,
              textCol, ShingleSize), NumHashes, Bands)))
          .reduce(_.unionByName(_))
        val shinglesSt = (baseState("shingles") :+
          tailState("shingles",
            Dedup.shinglesOf(batch.limit(0), idCol, textCol, ShingleSize)))
          .reduce(_.unionByName(_))
        // the tier and tail anti-joins run SEPARATELY, chained
        // (anti-joins compose) so every bucketed tier scan stays
        // Exchange-free — unioning tiers with the tail first would
        // discard the bucket partitioning and re-shuffle the whole
        // corpus key set every batch; only the O(batch) probe side
        // shuffles, once per tier (<= maxBases tiers by construction)
        val novelVsBases = (df: DataFrame) => keysBases.foldLeft(df)(
          (acc, b) => Novelty.exactNovelVsKeys(acc, b, textCol))
        ((df: DataFrame) =>
            Novelty.exactNovelVsKeys(novelVsBases(df), keysTail, textCol),
          (ex: DataFrame) => Dedup.minhashPairsIncrementalIndexed(ex,
            postings, shinglesSt, idCol, textCol, ShingleSize, NumHashes,
            Bands, threshold),
          (keysBases :+ keysTail)
            .map(_.select(col("__id").as("__old_id")))
            .reduce(_.unionByName(_)))
      }
    // FIRST-ARRIVAL drop, shared by the perceptual and text near-dedup
    // steps: rows paired with the admitted corpus drop (the corpus
    // already carries that cluster's representative), then intra-batch
    // clusters whose BOTH ends survived the cross check collapse to
    // their min-id representative through pair closure.
    //
    // INVARIANT this shape relies on (do not break it with a state-
    // layout change): every non-old pair end IS a batch id. That holds
    // because `old` is derived from the KEYS frame (the state's
    // LAST-written commit marker) while pairs probe the shingles/
    // postings/sigs frames written BEFORE it — a crash between the
    // derived-state writes and the keys commit replays the whole batch,
    // so a state id can never be present in the pair frames yet absent
    // from `old`. If a foreign (non-batch, non-old) id ever entered the
    // closure it could win a min-id race and silently drop batch rows.
    def firstArrival(batchDf: DataFrame, pairs: DataFrame,
                     old: DataFrame): DataFrame = {
      val flagged = pairs
        .join(old, pairs("id_a") === col("__old_id"), "left")
        .withColumn("__a_old", col("__old_id").isNotNull).drop("__old_id")
        .join(old, pairs("id_b") === col("__old_id"), "left")
        .withColumn("__b_old", col("__old_id").isNotNull).drop("__old_id")
      // a pair touching the corpus drops its NEW side (first-arrival)
      val crossDropped = flagged.where(col("__a_old") =!= col("__b_old"))
        .select(when(col("__a_old"), col("id_b")).otherwise(col("id_a"))
          .as(idCol)).distinct()
      // intra-batch closure over pairs whose both ends survived the
      // cross drop. Every non-old pair end is a batch id by
      // construction (pairs come from batch-probe joins), so "survived"
      // is exactly "not cross-dropped" — deciding it against the tiny
      // pair-derived crossDropped frame instead of semi-joining the
      // batch side keeps the closure's lineage free of the batch
      // pipeline (r18: those semi-joins forced a second materialization
      // of the whole gate chain inside the closure stage).
      val newPairs = flagged.where(!col("__a_old") && !col("__b_old"))
        .join(crossDropped.select(col(idCol).as("__cd_a")),
          col("id_a") === col("__cd_a"), "left_anti")
        .join(crossDropped.select(col(idCol).as("__cd_b")),
          col("id_b") === col("__cd_b"), "left_anti")
      val losers = Dedup.componentsOf(newPairs.select("id_a", "id_b"))
        .where(col("comp") =!= col("node"))
        .select(col("node").as(idCol))
      // cross-dropped and loser ids are disjoint (losers are non-old,
      // non-cross-dropped by construction), so ONE anti-join over the
      // union ≡ the old chained pair of anti-joins — the batch side is
      // scanned once, not twice
      batchDf.join(crossDropped.unionByName(losers), Seq(idCol),
        "left_anti")
    }
    // ONE MODALITY STEP (perceptual, semantic): the frame's durable
    // state for the admitted corpus (or none yet: the batch state's
    // empty shape), paired with the batch state by `pair`, then the
    // first-arrival drop against the state's ids
    def modalityStep(frame: String, rows: DataFrame, batchState: DataFrame)
                    (pair: DataFrame => DataFrame): DataFrame = {
      val old = State.readExcluding(spark, s"$sd/$frame", batchId)
        .fold(batchState.limit(0))(_.withColumnRenamed("__id", idCol))
      firstArrival(rows, pair(old),
        old.select(col(idCol).as("__old_id")).distinct())
    }
    // UI/profiler attribution (optimization-guide §1.5): every job a
    // phase triggers carries the phase name; restored afterwards so a
    // caller's own description survives this tail.
    def labeled[T](phase: String)(f: => T): T = {
      val sc = spark.sparkContext
      val old = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"streamingTail[b=$batchId] $phase")
      try f finally sc.setJobDescription(old)
    }
    // 2b. PERCEPTUAL dedup (blobCol set) — the EXACT incremental
    //     pairing vs the durable signature state (never the
    //     over-dropping Bloom prefilter), BEFORE the text dedups,
    //     mirroring Curate.standard's stage order: a re-encoded image
    //     dup dies before its caption pays shingling. Cross-batch
    //     first-arrival + intra-batch min-id closure, the text steps'
    //     semantics; rows whose payload decodes as neither image nor
    //     audio are never dropped here (no signature = no evidence).
    //     The corpus side of the candidate join is the narrow
    //     (id, modality, sig) state — the admitted corpus' BLOBS are
    //     never re-decoded.
    var percPairs: Option[DataFrame] = None
    // the try opens BEFORE the perceptual stage: its persisted frames
    // are eagerly materialized (the pair checkpoint and the closure
    // jobs run inside firstArrival), so a failure anywhere past this
    // point must release them like every other cache in this tail
    try {
    val pGated = blobCol match {
      case None => gated
      case Some(bc) => labeled("perceptual") {
        // the batch's payloads are SIGNATURED ONCE: the persisted
        // frame feeds the pairing here and the state write after the
        // batch lands (decode is the stage's dominant per-row cost)
        val sigs = Multimodal.perceptualSignature(gated, idCol, bc)
          .where(col("sig").isNotNull)
          .persist(StorageLevel.MEMORY_AND_DISK)
        batchSigs = Some(sigs)
        modalityStep("percsigs", gated, sigs) { old =>
          val pairs = Multimodal.perceptualPairsIncrementalFromSigs(sigs,
            old, idCol, blobMaxHamming)
            .persist(StorageLevel.MEMORY_AND_DISK)
          percPairs = Some(pairs)
          pairs
        }
      }
    }
    // 3. exact: cross-batch novelty (key anti-join), then intra-batch
    //    min-id winner. Eagerly localCheckpointed (not just persisted):
    //    every later phase of the batch — near pairs, both closures,
    //    the semantic stage, the output write, the state writes — used
    //    to re-ANALYZE the full gate+state-read lineage per action
    //    (the r18 profile's driver-gap floor, ~3.5 s per micro-batch);
    //    a checkpointed leaf makes each of those plans shallow. Same
    //    storage class as the old persist (MEMORY_AND_DISK blocks), but
    //    lifecycle differs in two documented ways: (a) RELEASE —
    //    Dataset.unpersist does NOT free checkpoint RDD blocks (it only
    //    uncaches CacheManager entries), so these blocks are released
    //    by GC + ContextCleaner when the batch closure drops the frame
    //    reference; a long-running tail relies on that, which is why
    //    there is deliberately no dead `finally unpersist()` here.
    //    (b) FAULT TOLERANCE — localCheckpoint trades lineage for plan
    //    truncation: on a real cluster an executor loss makes the
    //    checkpointed blocks unrecoverable and FAILS the action. The
    //    tail is safe because foreachBatch replay is idempotent (the
    //    retry recomputes the whole batch from source); plain BATCH
    //    callers of the checkpointing operators die and retry from
    //    source the same way. Revisit if the engine ever runs on
    //    preemptible executors.
    val exact = labeled("exact") {
      Dedup.exact(novelOf(pGated), idCol, textCol).localCheckpoint(true)
    }
    locally {
      // 4. near: one incremental pair pass (new x corpus + new x new,
      //    exact-Jaccard verified), split by which side each end is on
      //    (every pairsOf result is already materialised — a
      //    localCheckpoint or an RDD-backed empty frame — so it is read
      //    as is: a cache on top would put two table-cache stages under
      //    the closure's edge union, racing to materialise one frame)
      val pairs = labeled("near-pairs") { pairsOf(exact) }
      val nearAdmitted = labeled("near-closure") {
        firstArrival(exact, pairs, oldIds) }
      // 4b. SEMANTIC dedup (vecCol set) — the embedding modality's
      //     cross-batch step, after near dedup (Curate.standard's
      //     stage order): the batch's vectors pair EXACTLY against
      //     the durable SRP state plus themselves
      //     (SimSearch.cosinePairsIncrementalFromState — the corpus is never
      //     re-bucketed or re-read), then the same first-arrival
      //     cross-drop + intra-batch min-id closure. Rows with null
      //     vectors are never dropped here (no vector, no evidence).
      val admitted = vecCol match {
        case None => nearAdmitted
        case Some(vc) => labeled("semantic") {
          // the batch is SRP-BUCKETED ONCE (the batchSigs recipe, r18):
          // the checkpointed state frame feeds the pair pass here and
          // the semvecs state write after the batch lands — the old
          // srpStateOf(landed) re-ran the hyperplane pass per batch
          val bState = SimSearch.srpStateOf(nearAdmitted, idCol, vc,
            SemanticBits).localCheckpoint(true)
          batchSem = Some(bState)
          // cosinePairsIncrementalFromState localCheckpoints its output, so
          // the three passes in firstArrival reread the checkpoint, not
          // the plan
          modalityStep("semvecs", nearAdmitted, bState)(old =>
            SimSearch.cosinePairsIncrementalFromState(bState, old, idCol,
              semanticThreshold, SemanticBits))
        }
      }
      // 5. land the batch in its own partition; a foreachBatch retry
      //    overwrites it (idempotent replay) instead of duplicating
      labeled("land-output") { State.writeBatch(admitted, outDir, batchId) }
      // 6. maintain the durable state from the rows JUST LANDED (read
      //    back the one pruned partition — cheap, and it makes the
      //    state a pure function of the durable output), every frame
      //    through the recipe. A batch that admitted NOTHING writes no
      //    partition (a zero-row dynamic overwrite creates no
      //    directory, and a parquet read of a missing/file-less path
      //    throws) — and an empty batch contributes no state, so skip
      //    outright. A retry can't need the skip to "clear" stale
      //    rows: the recompute is deterministic against the same
      //    excluded-batch state, so a batch that once admitted rows
      //    admits the same rows again.
      if (State.hasBatch(spark, outDir, batchId)) labeled("state-write") {
        val landed = State.readBatches(spark, outDir, Seq(batchId))
        writeFrames(landed, frames)((f, df) =>
          State.writeBatch(df, s"$sd/$f", batchId))
      }
    } // `exact` (and a non-empty `pairs`) is a localCheckpoint: released
      // by the ContextCleaner (see the step-3 comment), not by a
      // (no-op) unpersist
    } finally {
      percPairs.foreach(_.unpersist())
      batchSigs.foreach(_.unpersist())
    }
  }

  // ------------------------------------------------------------------
  // streamingTail durable-state lifecycle: params marker, compaction
  // manifest, bucketed base tables
  // ------------------------------------------------------------------

  /** One compacted frame's identity: its catalog table name, external
    * data path, column DDL (to re-register the table in a fresh JVM —
    * the in-memory catalog does not survive a restart, the bucketed
    * files and this manifest do), and bucket key columns. */
  private[ops] final case class StateFrameMeta(table: String, path: String,
                                               ddl: String,
                                               bucketKeys: Seq[String])

  /** The committed compaction manifest: every batch partition with
    * `__batch_id <= upTo` has been folded into the base TIERS (oldest
    * first; each tier covers a contiguous id range and carries one
    * bucketed table per frame — the LSM shape that keeps a MINOR fold
    * from rewriting the whole corpus-sized state); reads take all
    * tiers + partitions ABOVE `upTo` only. */
  private[ops] final case class StateCompaction(upTo: Long, buckets: Int,
                                                bases: Seq[Map[String, StateFrameMeta]])

  private val CompactionFile = "_compaction.meta"
  private val ParamsFile = "_state_params"
  // the text frames: folded into bucketed tiers by compactState, and
  // rebuilt together when the key state is absent
  private val StateFrames = Seq("keys", "shingles", "postings")
  // the state's fixed identity, recorded in the `_state_params`
  // marker: Dedup's spec-pinned 3-shingle, 12-hash, 4-band MinHash
  // banding (the banding planner's own answer, OpsSpec) and
  // srpStateOf's 8 SRP bits
  private val ShingleSize = 3
  private val NumHashes = 12
  private val Bands = 4
  private val SemanticBits = 8
  /** The modality frames the marker can track: (frame, the tail option
    * that fills it, what it holds, whose checks read it, the column a
    * remedy names). */
  private val TrackedFrames = Seq(
    ("percsigs", "blobCol", "perceptual signatures", "perceptual",
      "blob column"),
    ("semvecs", "vecCol", "semantic vectors", "semantic", "vector column"))

  private def stateBucketKeys(frame: String): Seq[String] = frame match {
    case "keys"     => Seq("__nk")
    case "shingles" => Seq("__id")
    case _          => Seq("__band", "__bh")
  }

  private[ops] def loadCompaction(spark: org.apache.spark.sql.SparkSession,
                                  stateDir: String): Option[StateCompaction] =
    State.readControl(spark, stateDir, CompactionFile).map { text =>
      val kv = State.keyValues(text)
      def frameAt(prefix: String): Map[String, StateFrameMeta] =
        StateFrames.flatMap { f =>
          kv.get(s"$prefix$f.table").map { t =>
            f -> StateFrameMeta(t, kv(s"$prefix$f.path"),
              kv(s"$prefix$f.ddl"),
              kv(s"$prefix$f.bucketKeys").split(",").toSeq)
          }
        }.toMap
      val tiers = kv.get("tiers").map(_.toInt) match {
        case Some(n) => (0 until n).map(i => frameAt(s"base.$i.")).toSeq
        case None =>
          // pre-tiering manifest (one implicit tier at `frame.` keys)
          Seq(frameAt("frame."))
      }
      StateCompaction(kv("upTo").toLong, kv("buckets").toInt, tiers)
    }

  private def saveCompaction(spark: org.apache.spark.sql.SparkSession,
                             stateDir: String, m: StateCompaction): Unit = {
    val lines = Seq(s"upTo=${m.upTo}", s"buckets=${m.buckets}",
      s"tiers=${m.bases.size}") ++
      m.bases.zipWithIndex.flatMap { case (tier, i) =>
        tier.toSeq.sortBy(_._1).flatMap { case (f, fm) =>
          Seq(s"base.$i.$f.table=${fm.table}",
            s"base.$i.$f.path=${fm.path}",
            s"base.$i.$f.ddl=${fm.ddl}",
            s"base.$i.$f.bucketKeys=${fm.bucketKeys.mkString(",")}")
        }
      }
    State.writeControl(spark, stateDir, CompactionFile, lines.mkString("\n"))
  }

  private def stateParamsContent(tracks: Seq[String]): String =
    (Seq(s"shingleSize=$ShingleSize", s"numHashes=$NumHashes",
      s"bands=$Bands") ++
      TrackedFrames.map { case (f, _, _, _, _) => s"$f=${tracks.contains(f)}" } :+
      s"sembits=$SemanticBits").mkString("\n")

  /** Enforce the state-params marker: the shingle/posting frames are
    * only meaningful under the (shingleSize, numHashes, bands) they
    * were computed with, so a state written under other values (by
    * another build) must fail loudly instead of silently probing stale
    * postings. A committed state WITHOUT a marker (written by an older
    * build) adopts this build's parameters — the same trust the caller
    * extended before the marker existed, recorded from then on.
    *
    * The marker also records which [[TrackedFrames]] the state TRACKS
    * (`percsigs=`, `semvecs=`, with the SRP `sembits=`): a state built
    * with `blobCol`/`vecCol` must not silently stop updating its
    * frames (batches admitted without them would be invisible to
    * every later check), so a tracking state throws on an invocation
    * that drops the column; the converse (untracked + column now set)
    * is a legal UPGRADE — the tail rebuilds the frame from outDir and
    * flips the marker. A tracked semvecs state also pins its SRP bit
    * width (stale buckets under different hyperplanes would yield
    * wrong candidate sets — the banding rule). Returns the stored
    * tracked frames (none when no marker or a pre-flag marker). */
  private def checkStateParams(spark: org.apache.spark.sql.SparkSession,
                               stateDir: String,
                               tracks: Seq[String]): Set[String] =
    State.readControl(spark, stateDir, ParamsFile).fold(Set.empty[String]) {
      stored =>
        val kv = State.keyValues(stored)
        val bandingOk = Seq("shingleSize" -> ShingleSize,
          "numHashes" -> NumHashes, "bands" -> Bands).forall {
          case (k, v) => kv.get(k).contains(v.toString) }
        if (!bandingOk) throw new IllegalStateException(
          s"streamingTail state at $stateDir was computed under " +
            s"{${stored.trim.replace("\n", ", ")}} but this tail was " +
            s"invoked with {shingleSize=$ShingleSize, " +
            s"numHashes=$NumHashes, bands=$Bands} — probing the " +
            "stored postings under different banding would yield wrong " +
            "candidate sets. Match the parameters, or delete the WHOLE " +
            "state dir to rebuild it from outDir under the new ones.")
        val storedTracks = TrackedFrames.map(_._1)
          .filter(f => kv.get(f).exists(_.toBoolean)).toSet
        TrackedFrames.foreach { case (f, opt, holds, check, column) =>
          if (storedTracks(f) && !tracks.contains(f))
            throw new IllegalStateException(
              s"streamingTail state at $stateDir tracks $holds (it was " +
                s"built with $opt), but this tail was invoked without " +
                s"$opt — batches admitted now would be invisible to " +
                s"every later $check check, silently under-" +
                "deduplicating the stream. Pass the " +
                s"$column, or delete the WHOLE state dir to rebuild " +
                "without it.")
        }
        if (storedTracks("semvecs") && tracks.contains("semvecs") &&
            !kv.get("sembits").contains(SemanticBits.toString))
          throw new IllegalStateException(
            s"streamingTail semantic state at $stateDir was bucketed " +
              s"under sembits=${kv.getOrElse("sembits", "?")} but this " +
              s"tail was invoked with semanticBits=$SemanticBits — " +
              "probing stored buckets under different hyperplanes " +
              "would yield wrong candidate sets. Match the parameter, " +
              "or delete the WHOLE state dir to rebuild it from outDir.")
        storedTracks
    }

  private def writeStateParamsIfAbsent(
      spark: org.apache.spark.sql.SparkSession, stateDir: String,
      tracks: Seq[String]): Unit =
    if (State.readControl(spark, stateDir, ParamsFile).isEmpty)
      State.writeControl(spark, stateDir, ParamsFile,
        stateParamsContent(tracks))

  /** Open a compacted base as its bucketed catalog table, re-creating
    * the table definition when this JVM has never seen it (fresh
    * session after a restart: the external files and the manifest
    * survive, the in-memory catalog does not — the bucket spec in the
    * re-issued DDL is what keeps the scan Exchange-free). */
  private[ops] def openStateBase(spark: org.apache.spark.sql.SparkSession,
                                 stateDir: String, buckets: Int,
                                 tier: Map[String, StateFrameMeta],
                                 frame: String): DataFrame = {
    val fm = tier.getOrElse(frame, throw new IllegalStateException(
      s"streamingTail state is corrupt: the compaction manifest at " +
        s"$stateDir lists a base tier without a $frame entry"))
    if (!spark.catalog.tableExists(fm.table)) {
      val p = new org.apache.hadoop.fs.Path(fm.path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) throw new IllegalStateException(
        s"streamingTail state is corrupt: the compacted $frame base at " +
          s"${fm.path} is missing while the manifest lists it — the " +
          "state was destroyed out-of-band. Delete the WHOLE state dir " +
          "to trigger a bootstrap rebuild from outDir, or restore it.")
      val bk = fm.bucketKeys.map(c => s"`$c`").mkString(", ")
      spark.sql(s"CREATE TABLE ${fm.table} (${fm.ddl}) USING PARQUET " +
        s"CLUSTERED BY ($bk) SORTED BY ($bk) INTO $buckets BUCKETS " +
        s"LOCATION '${fm.path}'")
    }
    spark.table(fm.table)
  }

  /**
   * Fold the committed `__batch_id=` partitions of the three
   * [[streamingTail]] state frames into bucketed+sorted base TIERS —
   * keys by `__nk`, shingles by `__id`, postings by `(__band, __bh)`
   * — so state reads stop growing with batch count and the
   * exact-novelty anti-join's state side goes Exchange-free (the
   * bucketed scans already satisfy the join's distribution; only the
   * O(batch) probe side shuffles, once per tier).
   *
   * TIERED (LSM-shaped) so a fold does NOT rewrite the whole state:
   * a MINOR fold writes the new batch partitions into their own tier
   * (O(folded batches) work — the shingles frame carries corpus-text
   * bulk, so rewriting all of history per fold would make every
   * `compactEvery` window cost O(corpus)); once more than `maxBases`
   * tiers exist, a MAJOR fold merges everything into one tier.
   * Amortized rewrite cost drops by the tier width; reads chain over
   * <= maxBases tiers + the uncompacted tail.
   *
   * CRASH SAFETY is structural, not best-effort: the new bases land at
   * fresh versioned paths, the manifest (the single commit point) is
   * replaced by an ATOMIC rename, and reads take base + partitions
   * strictly ABOVE the manifest's `upTo` — so a crash before the
   * rename leaves the old manifest governing (new base dirs are
   * garbage, healed on the next run), and a crash after the rename but
   * before partition cleanup leaves superseded partitions that every
   * read already excludes. Re-running compaction is always safe.
   *
   * REPLAY SAFETY: by default the HIGHEST live batch partition is NOT
   * folded (`compactAll = false`) — after a crash mid-batch, exactly
   * that batch is replayed on restart, and its recompute must be able
   * to exclude its own partition, which a fold (dropping the
   * `__batch_id` tag) would prevent. Pass `compactAll = true` only
   * when every landed batch is known committed: from inside
   * `foreachBatch` (how [[streamingTail]]'s `compactEvery` calls this
   * — batch N running proves N-1 committed, and N itself is excluded
   * via `excludeBatchIds`), or after a clean stream shutdown.
   *
   * NOT concurrency-safe with a RUNNING tail on the same state dir
   * (single-writer, like the tail itself); `compactEvery` serializes
   * by running inside the batch. Returns the new fold boundary.
   */
  def compactState(spark: org.apache.spark.sql.SparkSession,
                   stateDir: String, buckets: Int = 8,
                   compactAll: Boolean = false,
                   excludeBatchIds: Set[Long] = Set.empty,
                   maxBases: Int = 4): Option[Long] = {
    import org.apache.spark.sql.SaveMode
    require(buckets >= 1, "buckets must be >= 1")
    require(maxBases >= 1, "maxBases must be >= 1")
    val sd = stateDir.stripSuffix("/")
    val conf = spark.sparkContext.hadoopConfiguration
    def pathOf(s: String) = new org.apache.hadoop.fs.Path(s)
    def fsOf(s: String) = pathOf(s).getFileSystem(conf)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(sd.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    def tableName(frame: String, v: Long) = s"graft_state_${frame}_${digest}_v$v"
    val old = loadCompaction(spark, sd)
    val oldUpTo = old.map(_.upTo).getOrElse(Long.MinValue)
    val oldDirNames = old.toSeq.flatMap(_.bases).flatMap(_.values)
      .map(fm => pathOf(fm.path).getName).toSet
    // 0. heal a crashed prior run: partitions already folded into a
    //    COMMITTED tier are superseded (reads exclude them; delete),
    //    and base dirs the manifest doesn't list never committed
    //    (delete + deregister)
    StateFrames.foreach { f =>
      State.dropBatches(spark, s"$sd/$f",
        State.batchIds(spark, s"$sd/$f").filter(_ <= oldUpTo))
      val sdFs = fsOf(sd)
      if (sdFs.exists(pathOf(sd)))
        sdFs.listStatus(pathOf(sd)).toSeq.map(_.getPath.getName)
          .filter(n => n.startsWith(s"${f}_base_v") && !oldDirNames(n))
          .foreach { name =>
            val v = name.stripPrefix(s"${f}_base_v").toLong
            spark.sql(s"DROP TABLE IF EXISTS ${tableName(f, v)}")
            sdFs.delete(pathOf(s"$sd/$name"), true)
          }
    }
    // 1. pick the fold boundary: the longest PREFIX of live batch ids
    //    not blocked by an exclusion (the in-flight batch) or by the
    //    keep-the-highest replay rule — a gap would break the
    //    "tiers cover everything <= upTo" reading invariant
    val live = State.batchIds(spark, s"$sd/keys").filter(_ > oldUpTo).sorted
    if (live.isEmpty && old.isEmpty) return None
    val blocked = excludeBatchIds ++
      (if (compactAll) Set.empty[Long] else live.lastOption.toSet)
    val eligible = live.takeWhile(id => !blocked.contains(id))
    if (eligible.isEmpty) return old.map(_.upTo)
    val upTo = eligible.max
    // 2. MINOR fold by default: only the tail partitions in
    //    (oldUpTo, upTo] rewrite, into their own tier. MAJOR fold when
    //    the tier count would exceed maxBases: all tiers + tail merge
    //    into one. Keys first within the tier — its frame supplies the
    //    id type for the (rare) empty shingles/postings schema.
    val oldTiers = old.toSeq.flatMap(_.bases)
    // a bucket-count change also forces a major fold: the manifest's
    // bucket count is global (one number governs every tier's
    // re-registration DDL), so mixed-width tiers cannot coexist
    val major = oldTiers.size + 1 > maxBases ||
      old.exists(_.buckets != buckets)
    var keysMerged: DataFrame = null
    val newTier = StateFrames.map { f =>
      val bucketKeys = stateBucketKeys(f)
      val tierBases =
        if (major) oldTiers.map(t => openStateBase(spark, sd,
          old.get.buckets, t, f))
        else Seq.empty
      val tailIds = State.batchIds(spark, s"$sd/$f")
        .filter(id => id > oldUpTo && id <= upTo)
      val tail =
        if (tailIds.isEmpty) None
        else Some(State.readBatches(spark, s"$sd/$f", tailIds))
      val merged = (tierBases ++ tail.toSeq) match {
        case Seq() =>
          // only reachable for shingles/postings (eligible ids come
          // from keys partitions): no folded batch had a shingleable
          // row — an empty tier with the canonical schema
          val idType = keysMerged.schema("__id").dataType
          val emptyDocs = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("__cid", idType),
              org.apache.spark.sql.types.StructField("__ctext",
                org.apache.spark.sql.types.StringType))))
          val sh = Dedup.shinglesOf(emptyDocs, "__cid", "__ctext")
          if (f == "shingles") sh else Dedup.postingsOf(sh)
        case parts => parts.reduce(_.unionByName(_))
      }
      if (f == "keys") keysMerged = merged
      val newPath = s"$sd/${f}_base_v$upTo"
      val newTable = tableName(f, upTo)
      spark.sql(s"DROP TABLE IF EXISTS $newTable")
      State.delete(spark, newPath)
      // repartition on the bucket keys with numPartitions == buckets:
      // repartition's hash and the bucket-id hash agree, so each task
      // holds exactly one bucket → ONE file per bucket. The downstream
      // sort-merge join always skips the Exchange on this side; the
      // per-bucket sort is also on disk, but Spark 3+ trusts it only
      // under spark.sql.legacy.bucketedTableScan.outputOrdering
      // (planning-time file listing) — default plans keep a cheap
      // partition-local Sort, enabling the conf removes it too
      // (CurateGateSpec pins both shapes)
      merged.repartition(buckets, bucketKeys.map(col): _*)
        .write.bucketBy(buckets, bucketKeys.head, bucketKeys.tail: _*)
        .sortBy(bucketKeys.head, bucketKeys.tail: _*)
        .format("parquet").option("path", newPath)
        .mode(SaveMode.Overwrite).saveAsTable(newTable)
      f -> StateFrameMeta(newTable, newPath,
        merged.schema.toDDL, bucketKeys)
    }.toMap
    // 3. COMMIT: atomically replace the manifest (a minor fold keeps
    //    the old tiers; a major fold replaces them all)
    saveCompaction(spark, sd, StateCompaction(upTo, buckets,
      (if (major) Seq.empty else oldTiers) :+ newTier))
    // 4. post-commit cleanup (safe to crash anywhere in here: reads
    //    already exclude everything being deleted)
    StateFrames.foreach { f =>
      State.dropBatches(spark, s"$sd/$f",
        State.batchIds(spark, s"$sd/$f").filter(_ <= upTo))
    }
    if (major) oldTiers.foreach(_.foreach { case (_, fm) =>
      spark.sql(s"DROP TABLE IF EXISTS ${fm.table}")
      State.delete(spark, fm.path)
    })
    Some(upTo)
  }

  private val OutFoldFile = "_outfold.meta"
  private val OutFoldTmp = ".outfold_tmp"

  /** Delete any half-finished output fold's artifacts and finish a
    * committed one: the hidden staging dir always goes; with a marker
    * present, a committed base (its partition dir exists) means the
    * fold only missed its source deletes — finish them — while an
    * uncommitted one means the sources are intact — just drop the
    * marker. Idempotent; called before every fold and by the tail's
    * auto path each batch. */
  private def healOutputFold(spark: org.apache.spark.sql.SparkSession,
                             outDir: String): Unit = {
    val dir = outDir.stripSuffix("/")
    State.delete(spark, s"$dir/$OutFoldTmp")
    State.readControl(spark, dir, OutFoldFile).foreach { text =>
      val kv = State.keyValues(text)
      if (State.hasBatch(spark, dir, kv("base").toLong))
        State.dropBatches(spark, dir,
          kv("sources").split(",").toSeq.filter(_.nonEmpty).map(_.toLong))
      State.delete(spark, s"$dir/$OutFoldFile")
    }
  }

  /**
   * Fold the committed `__batch_id=` partitions of a [[streamingTail]]
   * OUTPUT directory (the admitted corpus itself) into one coalesced
   * base partition — the companion to [[compactState]]: a long-running
   * stream otherwise leaves one small-file partition per micro-batch
   * in the corpus a thousand downstream jobs scan. Prior bases fold
   * in too, so exactly one base partition remains per fold.
   *
   * MECHANISM: sources (prior bases + committed batch partitions) are
   * rewritten to a hidden staging dir in `numFiles` files, a marker
   * records (base id, source ids), the staging dir is RENAMED into
   * place as partition `__batch_id=-(maxFolded)-1` (an atomic commit;
   * the negative id can never collide with a batch id, and every
   * earlier base is itself a fold source — deleted on commit — so a
   * live collision would need the stream's batch numbering to restart
   * from zero, where the rename fails LOUDLY instead of corrupting),
   * and the source partitions are deleted. Readers of the
   * plain path see a consistent corpus at every step EXCEPT the
   * seconds between the rename and the source deletes, where folded
   * rows appear twice; a crash inside that window is healed by the
   * next fold or tail batch ([[healOutputFold]] via the marker). Run
   * it out-of-band between batches, or let the tail do it
   * (`compactOutputEvery`) — same single-writer rule as the state
   * fold.
   *
   * REPLAY SAFETY: the highest live batch partition is never folded
   * unless `compactAll = true` (same contract as [[compactState]] —
   * a replayed batch must be able to overwrite its own partition;
   * folding it would strand its rows in the base AND let the retry
   * re-admit them). The tail's own reads are unaffected: per-batch
   * dedup keys off the state frames, the landed read targets the
   * current batch's partition, and a bootstrap reads the corpus
   * wholesale (base included).
   *
   * Returns the new base partition id, or None when fewer than two
   * source partitions exist (nothing to fold).
   */
  def compactOutput(spark: org.apache.spark.sql.SparkSession,
                    outDir: String, numFiles: Int = 8,
                    compactAll: Boolean = false,
                    excludeBatchIds: Set[Long] = Set.empty): Option[Long] = {
    require(numFiles >= 1, "numFiles must be >= 1")
    val dir = outDir.stripSuffix("/")
    healOutputFold(spark, dir)
    val ids = State.batchIds(spark, dir)
    val positives = ids.filter(_ >= 0)
    val bases = ids.filter(_ < 0)
    val blocked = excludeBatchIds ++
      (if (compactAll) Set.empty[Long] else positives.maxOption.toSet)
    val fold = positives.filterNot(blocked.contains)
    val sources = bases ++ fold
    if (fold.isEmpty || sources.size <= 1) return None
    val baseId = -fold.max - 1
    val tmp = s"$dir/$OutFoldTmp"
    // stage OUTSIDE the read path (a dynamic overwrite into the dir
    // being read would be rejected as a read-write conflict), then
    // commit by an atomic directory rename into the partition slot
    State.readBatches(spark, dir, sources).repartition(numFiles)
      .write.mode("overwrite").parquet(tmp)
    State.writeControl(spark, dir, OutFoldFile,
      s"base=$baseId\nsources=${sources.mkString(",")}")
    State.commitBatch(spark, tmp, dir, baseId)
    State.dropBatches(spark, dir, sources)
    State.delete(spark, s"$dir/$OutFoldFile")
    Some(baseId)
  }
}
