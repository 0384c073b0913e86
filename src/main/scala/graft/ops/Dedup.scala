package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for large-scale training-data pipelines
 * (north-star extension surface; no reference citation — the reference
 * is batch sentiment only, SURVEY.md §2.11 note).
 *
 * Scale design (the whole point of these operators at 100 TB):
 *  - exact dedup shuffles once on the normalized key (or its 64-bit
 *    hash, which keeps shuffle rows narrow);
 *  - MinHash signatures are computed per-row with higher-order
 *    functions (transform/array_min over shingles) — NO explode, NO
 *    shuffle, stays in one map stage;
 *  - candidate generation shuffles only on (band, band_hash) buckets —
 *    banded LSH, never an all-pairs product (a cartesian here is an
 *    automatic fail at scale);
 *  - verification joins texts back only for candidate pairs (tiny
 *    relative to the corpus) and computes exact Jaccard natively.
 */
object Dedup {

  /** Normalization used for exact dedup: lowercase + squeezed spaces. */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** The [[normalized]] whitespace split with empty tokens dropped —
    * THE cross-engine token contract (DuckDB replays it as
    * `list_filter(string_split(regexp_replace(lower(trim(text)),
    * '\s+', ' ', 'g'), ' '), w -> w <> '')`). Shared so the q135 LM,
    * q136/q137 packing, and any future token-count oracle cannot
    * silently diverge on the empty-token rule. */
  def normalizedTokens(text: Column): Column =
    filter(split(normalized(text), " "), w => w =!= "")

  /** Exact dedup: keep the smallest id per normalized text —
    * deterministic winner (min id), unlike `dropDuplicates` whose
    * survivor is partition-order-dependent.
    *
    * Plan shape: ONE scan of the source and ONE shuffle (row_number
    * over the 64-bit key). The previous agg+left-semi formulation
    * scanned the source twice and still shuffled full rows for the
    * join, so at 100 TB this form moves strictly fewer bytes. (A
    * one-shuffle `min_by(struct(*), id)` variant was measured 30x
    * SLOWER at sf0.1 — struct-valued min_by leaves the codegen hash-
    * aggregate path.) Skew note: a pathological mega-cluster (e.g.
    * boilerplate text duplicated millions of times) lands its copies
    * in one window partition; the sort is spill-backed so it degrades
    * to disk speed, not OOM — pre-filter known boilerplate upstream if
    * that profile is expected. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exactByOrder(df, textCol, Seq(col(idCol).asc), "Dedup.exact")

  /** Exact dedup keeping the BEST row per normalized text: winner =
    * highest `scoreCol` (e.g. a quality score), ties broken toward the
    * smallest id — the representative policy a curation pipeline
    * actually wants ([[exact]]'s min-id keeps whichever copy landed
    * first; this keeps the copy worth training on). Same ONE-scan /
    * ONE-narrow-shuffle shape and skew caveat as [[exact]]. */
  def exactKeepBest(df: DataFrame, idCol: String, textCol: String,
                    scoreCol: String): DataFrame =
    exactByOrder(df, textCol, Seq(col(scoreCol).desc, col(idCol).asc),
      "Dedup.exactKeepBest")

  /** Shared winner-per-normalized-text body for [[exact]] and
    * [[exactKeepBest]] — ONE policy for the key, the shuffle shape,
    * and the skew note, so the two survivor rules cannot diverge. */
  private def exactByOrder(df: DataFrame, textCol: String,
                           order: Seq[Column], opName: String): DataFrame =
    winnerByKey(df, xxhash64(normalized(col(textCol))), order, opName)

  /** The ONE winner-per-key window shared by the exact-dedup family
    * (and key-generalized forms like
    * [[Confusables.dropConfusableDuplicates]]): one scan, one narrow
    * shuffle on the 64-bit key, row 1 by `order` survives. */
  private[ops] def winnerByKey(df: DataFrame, key: Column,
                               order: Seq[Column], opName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clash = df.columns.toSet.intersect(Set("__key", "__rn"))
    require(clash.isEmpty,
      s"input columns ${clash.mkString(", ")} collide with $opName's reserved temp names")
    val w = Window.partitionBy(col("__key")).orderBy(order: _*)
    df.withColumn("__key", key)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__key", "__rn")
  }

  /** Single-pass word n-gram shingle set (distinct, first-occurrence
    * order): the kernel behind [[shingles]] ([[Kernels.shinglesUtf8]]).
    * Same semantics as the pure-expression form (a parity oracle in
    * the tests' `KernelOracles`) but ~6x faster: the higher-order
    * transform/slice/concat_ws chain evaluates interpreted per
    * element, which dominated the near-dup profile. */
  private[ops] def shingleSet(text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty
    val tokens = text.toLowerCase.trim.split("\\s+")
    val last = math.max(tokens.length - n, 0)
    val out = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= last) {
      val end = math.min(i + n, tokens.length)
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(tokens(j))
        j += 1
      }
      if (sb.length > 0) out.add(sb.toString)
      i += 1
    }
    out.toArray(new Array[String](out.size))
  }

  /** Word n-gram shingle set of a text column. Codegen-backed
    * ([[graft.plans.ShinglesExpression]] calling [[shingleSet]]
    * statically — no UDF boxing, stays in the WholeStageCodegen
    * span); the coalesce preserves the UDF null contract (null text
    * -> empty set). */
  def shingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    coalesce(ColumnBridge.column(graft.plans.ShinglesExpression(
      ColumnBridge.expression(text), n)),
      lit(Array.empty[String]))
  }

  /** Golden-ratio odd constant (0x9E3779B97F4A7C15): seeds the per-hash
    * multiplier family. Unsigned value 11400714819323198485. */
  private val SeedA = 0x9E3779B97F4A7C15L
  /** xorshift64* constant (0x2545F4914F6CDD1D): seeds the per-hash
    * offsets. Unsigned value 2685821657736338717. */
  private val SeedB = 0x2545F4914F6CDD1DL

  /** 60-bit md5-prefix base hash of `len` bytes of `bytes` from `off`
    * — the same `('0x' || substr(md5(g), 1, 15))` parse every other
    * cross-engine contract in this library uses (corpus digest, split
    * buckets), so any engine can replay it. First 15 hex chars = bytes
    * 0..6 plus the high nibble of byte 7. The kernels hash straight out
    * of a UTF8String's bytes: a whole shingle ([[Kernels.minhashUtf8]])
    * or one gram of a document ([[Kernels.winnowUtf8]]), no per-gram
    * slice allocation. */
  private[ops] def md5Base60Range(md: java.security.MessageDigest,
                                  bytes: Array[Byte], off: Int,
                                  len: Int): Long = {
    md.update(bytes, off, len)
    val d = md.digest()
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  /** Per-seed hash: a multiply-add permutation of Z_2^64 applied to the
    * 60-bit md5 base — `A_s * base + B_s (mod 2^64)` with odd `A_s`, the
    * standard linear minhash family. Chosen over a murmur-style
    * xor-shift mix because mod-2^64 multiply-add is exactly replayable
    * in plain SQL (HUGEINT arithmetic), which is what lets the DuckDB
    * oracle re-derive band collisions (q57's near-novelty stage)
    * instead of trusting them. */
  private[ops] def seedHash(base: Long, seed: Int): Long =
    SeedA * (2L * seed + 1L) * base + SeedB * (seed + 1L)

  /** MinHash signature: per seed i, UNSIGNED min over shingles of a
    * seed-mixed 64-bit hash. One pass per row (the per-shingle md5 base
    * is computed once and remixed per seed) — no shuffle. Components
    * are unsigned-min so the SQL replay is a plain `min` over the
    * mod-2^64 residues. */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    // codegen-backed ([[graft.plans.MinhashExpression]]): the kernel
    // hashes shingle bytes straight off the UTF8String backing array;
    // the coalesce preserves the Scala-UDF oracle's null contract (null
    // array -> all--1L sentinel signature)
    coalesce(ColumnBridge.column(graft.plans.MinhashExpression(
      ColumnBridge.expression(shingleCol), numHashes)),
      lit(Array.fill(numHashes)(-1L)))
  }

  /** Banded bucket keys: hash of each r-row slice of the signature. */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      j => xxhash64(slice(sig, j * rowsPerBand + lit(1), lit(rowsPerBand)), j))

  /** Exact Jaccard similarity of two array columns (native). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Probability a pair at Jaccard similarity `s` becomes an LSH
    * candidate under (bands x rowsPerBand) banding: `1 - (1 - s^r)^b`
    * — the S-curve every banding discussion hand-waves, as a checked
    * function. */
  def lshCollisionProb(s: Double, bands: Int, rowsPerBand: Int): Double = {
    require(s >= 0.0 && s <= 1.0, "similarity must be in [0, 1]")
    require(bands >= 1 && rowsPerBand >= 1, "bands/rowsPerBand must be >= 1")
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand.toDouble), bands.toDouble)
  }

  /** A chosen MinHash banding: pass `numHashes`/`bands` straight into
    * [[minhashPairs]]/[[dropNearDuplicates]]/[[minhashPairsIncremental]].
    * `recallAtThreshold` / `probAtLowSim` are the S-curve values the
    * plan was selected for — log them with the run. */
  final case class BandPlan(numHashes: Int, bands: Int, rowsPerBand: Int,
                            recallAtThreshold: Double, probAtLowSim: Double)

  /**
   * Banding PLANNER: the smallest signature meeting a recall floor at
   * the dedup threshold and a candidate-rate ceiling at a low
   * similarity — the two knobs that actually matter at 100 TB, where
   * every extra hash is a full corpus map pass and every false
   * candidate is a shuffled pair row plus an exact-Jaccard verify.
   *
   * Search: all (r, b) with r*b <= maxHashes; keep plans with
   * `P(candidate | s=threshold) >= targetRecall` and
   * `P(candidate | s=lowSim) <= maxLowSimProb`; return the one with
   * the fewest total hashes (ties: higher recall, then fewer bands —
   * fewer bands = fewer posting rows per doc). Throws with the
   * closest-achievable plan in the message when the two constraints
   * cannot be met inside `maxHashes` — loosen one knob consciously
   * instead of silently under-recalling.
   *
   * The library default (12 hashes, 4x3) is planBands(0.7, 0.8, 0.2,
   * 0.07)'s answer — the spec pins that, so the default and the
   * planner cannot drift apart.
   */
  def planBands(threshold: Double, targetRecall: Double = 0.9,
                lowSim: Double = 0.3, maxLowSimProb: Double = 0.05,
                maxHashes: Int = 256): BandPlan = {
    require(threshold > 0.0 && threshold < 1.0, "threshold must be in (0, 1)")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      "targetRecall must be in (0, 1)")
    require(lowSim >= 0.0 && lowSim < threshold,
      "lowSim must be below the threshold")
    require(maxLowSimProb > 0.0 && maxLowSimProb < 1.0,
      "maxLowSimProb must be in (0, 1)")
    require(maxHashes >= 1, "maxHashes must be >= 1")
    val all = for {
      r <- 1 to maxHashes
      b <- 1 to (maxHashes / r)
    } yield BandPlan(r * b, b, r,
      lshCollisionProb(threshold, b, r), lshCollisionProb(lowSim, b, r))
    val ok = all.filter(p =>
      p.recallAtThreshold >= targetRecall && p.probAtLowSim <= maxLowSimProb)
    if (ok.isEmpty) {
      // closest by recall among precision-feasible plans, else overall
      val feasible = all.filter(_.probAtLowSim <= maxLowSimProb)
      val best = (if (feasible.nonEmpty) feasible else all)
        .maxBy(p => (p.recallAtThreshold, -p.numHashes))
      throw new IllegalArgumentException(
        s"no banding within maxHashes=$maxHashes reaches recall " +
          f">= $targetRecall%.3f at s=$threshold%.2f with " +
          f"P(s=$lowSim%.2f) <= $maxLowSimProb%.3f; closest: " +
          f"${best.numHashes}%d hashes = ${best.bands}%d x " +
          f"${best.rowsPerBand}%d (recall ${best.recallAtThreshold}%.4f, " +
          f"low-sim ${best.probAtLowSim}%.4f) — raise maxHashes or " +
          "loosen a constraint")
    }
    ok.minBy(p => (p.numHashes, -p.recallAtThreshold, p.bands))
  }

  /**
   * Near-duplicate pairs via banded MinHash LSH + exact-Jaccard verify.
   *
   * Plan shape: map (shingles+signature+bands) -> posexplode bands
   * (bands x docs rows, narrow) -> shuffle on (band, hash) ->
   * within-bucket pairing (id < id) -> distinct pairs -> join shingle
   * sets back -> exact Jaccard filter. No cartesian product anywhere;
   * the bucket join is an equi-join on the band key.
   *
   * Defaults (12 hashes, 4 bands x 3 rows) catch pairs with
   * J >= ~0.7 with high probability; tune bands/rows for the target
   * threshold (P[candidate] = 1-(1-J^r)^b).
   *
   * The batch run IS [[minhashPairsIncrementalIndexed]]'s core with
   * no corpus index: every pair is new x new.
   */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, numHashes: Int = 12,
                   bands: Int = 4, threshold: Double = 0.7): DataFrame =
    if (threshold > 1.0) emptyPairs(df, idCol)
    else checkpointed(minhashPairsIncrementalPlan(df, None, idCol, textCol,
      shingleSize, numHashes, bands, threshold))

  /** Eagerly materialize a (LSH-small) verified pair plan so its
    * persisted shingle frame can be released immediately — otherwise
    * every call leaks one cached dataset for the session's lifetime. */
  private def checkpointed(plan: (DataFrame, DataFrame)): DataFrame = {
    val (sh, verified) = plan
    val out = verified.localCheckpoint(true)
    sh.unpersist()
    out
  }

  /** Persisted (id, shingles) frame — the stage every MinHash path
    * starts from. Persisted because it feeds multiple consumers
    * (banding + both sides of the verification join); at scale this is
    * the natural production checkpoint between the candidate and
    * verification phases of a 100 TB dedup run. ONE implementation so
    * full and incremental dedup can never drift in shingle semantics
    * (their equivalence is a tested contract). */
  private def shingleFrame(df: DataFrame, idCol: String, textCol: String,
                           shingleSize: Int): DataFrame =
    shinglesOf(df, idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The provably-empty verified-pair frame (id_a, id_b, jaccard) in
    * `df`'s id type — what every MinHash pair function returns when
    * `threshold > 1`: Jaccard is bounded by 1, so no pair can verify
    * and the shingle/posting/join work is dead (the passthrough
    * configuration callers use to disable a text near-dedup stage).
    * RDD-backed like the checkpointed frames the normal paths return. */
  private def emptyPairs(df: DataFrame, idCol: String): DataFrame = {
    val idt = df.schema(idCol).dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id_a", idt),
      org.apache.spark.sql.types.StructField("id_b", idt),
      org.apache.spark.sql.types.StructField("jaccard",
        org.apache.spark.sql.types.DoubleType)))
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Narrow (band, hash, id) posting of a shingle frame — the only
    * thing the candidate shuffle ever carries. */
  private def bandedPostings(sh: DataFrame, numHashes: Int, bands: Int,
                             rowsPerBand: Int): DataFrame =
    sh.withColumn("__sig", minhashSignature(col("__sh"), numHashes))
      .select(col("__id"),
        posexplode(bandHashes(col("__sig"), bands, rowsPerBand))
          .as(Seq("__band", "__bh")))

  /**
   * THE candidate rule of every near-dup family (MinHash, SimHash and
   * perceptual hashes, SRP cosine): `probe` rows (the new batch, as
   * `keys` + `id_a` + carried `*_a` columns) equi-join the new batch's
   * own `newIndex` rows unioned with the admitted corpus' `oldIndex`
   * rows (`keys` + `id_b` + carried `*_b` columns) — never old x old.
   * New x new pairs appear from both directions, so they keep
   * `id_a < id_b`; new x old pairs appear once (old ids never sit on
   * the probe side), so they keep `id_a != id_b` and are normalized
   * with least/greatest. The result is the distinct
   * `(id_a, id_b, carry...)` candidate set; `carry` columns must be
   * symmetric under the id swap (Hamming over sig_a/sig_b, a literal).
   *
   * A batch (self-join) run is this rule with NO old side (`None`):
   * it reduces to the `id_a < id_b` self-join. The reduction is spelled
   * out rather than left to the optimizer: an empty `limit(0)` old
   * side still costs a constant flag column, the normalization, and
   * (under a posexplode) a zero-row union branch — ~50 ms more
   * planning time per batch MinHash call at sf0.1 on a 4-core host.
   */
  private[ops] def incrementalCandidates(probe: DataFrame,
                                         newIndex: DataFrame,
                                         oldIndex: Option[DataFrame],
                                         keys: Seq[String],
                                         carry: Seq[Column] = Nil)
      : DataFrame = {
    val (pairs, a, b) = oldIndex match {
      case None => (probe.join(newIndex, keys)
        .where(col("id_a") < col("id_b")), col("id_a"), col("id_b"))
      case Some(old) =>
        val index = newIndex.withColumn("__old", lit(false))
          .unionByName(old.withColumn("__old", lit(true)))
        (probe.join(index, keys)
          .where((col("__old") && col("id_a") =!= col("id_b")) ||
            (!col("__old") && col("id_a") < col("id_b"))),
          least(col("id_a"), col("id_b")), greatest(col("id_a"), col("id_b")))
    }
    pairs.select(Seq(a.as("id_a"), b.as("id_b")) ++ carry: _*)
      .dropDuplicates("id_a", "id_b")
  }

  /** The banded-MinHash candidate step: the new batch's postings probe
    * its own postings plus the corpus' ([[incrementalCandidates]]). */
  private def bandCandidates(newPostings: DataFrame,
                             oldPostings: Option[DataFrame]): DataFrame = {
    def side(p: DataFrame, id: String) =
      p.select(col("__band"), col("__bh"), col("__id").as(id))
    incrementalCandidates(side(newPostings, "id_a"),
      side(newPostings, "id_b"), oldPostings.map(side(_, "id_b")),
      Seq("__band", "__bh"))
  }

  /** Exact-Jaccard verification of a narrow candidate pair set:
    * shingle arrays join back only for the (small) candidates. */
  private def verifyPairs(candidates: DataFrame, sh: DataFrame,
                          threshold: Double): DataFrame =
    candidates
      .join(sh.select(col("__id").as("id_a"), col("__sh").as("sh_a")), "id_a")
      .join(sh.select(col("__id").as("id_b"), col("__sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))

  /**
   * MinHash calibration report: over the LSH candidate set, how well
   * does the signature ESTIMATE (matching-component fraction) track
   * EXACT Jaccard? Buckets candidates by estimate decile and reports
   * per-bucket pair counts plus mean estimate / mean exact — the
   * tuning harness for choosing bands × rows against a target
   * threshold (a bucket whose mean exact sits far from its mean
   * estimate means the signature is too short; pairs piling up in
   * low-estimate buckets mean the banding is too permissive).
   *
   * Plan shape: identical to [[minhashPairs]] up to the candidate
   * set (banded postings, ids-only shuffle, no cartesian); the
   * verification join carries signatures alongside shingle sets, and
   * the report is one tiny (≤11-bucket) aggregate.
   *
   * Cross-engine contract: per-bucket means are derived from INTEGER
   * sums (matching-component counts; exact Jaccard rounded to e4 and
   * summed as longs) — a float sum's value depends on reduction
   * order, so averaging doubles directly could differ between engines
   * in the last ulp; integer sums are order-independent and the
   * single final division is deterministic.
   */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int = 3, numHashes: Int = 12,
                         bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val sh = shingleFrame(df, idCol, textCol, shingleSize)
    // signature computed once, feeds banding AND both pair sides
    val sig = sh.withColumn("__sig", minhashSignature(col("__sh"), numHashes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sig.select(col("__id"),
      posexplode(bandHashes(col("__sig"), bands, r)).as(Seq("__band", "__bh")))
    val pairs = bandCandidates(banded, None)
      .join(sig.select(col("__id").as("id_a"), col("__sh").as("sh_a"),
        col("__sig").as("sig_a")), "id_a")
      .join(sig.select(col("__id").as("id_b"), col("__sh").as("sh_b"),
        col("__sig").as("sig_b")), "id_b")
      .withColumn("__m", size(filter(
        zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, lit(1)).otherwise(lit(0))),
        v => v === 1)))
      .withColumn("__e4",
        round(jaccard(col("sh_a"), col("sh_b")) * 10000, 0).cast("long"))
    val report = pairs
      .withColumn("bucket",
        floor(col("__m").cast("double") / numHashes * 10) / lit(10))
      .groupBy("bucket").agg(
        count(lit(1)).as("n_pairs"),
        sum(col("__m").cast("long")).as("__sm"),
        sum(col("__e4")).as("__se"))
      .select(col("bucket"), col("n_pairs"),
        round(col("__sm") / (col("n_pairs") * lit(numHashes.toDouble)), 4)
          .as("avg_est"),
        round(col("__se") / (col("n_pairs") * lit(10000.0)), 4)
          .as("avg_exact"))
      .orderBy("bucket")
      .localCheckpoint(true)
    sig.unpersist()
    sh.unpersist()
    report
  }

  /**
   * Connected components over an undirected pair set (columns
   * `id_a`/`id_b`): min-label propagation to fixpoint — each node's
   * component label is the minimum id reachable from it. Returns
   * (node, comp).
   *
   * Scale shape: the pair set is the VERIFIED near-dup set, tiny
   * relative to the corpus, and duplicate clusters are shallow (label
   * propagation converges in O(diameter) rounds; `maxIter` is a
   * safety bound, with convergence detected by the monotonically
   * decreasing label sum). Each round is one equi-join + one hash
   * aggregate on narrow (long, long) rows, eagerly checkpointed so
   * lineage doesn't grow with iterations.
   *
   * A maxIter exit (cluster diameter > maxIter) means the labels are
   * only PARTIALLY converged — extra representatives survive — so it
   * must never be silent: [[componentsWithStatus]] reports the flag,
   * and [[componentsOf]] logs a warning for callers that keep the
   * labels-only shape.
   */
  /** Pair-count ceiling for [[componentsWithStatus]]'s driver-side
    * union-find fast path: at the cap the collect materializes ~2^21
    * GenericRow objects — roughly 150–300 MB of transient driver heap
    * (the long payload is 32 MB, but each collected row carries object
    * headers and boxing until the rows are condensed into the primitive
    * edge array) — bounded driver work, the [[hintIfSmall]] size-guard
    * discipline. Above the cap (a duplicate-heavy crawl whose verified
    * pair graph is corpus-scale) the distributed min-label loop runs
    * unchanged. */
  private[ops] val DriverComponentsMaxPairs: Long = 1L << 20

  /** Driver union-find over collected (src, dst) long edges: comp =
    * min id of each node's component — exactly the min-label
    * propagation fixpoint, without the per-iteration join + agg +
    * checkpoint jobs (2 jobs per round; graphs of diameter d pay
    * ~2d+4 jobs in the loop vs 1 collect here). Min-id roots: union
    * links the larger root under the smaller, so find() lands on the
    * component minimum directly. */
  private def driverUnionFind(edges: Array[(Long, Long)])
      : scala.collection.mutable.LongMap[Long] = {
    val parent = new scala.collection.mutable.LongMap[Long](edges.length * 2)
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root)
        root = parent.getOrElse(root, root)
      // path compression
      var cur = x
      while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    edges.foreach { case (a, b) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val out = new scala.collection.mutable.LongMap[Long](parent.size)
    parent.foreachKey(k => out(k) = find(k))
    out
  }

  private[ops] def componentsWithStatus(pairs: DataFrame,
                                        maxIter: Int = 25,
                                        driverMaxPairs: Long =
                                          DriverComponentsMaxPairs)
      : (DataFrame, Boolean) = {
    // `edges` and every `labels` frame below are localCheckpoints:
    // Dataset.unpersist frees nothing there, so their blocks are
    // released by GC + ContextCleaner once the frames are dropped (the
    // Curate.streamingTail step-3 note)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    // no pairs -> no components: skip the whole propagation loop (the
    // COMMON production case — a mostly-clean corpus — would otherwise
    // pay several per-iteration jobs to converge on an empty frame).
    // The count here reads the already-materialized checkpoint, not
    // the (possibly expensive) pair lineage; it also feeds the
    // driver-fast-path size guard below.
    val nEdges = edges.count()
    if (nEdges == 0)
      return (edges.select(col("src").as("node"), col("dst").as("comp")), true)
    // GUARDED DRIVER FAST PATH (integral ids only): below the pair cap
    // the closure is a single collect of the checkpointed 16-byte edge
    // rows plus a driver union-find — identical (node, comp = min id
    // reachable) labels, ~1 job instead of the loop's 2-per-round.
    // Restricted to integer id types because the distributed loop's
    // min() on strings is UTF8 binary order, which JVM String ordering
    // does not match for non-ASCII ids — the driver path must never be
    // able to pick a different winner. Non-integral or over-cap pair
    // graphs take the distributed loop below, results identical
    // (OpsSpec pins parity on randomized graphs).
    val srcType = edges.schema("src").dataType
    val integral = srcType == org.apache.spark.sql.types.LongType ||
      srcType == org.apache.spark.sql.types.IntegerType
    if (integral && nEdges <= 2L * driverMaxPairs) {
      // null ids would silently unbox to 0L in getLong and merge
      // unrelated components into id 0, where the distributed loop's
      // joins/min just ignore them — unreachable today (pairs come
      // from equi-joins), asserted so a future caller can't diverge
      val collected = edges
        .select(col("src").cast("long"), col("dst").cast("long"))
        .collect()
      require(collected.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
        "componentsOf: null id in the verified pair frame — pair " +
          "sources must emit non-null ids")
      val labels = driverUnionFind(
        collected.map(r => (r.getLong(0), r.getLong(1))))
      val spark = pairs.sparkSession
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.Row]
      rows.sizeHint(labels.size)
      labels.foreach { case (n, c) =>
        rows +=
          (if (srcType == org.apache.spark.sql.types.LongType)
            org.apache.spark.sql.Row(n, c)
          else org.apache.spark.sql.Row(n.toInt, c.toInt))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", srcType, nullable = false),
        org.apache.spark.sql.types.StructField("comp", srcType, nullable = false)))
      // RDD-backed, NOT a LocalRelation: the loop path returned a
      // localCheckpointed LogicalRDD leaf, and downstream joins guard
      // broadcasts with hintIfSmall on exactly that shape — a
      // LocalRelation would both change those plans and risk inlining
      // a near-cap label set into every task binary.
      val slices = math.max(1, rows.size / (1 << 18))
      return (spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, slices), schema), true)
    }
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node"))
      .localCheckpoint(true)
    // convergence signature: min-label propagation converges when the
    // label assignment stops changing, detected by a scalar over the
    // (node, comp) frame. Numeric ids use the EXACT decimal sum;
    // non-numeric ids (urls, md5 keys — the WET/CLI shape) use a
    // sum of 64-bit hashes, which changes whenever any label does
    // (monotone-decreasing labels make a collision-induced false
    // convergence astronomically unlikely, and maxIter still bounds)
    val compIsNumeric = labels.schema("comp").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    def labelSum(l: DataFrame): java.math.BigDecimal = {
      val sig = if (compIsNumeric) col("comp").cast("decimal(38,0)")
                else xxhash64(col("comp")).cast("decimal(38,0)")
      val r = l.agg(sum(sig)).head
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val msgs = edges.join(labels, edges("src") === labels("node"))
        .select(col("dst").as("node"), col("comp"))
      val next = labels.union(msgs)
        .groupBy(col("node")).agg(min(col("comp")).as("comp"))
        .localCheckpoint(true)
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    (labels, converged)
  }

  /** Labels-only form of [[componentsWithStatus]]; a partial
    * convergence (maxIter hit before the label-sum fixpoint) is
    * logged rather than silently returned. */
  private[ops] def componentsOf(pairs: DataFrame, maxIter: Int = 25,
                                driverMaxPairs: Long =
                                  DriverComponentsMaxPairs): DataFrame = {
    val (labels, converged) = componentsWithStatus(pairs, maxIter,
      driverMaxPairs)
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"componentsOf hit maxIter=$maxIter before converging: labels are " +
          "partial and duplicate clusters may keep extra representatives " +
          "(raise maxIter or inspect the pair graph)")
    labels
  }

  /**
   * Incremental near-dup detection: pairs between a NEW ingest batch
   * and itself plus a (much larger) historical corpus, without ever
   * re-pairing the historical corpus against itself. This is the
   * daily-ingest shape at 100 TB: old x old pairs were found when those
   * batches landed, so the only candidate buckets worth probing are the
   * ones the new batch touches.
   *
   * Plan shape: both sides get the same shingle+signature map stage
   * (in production the historical (band, hash, id) index and the
   * (id, shingles) frame are PRECOMPUTED — written bucketed by band
   * hash when each batch lands — so per-ingest cost is proportional to
   * the NEW batch only); candidates are the new-side band postings
   * equi-joined against new+old postings (never old x old), deduped as
   * narrow id pairs, then exact-Jaccard verified via shingle joins,
   * exactly like [[minhashPairs]].
   *
   * Ids must be disjoint across the two frames (one global id space);
   * output pairs are normalized to id_a < id_b.
   */
  def minhashPairsIncremental(newDf: DataFrame, oldDf: DataFrame,
                              idCol: String, textCol: String,
                              shingleSize: Int = 3, numHashes: Int = 12,
                              bands: Int = 4,
                              threshold: Double = 0.7): DataFrame = {
    val shOld = shingleFrame(oldDf, idCol, textCol, shingleSize)
    val out = minhashPairsIncrementalIndexed(newDf,
      postingsOf(shOld, numHashes, bands), shOld,
      idCol, textCol, shingleSize, numHashes, bands, threshold)
    shOld.unpersist()
    out
  }

  /** The (__id, __sh shingle-array) frame of a corpus — the
    * PRECOMPUTABLE half of the incremental dedup state (write it when
    * a batch lands; [[minhashPairsIncrementalIndexed]] reads it back
    * instead of re-shingling the corpus text per ingest). Unpersisted
    * — the caller decides the storage boundary. Rows with zero
    * shingles are excluded (they can never be LSH candidates). */
  def shinglesOf(df: DataFrame, idCol: String, textCol: String,
                 shingleSize: Int = 3): DataFrame =
    df.select(
      col(idCol).as("__id"),
      shingles(col(textCol), shingleSize).as("__sh"))
      .where(size(col("__sh")) > 0)

  /** The (__band, __bh, __id) banded-MinHash postings of a
    * [[shinglesOf]] frame — the other precomputable half of the
    * incremental dedup state (the candidate join's index side). */
  def postingsOf(shingleFr: DataFrame, numHashes: Int = 12,
                 bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    require(Set("__id", "__sh").subsetOf(shingleFr.columns.toSet),
      "postingsOf expects a shinglesOf frame (__id, __sh)")
    bandedPostings(shingleFr, numHashes, bands, numHashes / bands)
  }

  /** [[minhashPairsIncremental]] against a PRECOMPUTED corpus index:
    * `oldPostings` is the corpus' (__band, __bh, __id) posting frame
    * ([[postingsOf]]) and `oldShingles` its (__id, __sh) frame
    * ([[shinglesOf]]), both written when earlier batches landed — so
    * a new ingest batch pays shingling/hashing for ITSELF only, and
    * the corpus side contributes narrow precomputed rows to the
    * candidate equi-join plus a shingle lookup for verified-candidate
    * ids. This is the per-batch kernel behind
    * [[Curate.streamingTail]]'s durable-state default. Banding
    * parameters must match the ones the postings were computed with
    * (the caller owns that contract — persist them with the state). */
  def minhashPairsIncrementalIndexed(newDf: DataFrame,
                                     oldPostings: DataFrame,
                                     oldShingles: DataFrame,
                                     idCol: String, textCol: String,
                                     shingleSize: Int = 3,
                                     numHashes: Int = 12, bands: Int = 4,
                                     threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    require(Set("__band", "__bh", "__id").subsetOf(oldPostings.columns.toSet),
      "oldPostings must be a postingsOf frame (__band, __bh, __id)")
    require(Set("__id", "__sh").subsetOf(oldShingles.columns.toSet),
      "oldShingles must be a shinglesOf frame (__id, __sh)")
    if (threshold > 1.0) emptyPairs(newDf, idCol)
    else checkpointed(minhashPairsIncrementalPlan(newDf,
      Some((oldPostings, oldShingles)), idCol, textCol, shingleSize,
      numHashes, bands, threshold))
  }

  /** The lazy plan behind [[minhashPairsIncrementalIndexed]] (`old` =
    * the corpus' (postings, shingles) frames) and [[minhashPairs]]
    * (no corpus); returns the new batch's persisted shingle frame for
    * the caller to release. */
  private[ops] def minhashPairsIncrementalPlan(newDf: DataFrame,
                                               old: Option[(DataFrame, DataFrame)],
                                               idCol: String, textCol: String,
                                               shingleSize: Int, numHashes: Int,
                                               bands: Int, threshold: Double)
      : (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val shNew = shingleFrame(newDf, idCol, textCol, shingleSize)
    val candidates = bandCandidates(
      bandedPostings(shNew, numHashes, bands, numHashes / bands),
      old.map(_._1))
    (shNew, verifyPairs(candidates, old.fold(shNew)(o =>
      shNew.union(o._2.select(col("__id"), col("__sh")))), threshold))
  }

  /** Near-dedup with FULL transitive closure: connected components over
    * the verified pair set, keeping exactly the min-id representative
    * of every duplicate cluster — a chain A~B~C (where A,C were never
    * direct candidates) still collapses to just A. */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int = 3, numHashes: Int = 12,
                         bands: Int = 4, threshold: Double = 0.7): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, shingleSize, numHashes,
      bands, threshold)
    val comps = componentsOf(pairs)
    val losers = comps.where(col("comp") =!= col("node"))
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Broadcast-hint `df` only when a driver-side size estimate says
    * the relation fits `broadcastMaxBytes` — the guard both IVF batch
    * searches' probe joins (`SimSearch.ivfSearchBatch`,
    * `SimSearch.ivfPqSearchBatch`) and the dedup tag-back/anti-joins
    * call: an UNCONDITIONAL hint on the component/loser frames dies exactly
    * where dedup matters most (a crawl at 30-50%% near-dup rate puts
    * a corpus-scale frame in the broadcast and OOMs the driver).
    * Above the cap the hint is simply dropped — the join runs as a
    * plain shuffle (or whatever AQE picks at runtime), results
    * identical. `rows` is usually a count of an already-checkpointed
    * frame (cheap); 64 bytes/row is a deliberately conservative
    * per-row charge for the narrow (id[, label]) frames this guards. */
  private[ops] def hintIfSmall(df: DataFrame, rows: Long,
                               broadcastMaxBytes: Long,
                               bytesPerRow: Long = 64L): DataFrame =
    if (rows * bytesPerRow <= broadcastMaxBytes) broadcast(df) else df

  /**
   * Cluster-assignment form of near dedup: EVERY row tagged with its
   * duplicate-cluster representative (`cluster_id` = min id reachable
   * through the verified near-dup pair graph; singletons map to
   * themselves). [[dropNearDuplicates]] is this with a
   * `cluster_id === id` filter — the assignment form is what an
   * auditing pipeline keeps (cluster sizes, which copies were dropped
   * and WHY) and what downstream weighted-sampling reads (sample one
   * per cluster, weight by cluster size).
   *
   * Scale shape: same LSH candidate + exact-verify + min-label closure
   * stages as [[dropNearDuplicates]]; the final tag-back broadcasts
   * the component label frame only while a driver-side estimate says
   * it fits `broadcastMaxBytes` (it holds one row per node that
   * appears in some pair — tiny on a mostly-unique corpus, corpus-
   * scale on a duplicate-heavy crawl) and falls back to a plain
   * shuffle join above the cap, results identical ([[hintIfSmall]]).
   */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 12,
                      bands: Int = 4, threshold: Double = 0.7,
                      broadcastMaxBytes: Long = 64L << 20): DataFrame = {
    require(!df.columns.contains("cluster_id"),
      "input column cluster_id collides with nearDupClusters's output column")
    val pairs = minhashPairs(df, idCol, textCol, shingleSize, numHashes,
      bands, threshold)
    val comps = componentsOf(pairs).withColumnRenamed("node", idCol)
    // componentsOf returns a localCheckpointed frame: the count reads
    // the checkpoint, not the pair lineage
    df.join(hintIfSmall(comps, comps.count(), broadcastMaxBytes),
        Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("comp"), col(idCol)))
      .drop("comp")
  }

  /**
   * Exact n-gram Jaccard similarity join within a blocking key (e.g.
   * same source/lang), in the inverted-index formulation: explode the
   * shingle postings, equi-join on (block, shingle), aggregate shared
   * counts per pair, then J = i / (|A| + |B| - i). Shuffles narrow
   * (block, shingle, id) rows instead of materializing array pairs —
   * at sf0.1 this is ~40x faster than pair-then-array_intersect, and
   * at 100 TB it is the only viable shape (the postings join prunes
   * pairs with no shared shingle instead of enumerating all of them).
   * SQL-expressible, oracle-checked (q18).
   */
  /** Sentinel for [[jaccardPairsWithin]]'s `maxDf`: derive the cap per
    * block from that block's document count via [[autoMaxDf]] instead
    * of hand-tuning it. */
  val AutoDf: Int = -1

  /** The derived document-frequency cap for a block of `blockDocs`
    * documents: `max(64, ceil(4 * sqrt(blockDocs)))`. Rationale: a
    * gram's candidate fanout is df², so capping df at Θ(√B) bounds any
    * one gram's pair contribution at Θ(B) — LINEAR in block size no
    * matter how skewed the vocabulary — while the floor of 64 keeps
    * small blocks exact (a cap that low would otherwise bite long
    * before skew is a problem). Grams over the cap are stopword-grade
    * for their block: present in ≥4√B of B docs, they carry no
    * near-dup signal, only quadratic cost. The formula is part of the
    * operator's contract (q18's oracle replays it in SQL); pass an
    * explicit `maxDf` to override. */
  def autoMaxDf(blockDocs: Long): Int = {
    require(blockDocs >= 0, "blockDocs must be >= 0")
    // Int clamp: only reachable past ~2.9e17 docs per block, but a
    // silent toInt wrap there would turn the cap negative
    math.min(Int.MaxValue.toLong,
      math.max(64L, math.ceil(4.0 * math.sqrt(blockDocs.toDouble)).toLong))
      .toInt
  }

  def jaccardPairsWithin(df: DataFrame, idCol: String, textCol: String,
                         blockCol: String, n: Int,
                         threshold: Double,
                         maxDf: Int = Int.MaxValue): DataFrame = {
    require(maxDf == AutoDf || maxDf >= 1,
      s"maxDf must be >= 1, Dedup.AutoDf, or Int.MaxValue (off); got $maxDf")
    val rawPostings = df.select(col(blockCol).as("__blk"), col(idCol).as("__id"),
      explode(shingles(col(textCol), n)).as("__g"))
    // Document-frequency cap (standard prefix filtering): a shingle in k
    // docs of a block yields k^2 candidate rows, and with small n a
    // stopword-grade shingle makes k ~ block size — quadratic blowup on
    // a skewed key. With `maxDf` set, postings whose per-(block, gram)
    // count exceeds it are dropped BEFORE the self-join, bounding the
    // per-gram fanout at maxDf^2; similarity then means "Jaccard over
    // non-hot shingles" (sizes are computed from the capped postings so
    // numerator and denominator stay consistent). Default Int.MaxValue
    // = off (exact semantics); [[AutoDf]] derives the cap per block
    // from the block's doc count ([[autoMaxDf]] — what q18 runs and
    // its oracle replays); a cap is MANDATORY at 100x — leave it off
    // only when the shingle DF distribution is known to be bounded.
    //
    // The cap is computed skew-safely: a groupBy DF count (partial
    // aggregation collapses a hot gram to one row per map task) filtered
    // to the over-cap grams, left-anti joined against the postings. The
    // obvious `count(*) over (block, gram)` window would funnel every
    // posting of a hot shingle through ONE sorted window partition — the
    // skew blowup the cap exists to prevent. No broadcast hint on
    // purpose: with a generous cap the over-cap set is tiny and AQE
    // broadcasts it at runtime, but a TIGHT cap (maxDf near 1) makes it
    // most of the gram vocabulary, and a forced broadcast would OOM
    // where the shuffled anti-join degrades gracefully.
    val postings =
      if (maxDf == Int.MaxValue) rawPostings
      else if (maxDf == AutoDf) {
        // per-block derived cap ([[autoMaxDf]]): one tiny block-count
        // aggregate (a row per block — broadcast-joined at runtime)
        // supplies each block's own cap, so a mixed corpus (one huge
        // block, many small) caps each block proportionally instead of
        // one global number over- or under-capping everything
        val caps = df.groupBy(col(blockCol).as("__blk"))
          .agg(count(lit(1)).as("__bn"))
          .select(col("__blk"), greatest(lit(64L),
            ceil(lit(4.0) * sqrt(col("__bn")))).as("__cap"))
        val hot = rawPostings.groupBy(col("__blk"), col("__g"))
          .agg(count(lit(1)).as("__df"))
          .join(caps, "__blk")
          .where(col("__df") > col("__cap"))
          .select(col("__blk"), col("__g"))
        rawPostings.join(hot, Seq("__blk", "__g"), "left_anti")
      } else {
        val hot = rawPostings.groupBy(col("__blk"), col("__g"))
          .agg(count(lit(1)).as("__df"))
          .where(col("__df") > maxDf)
          .select(col("__blk"), col("__g"))
        rawPostings.join(hot, Seq("__blk", "__g"), "left_anti")
      }
    // Exact PREFIX FILTERING (AllPairs/SSJoin, Bayardo et al. 2007 /
    // Xiao et al. 2008): joining ALL postings makes every Zipf-head
    // token fan out df^2 candidate rows — the round-6..9 benches spent
    // ~90% of this operator aggregating those hot-token pairs. Instead,
    // order each doc's tokens rarest-first (total order: per-block
    // (df, gram)) and explode only the PREFIX of length
    // |d| - ceil(t*|d|) + 1: two sets with J >= t MUST share a token
    // inside both prefixes (if all shared tokens sat in a's suffix,
    // the intersection would be < ceil(t*|a|) <= the minimum J >= t
    // demands), so the candidate join over prefix postings loses no
    // true pair — and hot tokens, being the COMMONEST, land in
    // suffixes, collapsing the quadratic term. Candidates carry ids
    // only; the exact intersection is verified per candidate from the
    // full sorted token arrays. Same results, same oracle.
    val dfs = postings.groupBy(col("__blk"), col("__g"))
      .agg(count(lit(1)).as("__df"))
    val docsArr = postings.join(dfs, Seq("__blk", "__g"))
      .groupBy(col("__blk"), col("__id"))
      .agg(sort_array(collect_list(struct(col("__df"), col("__g"))))
        .as("__s"))
      .select(col("__blk"), col("__id"),
        transform(col("__s"), s => s.getField("__g")).as("__toks"),
        size(col("__s")).as("__sz"))
    val prefLen = greatest(lit(1),
      (col("__sz").cast("long") - ceil(lit(threshold) * col("__sz")) + 1)
        .cast("int"))
    val prefPost = docsArr.select(col("__blk"), col("__id"),
      explode(slice(col("__toks"), lit(1), prefLen)).as("__g"))
    val cands = prefPost.select(col("__blk"), col("__g"),
        col("__id").as("id_a"))
      .join(prefPost.select(col("__blk"), col("__g"),
        col("__id").as("id_b")), Seq("__blk", "__g"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val j = col("__i").cast("double") /
      (col("__sza") + col("__szb") - col("__i")).cast("double")
    cands
      .join(docsArr.select(col("__id").as("id_a"), col("__toks").as("__ta"),
        col("__sz").as("__sza")), "id_a")
      .join(docsArr.select(col("__id").as("id_b"), col("__toks").as("__tb"),
        col("__sz").as("__szb")), "id_b")
      .withColumn("__i", size(array_intersect(col("__ta"), col("__tb"))))
      .where(j >= threshold)
      .select(col("id_a"), col("id_b"), round(j, 4).as("jaccard"))
  }
}
