package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Document fingerprinting via winnowing (Schleimer, Wilkerson & Aiken,
 * SIGMOD 2003 — the MOSS kernel): hash every character k-gram of the
 * normalized text, slide a window of `w` consecutive gram hashes, and
 * keep the minimum hash of each window. The selected set is the
 * document's fingerprint, with the winnowing guarantee: any shared
 * substring of length >= w + k - 1 between two documents yields at
 * least one shared fingerprint, so fingerprint-postings joins find
 * every long-enough overlap without comparing full texts.
 *
 * This is the third sketch family next to [[Dedup]]'s MinHash (set
 * resemblance) and [[SimHash]] (weighted-token Hamming): winnowing is
 * POSITIONAL — it detects contiguous copied passages (plagiarism,
 * boilerplate, quoted spans) that set-based sketches dilute away on
 * long documents.
 *
 * Scale shape: fingerprint selection is entirely MAP-ONLY — one
 * codegen'd kernel call per row ([[Kernels.winnowUtf8]] via
 * [[graft.plans.WinnowExpression]]: grams hashed straight off the
 * byte array, O(n) monotonic-deque window minima), no explode, no
 * shuffle, no UDF; the original higher-order-function chain and a
 * scalar model live in the tests (`KernelOracles`) as the kernel's
 * parity oracles. Only the (id, fingerprint) postings —
 * O(n_grams / w) per doc, a ~1/w compression of the text — ever reach
 * a shuffle, and only in [[sharedFingerprintPairs]].
 *
 * Hash kernel: the 60-bit md5-prefix parse every cross-engine contract
 * in this library uses (`('0x' || substr(md5(g), 1, 15))::BIGINT`, see
 * [[Profile.rowDigest]]), so a SQL oracle replays fingerprints exactly.
 *
 * Window minima are selected BY VALUE (each window contributes its
 * minimum hash value; the per-document fingerprint set is the distinct
 * union). This keeps the guarantee — the minimum of a window shared by
 * two documents is the same value in both — while staying order-free
 * for the SQL replay (the original paper's rightmost-position rule
 * only changes which POSITION is recorded, not the selected values).
 */
object Fingerprint {

  /** Codegen'd fingerprint selection — [[Kernels.winnowUtf8]] as one
    * static call per row via [[graft.plans.WinnowExpression]] (no
    * function-registry dependency: the Column is built directly).
    * NULL text degenerates to the empty array, matching the HOF
    * oracle's `when(...).otherwise(empty)` contract. */
  private def winnowKernel(norm: Column, k: Int, w: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    coalesce(ColumnBridge.column(graft.plans.WinnowExpression(
      ColumnBridge.expression(norm), k, w)),
      array().cast("array<bigint>"))
  }

  /** (id, n_grams, n_fingerprints, fp_digest) per document — the
    * fingerprint summary a reproducibility pipeline records per batch.
    * `fp_digest` is the commutative sum of the selected hashes as a
    * decimal STRING (exact in DECIMAL(38,0)/HUGEINT; any float64
    * transport path would lose the low digits — same contract as
    * [[Profile.corpusDigest]]). Documents shorter than k characters
    * digest to "0" with zero grams. */
  def summary(df: DataFrame, idCol: String, textCol: String,
              k: Int = 8, w: Int = 4): DataFrame = {
    requireParams(df, idCol, k, w)
    withFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol), col("__ng").as("n_grams"),
        size(col("__fps")).cast("long").as("n_fingerprints"),
        aggregate(col("__fps"), lit(0).cast("decimal(38,0)"),
          (acc, x) => acc + x).cast("string").as("fp_digest"))
  }

  /** Exploded (id, fp) fingerprint postings — the joinable form. A
    * pair of documents sharing any substring of length >= w + k - 1
    * shares at least one `fp` value (winnowing guarantee), so an
    * equi-join on `fp` is a complete candidate generator for
    * contiguous-overlap detection. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, w: Int = 4): DataFrame = {
    requireParams(df, idCol, k, w)
    withFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol), explode(col("__fps")).as("fp"))
  }

  /**
   * Candidate pairs by shared-fingerprint count: the MOSS similarity
   * report. `minShared` is the evidence floor (1 = any shared window).
   *
   * Scale shape: the postings self-join is an equi-join on the
   * fingerprint key — narrow (fp, id) rows, never a cartesian. A
   * fingerprint appearing in d documents fans out d² pair rows, and
   * boilerplate grams make d ~ corpus size, so `maxDf` caps the
   * document frequency per fingerprint BEFORE the join (same
   * prefix-filter rationale, skew-safe groupBy+anti-join shape, and
   * "mandatory at 100×" guidance as [[Dedup.jaccardPairsWithin]]'s
   * cap — a fingerprint shared by half the corpus identifies
   * boilerplate, not a pair).
   */
  def sharedFingerprintPairs(df: DataFrame, idCol: String, textCol: String,
                             k: Int = 8, w: Int = 4, minShared: Int = 1,
                             maxDf: Int = Int.MaxValue): DataFrame = {
    require(minShared > 0, "minShared must be positive")
    val post = fingerprints(df, idCol, textCol, k, w)
    val kept =
      if (maxDf == Int.MaxValue) post
      else {
        val hot = post.groupBy(col("fp")).agg(count(lit(1)).as("__d"))
          .where(col("__d") > maxDf)
          .select(col("fp"))
        post.join(hot, Seq("fp"), "left_anti")
      }
    val a = kept.select(col("fp"), col(idCol).as("id_a"))
    val b = kept.select(col("fp"), col(idCol).as("id_b"))
    a.join(b, Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Shared projection: normalized text -> winnowed fingerprint array
    * through the codegen kernel (one static call per row, O(n) window
    * minima). The gram COUNT is pure length arithmetic — no gram-hash
    * array ever materializes as a column. */
  private def withFingerprints(df: DataFrame, idCol: String, textCol: String,
                               k: Int, w: Int): DataFrame =
    df.select(col(idCol), Dedup.normalized(col(textCol)).as("__norm"))
      .select(col(idCol),
        when(length(col("__norm")) >= k,
          (length(col("__norm")) - lit(k - 1)).cast("long"))
          .otherwise(lit(0L)).as("__ng"),
        winnowKernel(col("__norm"), k, w).as("__fps"))

  private def requireParams(df: DataFrame, idCol: String, k: Int, w: Int): Unit = {
    require(k > 0 && w > 0, "k and w must be positive")
    val clash = df.columns.toSet.intersect(Set("__norm", "__hs", "__ng", "__fps"))
    require(clash.isEmpty,
      s"input columns ${clash.mkString(", ")} collide with Fingerprint's reserved names")
  }
}
