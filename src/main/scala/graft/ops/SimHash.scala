package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * SimHash (Charikar 2002) near-duplicate detection — 64-bit signatures
 * whose Hamming distance tracks cosine similarity of the token sets.
 * Extension operator for the LLM-data-pipeline surface.
 *
 * The signature is one pass over the row's tokens (the codegen'd
 * `graft_simhash` kernel, [[graft.plans.SimHashExpression]]), then
 * candidate generation is banded exactly like MinHash: 4 x 16-bit
 * chunks, docs sharing any chunk are candidates (catches all pairs
 * within Hamming distance 3 by pigeonhole), verified with bit_count.
 * No cartesian product; the chunk join is an equi-join.
 */
object SimHash {

  /** FNV-1a 64-bit — stable across JVMs (String.hashCode is 32-bit and
    * too collision-prone for 64 signature bits). */
  private[ops] def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  private[ops] def simhash64(tokens: Seq[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = fnv1a64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Whole-text form (normalize + tokenize + signature in one call) —
    * what the `graft_simhash` kernel ([[Kernels.simhashUtf8]])
    * computes. Semantics identical to [[simhashCol]]'s
    * split(normalized, " ") path, including the empty-text case
    * (one "" token). */
  def simhashOfText(s: String): Long =
    simhash64(s.toLowerCase.trim.replaceAll("\\s+", " ").split(" ", -1).toSeq)

  /** 64-bit SimHash of whitespace tokens of a (normalized) text.
    * Backed by the codegen [[graft.plans.SimHashExpression]] (the UDF
    * form would break whole-stage codegen at the hottest point of the
    * signature scan); `coalesce` preserves the historical UDF null
    * contract (null text → signature 0, so null docs still band
    * together instead of silently dropping from candidates).
    * GraftExtensionsSpec pins it to the test-side Scala-UDF oracle. */
  def simhashCol(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    coalesce(ColumnBridge.column(graft.plans.SimHashExpression(
      ColumnBridge.expression(text))), lit(0L))
  }

  /** The four 16-bit chunk keys of a signature (for banding). */
  def chunkKeys(sig: Column): Column =
    array((0 until 4).map(j =>
      shiftrightunsigned(sig, j * 16).bitwiseAND(lit(0xFFFFL))): _*)

  /** Hamming distance between two signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Candidate pairs within `maxHamming` (<= 3 guaranteed complete by
    * pigeonhole over 4 chunks; higher values lose recall). */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    nearDupPairsFromSigs(
      df.select(col(idCol), simhashCol(col(textCol)).as("__graft_sig")),
      idCol, "__graft_sig", maxHamming)

  /** The banded Hamming candidate join over an EXISTING 64-bit
    * signature column — shared by text SimHash ([[nearDupPairs]]) and
    * image perceptual hashes (`Multimodal.imageNearDupPairs`): each
    * signature explodes into its four 16-bit chunk keys, candidates
    * pair within a (chunk, key) bucket (never all-pairs — pigeonhole
    * gives EXACT recall for maxHamming <= 3: <= 3 differing bits
    * leave at least one of four chunks identical), then the exact
    * Hamming verify. The batch run of [[nearDupPairsFromSigsGrouped]]
    * (no admitted side). */
  def nearDupPairsFromSigs(sigFrame: DataFrame, idCol: String,
                           sigCol: String,
                           maxHamming: Int = 3): DataFrame =
    nearDupPairsFromSigsGrouped(sigFrame, None, idCol, sigCol, Nil,
      maxHamming)

  /** The banded Hamming pair join of a NEW signature batch against
    * itself PLUS the (much larger) already-admitted corpus' signatures
    * `oldSigs`, without ever re-pairing the corpus against itself —
    * [[graft.ops.Dedup.minhashPairsIncrementalIndexed]]'s shape for
    * this family, through the shared candidate rule
    * ([[graft.ops.Dedup.incrementalCandidates]]: new×new pairs keep
    * id_a < id_b, new×old pairs are id-normalized). A batch run passes
    * no `oldSigs`. Output ids must share one id space (the dedup
    * family's contract); recall is exact for maxHamming <= 3 by
    * pigeonhole.
    *
    * Extra GROUP key columns ride the candidate join (rows only pair
    * within equal group values) — one join instead of one-per-group
    * for callers that previously filtered + unioned per group (the
    * multimodal modality split: half the stages, identical pairs —
    * r18). maxHamming == 0 additionally skips the 4-chunk explosion
    * outright: Hamming 0 IS signature equality, so the candidate join
    * keys on the full signature and every candidate is already
    * verified — 4x fewer join-input rows at any scale.
    *
    * PRECONDITION when `groupCols` is non-empty: an id appears under
    * at most ONE group value (the multimodal caller's shape — modality
    * is a function of id). The pair dedup keys on (id_a, id_b)
    * EXCLUDING the group columns, so an id carrying rows in two groups
    * would keep an arbitrary group's sig pair into the Hamming verify
    * — a pair that verifies under one group's sigs could be
    * nondeterministically dropped by the other's. All current callers
    * satisfy the precondition by construction. */
  private[ops] def nearDupPairsFromSigsGrouped(
      newSigs: DataFrame, oldSigs: Option[DataFrame],
      idCol: String, sigCol: String,
      groupCols: Seq[String], maxHamming: Int): DataFrame = {
    val gc = groupCols.map(col)
    def narrowed(df: DataFrame) = df.select(
      gc :+ col(idCol).as("__id") :+ col(sigCol).as("__sig"): _*)
    // the new side sits on BOTH sides of the candidate join (probe +
    // index): materialize the narrow signature rows once (r18) so a
    // live decode lineage — for perceptual callers the payload DECODE,
    // the stage's dominant per-row cost — isn't evaluated twice
    // (no-op-cheap when the caller already persisted its signature
    // frame, e.g. the streaming tail's batchSigs)
    val newNarrowed = narrowed(newSigs).localCheckpoint(true)
    if (maxHamming == 0) {
      // Hamming 0 is signature EQUALITY: key the join on the whole
      // signature — no chunk explosion, no verify (the dedup pass only
      // restores duplicate-id input parity)
      def side(df: DataFrame, id: String) =
        df.select(gc :+ col("__sig") :+ col("__id").as(id): _*)
      return Dedup.incrementalCandidates(side(newNarrowed, "id_a"),
        side(newNarrowed, "id_b"), oldSigs.map(o => side(narrowed(o), "id_b")),
        groupCols :+ "__sig", Seq(lit(0).as("hamming")))
    }
    def chunked(df: DataFrame) = df
      .select(gc ++ Seq(col("__id"), col("__sig"),
        posexplode(chunkKeys(col("__sig"))).as(Seq("__chunk", "__key"))): _*)
    def side(df: DataFrame, s: String) = chunked(df).select(gc ++ Seq(
      col("__chunk"), col("__key"), col("__id").as(s"id_$s"),
      col("__sig").as(s"sig_$s")): _*)
    // Hamming is symmetric, so the sig columns need no swap when the
    // rule normalizes a new×old pair whose old id is smaller
    Dedup.incrementalCandidates(side(newNarrowed, "a"), side(newNarrowed, "b"),
      oldSigs.map(o => side(narrowed(o), "b")),
      groupCols ++ Seq("__chunk", "__key"),
      Seq(col("sig_a"), col("sig_b")))
      .withColumn("hamming", hamming(col("sig_a"), col("sig_b")))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("int").as("hamming"))
  }
}
