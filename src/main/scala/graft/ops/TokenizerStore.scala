package graft.ops

import org.apache.spark.sql.SparkSession

import graft.state.State

/**
 * Tokenizer model persistence — the [[SimSearch.ivfSave]] discipline
 * for the tokenizer trio: a vocabulary is fitted ONCE per corpus
 * version and every later job (training-data tokenization, fertility
 * audits, serving) LOADS it instead of re-running the trainer. Models
 * are tiny (vocab-sized), so each persists as one coalesced parquet
 * side table plus a `_kind` marker that makes cross-family loads fail
 * loudly (loading a BPE table as a unigram model would otherwise
 * produce silently wrong segmentations — the failure mode this store
 * exists to prevent).
 *
 * Round-trip identity is the contract: save → load → tokenize must
 * equal tokenizing with the in-memory model, piece for piece
 * (TokenizerStoreSpec pins all three families).
 */
object TokenizerStore {

  /** The cross-family guard: the `_kind` marker is read on the driver,
    * so a refused load runs no Spark job. */
  private def requireKind(spark: SparkSession, dir: String, kind: String): Unit = {
    val found = State.kindOf(spark, dir).getOrElse("none")
    require(found == kind,
      s"tokenizer model at $dir is '$found', not '$kind' — refusing a " +
        "cross-family load (it would segment silently wrong)")
  }

  // ----- BPE ------------------------------------------------------

  def saveBpe(spark: SparkSession, merges: Seq[Bpe.Merge], dir: String): Unit = {
    import spark.implicits._
    merges.toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/model")
    State.writeKind(spark, dir, "bpe")
  }

  def loadBpe(spark: SparkSession, dir: String): Seq[Bpe.Merge] = {
    import spark.implicits._
    requireKind(spark, dir, "bpe")
    spark.read.parquet(s"$dir/model").as[Bpe.Merge]
      .collect().sortBy(_.rank).toSeq
  }

  // ----- Unigram (SentencePiece) -----------------------------------

  def saveUnigram(spark: SparkSession, pieces: Seq[Unigram.Piece],
                  dir: String): Unit = {
    import spark.implicits._
    // piece order is load-bearing for ties — persist it explicitly
    pieces.zipWithIndex.map { case (p, i) => (i, p.piece, p.count, p.logprob) }
      .toDF("ord", "piece", "count", "logprob")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/model")
    State.writeKind(spark, dir, "unigram")
  }

  def loadUnigram(spark: SparkSession, dir: String): Seq[Unigram.Piece] = {
    requireKind(spark, dir, "unigram")
    spark.read.parquet(s"$dir/model")
      .collect().sortBy(_.getInt(0))
      .map(r => Unigram.Piece(r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
  }

  // ----- WordPiece --------------------------------------------------

  def saveWordPiece(spark: SparkSession, vocab: WordPiece.Vocab,
                    dir: String): Unit = {
    import spark.implicits._
    vocab.alphabet.zipWithIndex.map { case (s, i) => (i, s) }
      .toDF("ord", "symbol")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/alphabet")
    vocab.merges.toDF().coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/model")
    State.writeKind(spark, dir, "wordpiece")
  }

  def loadWordPiece(spark: SparkSession, dir: String): WordPiece.Vocab = {
    import spark.implicits._
    requireKind(spark, dir, "wordpiece")
    val alphabet = spark.read.parquet(s"$dir/alphabet")
      .collect().sortBy(_.getInt(0)).map(_.getString(1)).toSeq
    val merges = spark.read.parquet(s"$dir/model").as[WordPiece.Merge]
      .collect().sortBy(_.rank).toSeq
    WordPiece.Vocab(alphabet, merges)
  }
}
