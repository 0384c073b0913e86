package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Tokenizer persistence: save → load → tokenize must equal the
  * in-memory model, and cross-family loads must fail loudly. */
class TokenizerStoreSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "low lower lowest new newer"),
    (2L, "the newer widget was lower and lower still"),
    (3L, "new widgets, newer widgets, the newest widgets"))
    .toDF("doc_id", "text")

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_tok_").toString

  test("BPE round-trip: identical merges, identical tokenization") {
    val merges = Bpe.learnMerges(docs, "text", numMerges = 6)
    val dir = tmp()
    TokenizerStore.saveBpe(spark, merges, dir)
    val back = TokenizerStore.loadBpe(spark, dir)
    assert(back === merges)
    val a = Bpe.tokenize(docs, "doc_id", "text", merges).collect().toSeq
    val b = Bpe.tokenize(docs, "doc_id", "text", back).collect().toSeq
    assert(a.map(_.toString).sorted === b.map(_.toString).sorted)
  }

  test("Unigram round-trip preserves piece ORDER (ties are order-resolved)") {
    val pieces = Unigram.learnVocab(docs, "text",
      vocabSize = 32, maxPieceLen = 4, seedSize = 64, emIters = 1)
    val dir = tmp()
    TokenizerStore.saveUnigram(spark, pieces, dir)
    val back = TokenizerStore.loadUnigram(spark, dir)
    assert(back === pieces) // exact order, counts, logprobs
    val a = Unigram.tokenize(docs, "doc_id", "text", pieces).collect().toSeq
    val b = Unigram.tokenize(docs, "doc_id", "text", back).collect().toSeq
    assert(a.map(_.toString).sorted === b.map(_.toString).sorted)
  }

  test("WordPiece round-trip: alphabet + merges + tokenization") {
    val vocab = WordPiece.learnVocab(docs, "text", numMerges = 6)
    val dir = tmp()
    TokenizerStore.saveWordPiece(spark, vocab, dir)
    val back = TokenizerStore.loadWordPiece(spark, dir)
    assert(back.alphabet === vocab.alphabet)
    assert(back.merges === vocab.merges)
    val a = WordPiece.tokenize(docs, "doc_id", "text", vocab).collect().toSeq
    val b = WordPiece.tokenize(docs, "doc_id", "text", back).collect().toSeq
    assert(a.map(_.toString).sorted === b.map(_.toString).sorted)
  }

  test("cross-family loads fail loudly instead of segmenting wrong") {
    val dir = tmp()
    TokenizerStore.saveBpe(spark, Bpe.learnMerges(docs, "text", 2), dir)
    val e = intercept[IllegalArgumentException] {
      TokenizerStore.loadUnigram(spark, dir)
    }
    assert(e.getMessage.contains("'bpe', not 'unigram'"))
    intercept[IllegalArgumentException] {
      TokenizerStore.loadWordPiece(spark, dir)
    }
  }

  test("a refused cross-family load runs no Spark job") {
    val dir = tmp()
    TokenizerStore.saveBpe(spark, Bpe.learnMerges(docs, "text", 2), dir)
    var e: IllegalArgumentException = null
    assert(jobsDuring {
      e = intercept[IllegalArgumentException] {
        TokenizerStore.loadUnigram(spark, dir)
      }
    } === 0)
    assert(e.getMessage === "requirement failed: " +
      s"tokenizer model at $dir is 'bpe', not " +
      "'unigram' — refusing a cross-family load (it would segment " +
      "silently wrong)")
  }
}
