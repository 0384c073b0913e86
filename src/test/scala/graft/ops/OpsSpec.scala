package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.{col, desc, length, lit, size}

import graft.SparkTestSession
import graft.state.State

/** LLM-pipeline operator semantics + plan-shape assertions (the scale
  * contract: LSH paths must never contain a cartesian product). */
class OpsSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "a"),
    (2L, "the quick brown fox jumps over the lazy dog", "a"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat", "a"), // near dup
    (4L, "completely different content about spark engines", "a"),
    (5L, "THE QUICK  BROWN fox jumps over the lazy dog", "b")  // dup modulo case/ws
  ).toDF("doc_id", "text", "src")

  test("exact dedup keeps the smallest id per normalized text") {
    val out = Dedup.exact(docs, "doc_id", "text")
    val ids = out.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 3L, 4L)) // 2 and 5 drop (5 normalizes to 1)
  }

  test("minhash pairs find exact and near duplicates, with jaccard") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 12, bands = 6, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L))) // identical
    assert(keys.contains((1L, 5L))) // identical after normalization
    assert(pairs.find(p => (p._1, p._2) == ((1L, 2L))).get._3 === 1.0)
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated doc
  }

  test("minhash plan contains no cartesian product") {
    // assert on the un-checkpointed plans (the public API checkpoints
    // eagerly, which would sever the lineage under inspection) — the
    // batch form and the incremental form against a non-empty corpus
    // index
    val oldSh = Dedup.shinglesOf(docs.filter(col("doc_id").isin(1L, 2L)),
      "doc_id", "text")
    val forms = Seq(
      () => Dedup.minhashPairsIncrementalPlan(docs, None, "doc_id", "text", 3,
        12, 4, 0.7),
      () => Dedup.minhashPairsIncrementalPlan(
        docs.filter(col("doc_id").isin(3L, 4L, 5L)),
        Some((Dedup.postingsOf(oldSh, 12, 4), oldSh)), "doc_id", "text", 3,
        12, 4, 0.7))
    for (form <- forms) {
      val (sh, verified) = form()
      try {
        val plan = planOf(verified)
        assert(!plan.contains("CartesianProduct"), plan.take(2000))
        assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
      } finally sh.unpersist()
    }
  }

  test("incremental minhash finds new-new and new-old pairs, never old-old") {
    // old: 1 (dog) and 2 (exact dup of 1); new: 5 (dup of 1 modulo
    // case/ws) and 3 (near dup of 1). The old-old pair (1,2) must NOT
    // appear; every pair touching the new batch must.
    val oldBatch = docs.filter(col("doc_id").isin(1L, 2L))
    val newBatch = docs.filter(col("doc_id").isin(3L, 4L, 5L))
    val pairs = Dedup.minhashPairsIncremental(newBatch, oldBatch,
      "doc_id", "text", shingleSize = 2, numHashes = 12, bands = 6,
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(!keys.contains((1L, 2L))) // old x old: found when batch 0 landed
    assert(keys.contains((1L, 5L))) // new x old, identical after norm
    assert(keys.contains((2L, 5L)))
    assert(keys.contains((3L, 5L))) // new x new (near dup)
    assert(pairs.find(p => (p._1, p._2) == ((1L, 5L))).get._3 === 1.0)
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
    // matches the full-corpus pair set minus old x old pairs
    val full = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 12, bands = 6, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys === full - ((1L, 2L)))
    // a batch run IS the incremental run against an empty corpus
    val againstNothing = Dedup.minhashPairsIncremental(docs, docs.limit(0),
      "doc_id", "text", shingleSize = 2, numHashes = 12, bands = 6,
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(againstNothing === full)
  }

  test("indexed incremental minhash equals the live form on precomputed state frames") {
    // the durable-state contract behind Curate.streamingTail: pairs
    // computed against PRECOMPUTED (and parquet-round-tripped) shingle
    // + posting frames must equal the live re-shingling form exactly
    val oldBatch = docs.filter(col("doc_id").isin(1L, 2L))
    val newBatch = docs.filter(col("doc_id").isin(3L, 4L, 5L))
    val live = Dedup.minhashPairsIncremental(newBatch, oldBatch,
      "doc_id", "text", shingleSize = 2, numHashes = 12, bands = 6,
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val d = java.nio.file.Files.createTempDirectory("graft-idx-state")
    val sh = Dedup.shinglesOf(oldBatch, "doc_id", "text", shingleSize = 2)
    sh.write.parquet(s"$d/shingles")
    Dedup.postingsOf(sh, numHashes = 12, bands = 6)
      .write.parquet(s"$d/postings")
    val indexed = Dedup.minhashPairsIncrementalIndexed(newBatch,
      spark.read.parquet(s"$d/postings"), spark.read.parquet(s"$d/shingles"),
      "doc_id", "text", shingleSize = 2, numHashes = 12, bands = 6,
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(indexed === live)
    assert(indexed.nonEmpty)
    // mismatched frames are rejected loudly
    val bad = intercept[IllegalArgumentException] {
      Dedup.minhashPairsIncrementalIndexed(newBatch,
        spark.read.parquet(s"$d/shingles"), // postings/shingles swapped
        spark.read.parquet(s"$d/postings"),
        "doc_id", "text", 2, 12, 6, 0.5)
    }
    assert(bad.getMessage.contains("postingsOf frame"))
  }

  test("bloom decontamination report is identical to the broadcast path") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "alpha beta gamma delta EPSILON theta"))
      .toDF("doc_id", "text")
    val benchmark = Seq(
      (100L, "prefix alpha beta gamma delta epsilon suffix"))
      .toDF("doc_id", "text")
    val viaBloom = Decontaminate.contaminationReportViaBloom(
      corpus, benchmark, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = Decontaminate.contaminationReport(
      corpus, benchmark, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaBloom === exact)
    assert(viaBloom === Map(1L -> 1L, 3L -> 1L))
  }

  test("jaccardPairsWithin blocks by key (no cross-block pairs)") {
    val pairs = Dedup.jaccardPairsWithin(docs, "doc_id", "text", "src",
      n = 1, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L)) // different block
  }

  test("shingle UDF matches the pure-expression formulation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100)
    for (n <- Seq(1, 3)) {
      val both = docs.select(
        Dedup.shingles(org.apache.spark.sql.functions.col("text"), n).as("u"),
        KernelOracles.shinglesExpr(org.apache.spark.sql.functions.col("text"), n).as("e"))
        .collect()
      for (r <- both)
        assert(r.getSeq[String](0).sorted === r.getSeq[String](1).sorted, s"n=$n")
    }
  }

  test("simhash: identical texts have distance 0, near texts small") {
    val t1 = "the quick brown fox jumps over the lazy dog".split(" ").toSeq
    val t2 = "the quick brown fox jumps over the lazy cat".split(" ").toSeq
    val (s1, s2) = (SimHash.simhash64(t1), SimHash.simhash64(t2))
    assert(s1 === SimHash.simhash64(t1))
    assert(java.lang.Long.bitCount(s1 ^ s2) < 20)
  }

  test("simhash near-dup pairs: dups found, plan cartesian-free") {
    val q = SimHash.nearDupPairs(docs, "doc_id", "text", maxHamming = 3)
    val sigs = docs.select(col("doc_id"),
      SimHash.simhashCol(col("text")).as("sig"))
    val inc = SimHash.nearDupPairsFromSigsGrouped(
      sigs.where(col("doc_id") >= 3L), Some(sigs.where(col("doc_id") < 3L)),
      "doc_id", "sig", Nil, maxHamming = 3)
    for (form <- Seq(q, inc)) {
      val plan = planOf(form)
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
    }
    val keys = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((1L, 2L)))
    assert(keys.contains((1L, 5L)))
  }

  test("text stats: counts and ratios on a known sentence") {
    val df = Seq((1L, "The quick, brown fox!")).toDF("id", "text")
    val row = TextStats.profile(df, "id", "text").collect().head
    assert(row.getAs[Long]("n_tokens") === 4L)
    assert(row.getAs[Long]("n_chars") === 21L)
    assert(row.getAs[Double]("punct_ratio") === math.rint(2.0 / 21 * 10000) / 10000)
    assert(row.getAs[Double]("stopword_ratio") === 0.25) // "the"
  }

  test("language id picks the dominant profile") {
    val df = Seq(
      (1L, "the cat is in the house and it is warm"),
      (2L, "la casa es grande y el perro de los vecinos"),
      (3L, "der hund und die katze sind in dem haus"),
      (4L, "zzz qqq xxx www")).toDF("id", "text")
    val got = df.select($"id", TextStats.langId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "en")
    assert(got(2L) === "es")
    assert(got(3L) === "de")
    assert(got(4L) === "und")
  }

  test("stratifiedByQuotas hits each quota exactly; quotas sum to the budget") {
    val df = (1L to 100L).map(i => (i, s"g${i % 4}")).toDF("id", "g")
    val counts = Map("g0" -> 25L, "g1" -> 25L, "g2" -> 25L, "g3" -> 25L)
    val quotas = Sample.proportionalQuotas(counts, total = 37L)
    assert(quotas.values.sum === 37L)
    val sampled = Sample.stratifiedByQuotas(df, "g", "id", quotas)
    val perGroup = sampled.groupBy("g").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perGroup === quotas.filter(_._2 > 0))
    assert(sampled.count() === 37L)
    // determinism: same quotas -> same rows
    val again = Sample.stratifiedByQuotas(df, "g", "id", quotas)
      .select("id").as[Long].collect().sorted.toSeq
    assert(again === sampled.select("id").as[Long].collect().sorted.toSeq)
  }

  test("asofWithin nulls out stale matches, keeps fresh and inclusive ones") {
    val left = Seq((1L, "u", 100L), (2L, "u", 1000L), (3L, "v", 50L))
      .toDF("id", "k", "o")
    val right = Seq(("u", 90L, 9.0), ("u", 100L, 1.0)).toDF("k", "o", "v")
    val got = AsofJoin
      .asofWithin(left, right, "k", "o", "v", "out", tolerance = 50L)
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got(1L) === Some(1.0)) // inclusive equal-ord match, gap 0
    assert(got(2L) === None) // latest match is 900 behind — stale
    assert(got(3L) === None) // key has no right rows at all
    // unbounded asof on the same frames DOES attach the stale value —
    // the tolerance is the only difference
    val unbounded = AsofJoin.asof(left, right, "k", "o", "v", "out")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(unbounded(2L) === Some(1.0))
  }

  test("surgical decontamination masks the benchmark span, keeps novel text") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
    val corpus = Seq(
      (1L, "intro words then the quick brown fox jumps over the lazy dog and novel tail"),
      (2L, "completely unrelated prose with no benchmark overlap at all today"))
      .toDF("id", "text")
    val got = Decontaminate.maskContaminatedSpans(corpus, bench, "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every 5-gram of the quoted sentence is hot -> the whole quote
    // masks out; surrounding novel words survive in order
    assert(got(1L) === "intro words then and novel tail")
    assert(got(2L) === "completely unrelated prose with no benchmark overlap at all today")
  }

  test("nfc normalization composes combining sequences and is a no-op on composed text") {
    val df = Seq((1L, "cafe\u0301"), (2L, "caf\u00e9"), (3L, "plain"))
      .toDF("id", "text")
    val got = df.select($"id", TextStats.nfcNormalize($"text").as("n"),
      length($"text").as("lb"), length(TextStats.nfcNormalize($"text")).as("la"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got(1L)._1 === "caf\u00e9" && got(1L)._2 === 5 && got(1L)._3 === 4)
    assert(got(2L) === (("caf\u00e9", 4, 4)))
    assert(got(3L) === (("plain", 5, 5)))
  }

  test("cdc chunks: lossless, deterministic, insertion re-chunks only the touched chunk") {
    val words = (1 to 200).map(i => s"w$i").toArray
    val chunks = Chunk.cdcChunksOf(words, 8)
    // lossless round-trip and determinism
    assert(chunks.mkString(" ") === words.mkString(" "))
    assert(Chunk.cdcChunksOf(words, 8).toSeq === chunks.toSeq)
    assert(chunks.length > 5) // 1/8 break probability over 200 tokens
    // insert one word mid-document: every chunk except the touched one
    // (and possibly its split successors) survives with the same text
    val inserted = (words.take(100) :+ "INSERTED") ++ words.drop(100)
    val chunks2 = Chunk.cdcChunksOf(inserted.map(_.toLowerCase), 8)
    val shared = chunks.toSet.intersect(chunks2.toSet)
    assert(shared.size >= chunks.length - 2)
    // fixed-size chunking, by contrast, shifts every chunk after the
    // insertion point — that asymmetry is the operator's reason to exist
    val fixedA = Chunk.chunksOf(words, 8, 0)
    val fixedB = Chunk.chunksOf(inserted.map(_.toLowerCase), 8, 0)
    assert(fixedA.toSet.intersect(fixedB.toSet).size < shared.size)
  }

  test("minhash calibration: identical docs land in the 1.0 bucket at exact 1.0") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy dog again today"),
      (3L, "completely different words about entirely unrelated topics here now"),
      (4L, "completely different words about entirely unrelated topics here soon")
    ).toDF("id", "text")
    val rows = Dedup.minhashCalibration(df, "id", "text")
      .collect().map(r => (r.getDouble(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3)))
    // the identical pair must surface as a full-agreement bucket
    val top = rows.find(_._1 === 1.0).get
    assert(top._2 >= 1L && top._3 === 1.0 && top._4 === 1.0)
    // every bucket's mean estimate sits inside the bucket's decile
    rows.foreach { case (b, _, est, _) =>
      assert(est >= b - 1e-9 && est < b + 0.1 + 1e-9)
    }
  }

  test("encoding-corruption counters: U+FFFD and C0 controls, tab/newline exempt") {
    val df = Seq(
      (1L, "clean prose here"),
      (2L, "bad\uFFFDbytes\uFFFD"),
      (3L, "bell\u0007 and null\u0000 x"),
      (4L, "tabs\tand\nnewlines\rare fine")).toDF("id", "text")
    val got = df.select($"id",
      TextStats.replacementCharCount($"text").as("r"),
      TextStats.controlCharCount($"text").as("c"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(got(1L) === ((0, 0)))
    assert(got(2L) === ((2, 0)))
    assert(got(3L) === ((0, 2)))
    assert(got(4L) === ((0, 0)))
  }

  test("winnowing fingerprints: deterministic, robust to prefix shift") {
    val a = KernelOracles.winnowScalar("abcdefghijklmnop", 5, 4)
    assert(a === KernelOracles.winnowScalar("abcdefghijklmnop", 5, 4))
    val shifted = KernelOracles.winnowScalar("xyabcdefghijklmnop", 5, 4)
    // shared k-gram minima survive the shift (winnowing guarantee)
    assert(a.toSet.intersect(shifted.toSet).nonEmpty)
  }

  test("winnowing summary matches the scalar model, short docs digest to 0") {
    val fx = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "The  QUICK brown fox jumps over the lazy dog"), // dup mod case/ws
      (3L, "pack my box with five dozen liquor jugs"),
      (4L, "short"), // 5 chars < k: zero grams
      (5L, "")
    ).toDF("doc_id", "text")
    val out = Fingerprint.summary(fx, "doc_id", "text", k = 8, w = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    for ((id, text) <- Seq(1L -> "the quick brown fox jumps over the lazy dog",
                           3L -> "pack my box with five dozen liquor jugs")) {
      val fps = KernelOracles.winnowScalar(text, 8, 4)
      val (ng, nfp, dig) = out(id)
      assert(ng === text.length - 7)
      assert(nfp === fps.size.toLong)
      assert(dig === fps.map(BigInt(_)).sum.toString)
    }
    // normalization folds case/double-space: doc 2 == doc 1
    assert(out(2L) === out(1L))
    assert(out(4L) === ((0L, 0L, "0")))
    assert(out(5L) === ((0L, 0L, "0")))
  }

  test("shared-fingerprint pairs find the duplicate, maxDf prunes boilerplate") {
    val fx = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely unrelated words about spark engines here")
    ).toDF("doc_id", "text")
    val pairs = Fingerprint.sharedFingerprintPairs(fx, "doc_id", "text",
      k = 8, w = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // df=1 cap drops every fingerprint the dup pair shares
    val capped = Fingerprint.sharedFingerprintPairs(fx, "doc_id", "text",
      k = 8, w = 4, maxDf = 1)
    assert(capped.isEmpty)
  }

  test("tfidf keywords: ubiquitous words score 0, rare words rank first") {
    val fx = Seq(
      (1L, "alpha alpha common"),
      (2L, "beta common"),
      (3L, "gamma common")
    ).toDF("doc_id", "text")
    val out = TextStats.tfidfKeywords(fx, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    val byDoc = out.groupBy(_._1)
    // doc 1: alpha tf=2 df=1 -> 2*ln(3) ~ 2.1972 ranks over common (0.0)
    val d1 = byDoc(1L).sortBy(_._2)
    assert(d1.map(_._3).toSeq === Seq("alpha", "common"))
    assert(d1.head._4 === 2L)
    assert(math.abs(d1.head._5 - 2 * math.log(3)) < 1e-3)
    assert(d1(1)._5 === 0.0) // df == nDocs -> ln(1) = 0, sign-folded
    // every doc gets at most k rows, ranks dense from 1
    assert(byDoc.values.forall(rows =>
      rows.map(_._2).sorted.toSeq == (1L to rows.size.toLong)))
  }

  test("lexical diversity: exact ttr/hapax/entropy on a known doc") {
    val fx = Seq(
      (1L, "a a a b"),       // n=4, types=2, hapax=1 (b)
      (2L, "x x x x"),       // single type: entropy exactly 0
      (3L, "u v w")          // all hapax: maximal diversity
    ).toDF("doc_id", "text")
    val out = TextStats.lexicalDiversity(fx, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    val (n1, t1, ttr1, hx1, h1) = out(1L)
    assert((n1, t1, ttr1, hx1) === ((4L, 2L, 0.5, 0.5)))
    // H = ln(4) - (3 ln 3 + 1 ln 1)/4
    val expected = math.log(4) - 3 * math.log(3) / 4
    assert(math.abs(h1 - BigDecimal(expected).setScale(3,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(out(2L) === ((4L, 1L, 0.25, 0.0, 0.0)))
    assert(out(3L)._5 === BigDecimal(math.log(3)).setScale(3,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("near-dup clusters: chain collapses to min id, singletons self-map") {
    // 1~2 exact, 2~3 near (chain), 4 unrelated
    val clusters = Dedup.nearDupClusters(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 12, bands = 6, threshold = 0.5)
      .select("doc_id", "cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters(1L) === 1L)
    assert(clusters(2L) === 1L)
    assert(clusters(5L) === 1L)
    assert(clusters(4L) === 4L) // singleton
    // assignment form agrees with the drop form: survivors = fixpoints
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 12, bands = 6, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === clusters.filter { case (id, c) => id == c }.keySet)
    // broadcast guard (the ivfPqSearchBatch recipe): hint present
    // under the cap, absent above it (the analyzed plan keeps hints;
    // AQE may still broadcast a tiny frame at runtime — the guard
    // only stops FORCING a corpus-scale one), assignments identical
    def shaped(maxBytes: Long) = Dedup.nearDupClusters(docs, "doc_id",
      "text", shingleSize = 2, numHashes = 12, bands = 6,
      threshold = 0.5, broadcastMaxBytes = maxBytes)
    assert(shaped(64L << 20).queryExecution.analyzed.toString
      .toLowerCase.contains("broadcast"))
    assert(!shaped(0L).queryExecution.analyzed.toString
      .toLowerCase.contains("broadcast"))
    assert(shaped(0L).select("doc_id", "cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap === clusters)
  }

  test("cosineTopK: nearest is the most aligned vector") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = SimSearch.cosineTopK(vecs, "vec_id", "embedding", 0L, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.head._1 === 1L)
    assert(top.head._2 > 0.99)
    assert(top.last._1 === 2L)
  }

  test("ivf ann: high recall vs brute force on the embeddings fixture") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = SimSearch.cosineTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = SimSearch.ivfTopK(emb, "vec_id", "embedding", 0L, 10,
      nlist = 8, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    // probing half the cells must recover most of the true top-10
    assert(ivf.intersect(exact).size >= 5, s"ivf=$ivf exact=$exact")
    assert(ivf.size === 10)
  }

  test("pq: codebook shapes, self-match, ADC recall, 16x compression") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = SimSearch.pqFit(emb, "vec_id", "embedding", m = 16, k = 32)
    assert(model.dsub === 4)
    assert(model.codebooks.length === 16 &&
      model.codebooks.forall(_.length === 32))
    val codes = SimSearch.pqEncode(emb, "vec_id", "embedding", model)
      .persist()
    try {
      assert(codes.count() === emb.count())
      // codes are in range and not degenerate (one code for everything)
      val distinct = codes.select(col("codes").cast("array<string>"))
        .distinct().count()
      assert(distinct > 100, s"only $distinct distinct code words")
      // the query's own encoding is its nearest ADC row (distance =
      // pure quantization error, minimal by construction)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect()(0).getSeq[Double](0).toArray
      val top = SimSearch.pqSearch(codes, "vec_id", model, q, topK = 100)
        .collect().map(_.getLong(0))
      assert(top.head === 0L)
      // production contract: exact top-10 within the ADC top-100
      // rerank window (the IVF+PQ serving shape)
      val exact = SimSearch.cosineTopK(emb, "vec_id", "embedding", 0L, 10)
        .collect().map(_.getLong(0)).toSet
      val window = top.toSet
      assert(exact.intersect(window).size >= 8,
        s"exact=$exact window100=${window.take(20)}")
      // determinism: a second fit+encode round-trips identically
      val model2 = SimSearch.pqFit(emb, "vec_id", "embedding", m = 16, k = 32)
      val codes2 = SimSearch.pqEncode(emb, "vec_id", "embedding", model2)
      assert(codes.exceptAll(codes2).isEmpty)
      // m=16 byte-ish codes vs 64 floats = 16x (the scale story)
      assert(64 * 4 / model.m === 16)
    } finally { codes.unpersist(); () }
  }

  test("ivfpq: probed ADC equals flat at nprobe=nlist; model and index persist") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    val idx = SimSearch.ivfPqFit(emb, "vec_id", "embedding",
      nlist = 8, m = 16, k = 32)
    idx.codes.persist()
    try {
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect()(0).getSeq[Double](0).toArray
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // nprobe = nlist scans every cell: the shared raw-vector
      // codebooks make the probed ranking EQUAL the flat pqSearch one
      val flat = rows(SimSearch.pqSearch(
        idx.codes.select("vec_id", "codes"), "vec_id", idx.model, q, 50))
      val probedAll = rows(SimSearch.ivfPqSearch(idx, q, 50, nprobe = 8))
      assert(probedAll === flat)
      // the production shape (nprobe << nlist) still self-matches:
      // the query's own cell is by construction its nearest center
      val pruned = rows(SimSearch.ivfPqSearch(idx, q, 10, nprobe = 2))
      assert(pruned.head._1 === 0L)
      assert(pruned.toSet.subsetOf(probedAll.toSet ++
        rows(SimSearch.ivfPqSearch(idx, q, 500, nprobe = 8)).toSet))
      // pqSave/pqLoad: codebooks round-trip cell-exact
      SimSearch.pqSave(spark, idx.model, s"$dir/pq")
      val m2 = SimSearch.pqLoad(spark, s"$dir/pq")
      assert((m2.m, m2.k, m2.dsub) === ((idx.model.m, idx.model.k, idx.model.dsub)))
      assert(m2.codebooks.flatten.flatten.toSeq ===
        idx.model.codebooks.flatten.flatten.toSeq)
      // ivfPqSave/ivfPqLoad: searches agree after a JVM-boundary load
      SimSearch.ivfPqSave(idx, s"$dir/idx")
      val re = SimSearch.ivfPqLoad(spark, s"$dir/idx", "vec_id")
      assert(rows(SimSearch.ivfPqSearch(re, q, 50, nprobe = 8)) === flat)
      // the saved layout prunes at the FILE level: a one-cell probe
      // reads only that cell's partition directory
      val files = re.codes.where(col("__cell") === 0)
        .select(org.apache.spark.sql.functions.input_file_name())
        .distinct().collect().map(_.getString(0))
      assert(files.nonEmpty && files.forall(_.contains("__cell=0")))
      // cross-family guard: an ivfpq dir is not a pq model dir
      val e = intercept[IllegalArgumentException] {
        SimSearch.pqLoad(spark, s"$dir/idx")
      }
      assert(e.getMessage.contains("ivfpq"))
    } finally {
      idx.codes.unpersist()
      def rmr(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(); ()
      }
      rmr(new java.io.File(dir))
    }
  }

  test("ivfPqSearchBatch: one job serves a query set, ranked as per-query") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = SimSearch.ivfPqFit(emb, "vec_id", "embedding",
      nlist = 8, m = 16, k = 8)
    idx.codes.persist()
    try {
      val queries = emb.where(col("vec_id") % 50 === 0)
      val batch = SimSearch.ivfPqSearchBatch(
        idx, queries, "vec_id", "embedding", topK = 5, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val byQ = batch.groupBy(_._1)
      assert(byQ.size === queries.count())
      // every query's own code is the global ADC minimum -> self top-1
      assert(byQ.forall { case (qid, rows) =>
        rows.minBy(t => (t._3, t._2))._2 == qid
      })
      // batch ≡ per-query search, including rounding and tie-break
      byQ.keys.toSeq.sorted.take(3).foreach { qid =>
        val q = emb.where(col("vec_id") === qid)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toArray
        val single = SimSearch.ivfPqSearch(idx, q, 5, nprobe = 3)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val fromBatch = byQ(qid).map(t => (t._2, t._3)).toSeq
          .sortBy(t => (t._2, t._1))
        assert(single === fromBatch, s"qid=$qid")
      }
    } finally { idx.codes.unpersist(); () }
  }

  test("ivfPqSearchRerank: exact rerank of the ADC window, full-window = brute force") {
    import org.apache.spark.sql.functions.{col => c}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = SimSearch.ivfPqFit(emb, "vec_id", "embedding",
      nlist = 8, m = 16, k = 8)
    idx.codes.persist()
    try {
      val q = emb.where(c("vec_id") === 0)
        .select(c("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val n = emb.count().toInt
      // full probe + corpus window: rerank IS brute force (modulo the
      // self row cosineTopK excludes)
      val full = SimSearch.ivfPqSearchRerank(idx, emb, "embedding", q,
        topK = 11, window = n, nprobe = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(full.head._1 === 0L && full.head._2 === 1.0)
      val brute = SimSearch.cosineTopK(emb, "vec_id", "embedding", 0L, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(full.drop(1) === brute)
      // production pruning: self still reranks first; rerank recall@10
      // >= raw ADC recall@10 (monotone by construction)
      val rr = SimSearch.ivfPqSearchRerank(idx, emb, "embedding", q,
        topK = 11, window = 50, nprobe = 3)
        .collect().map(_.getLong(0)).toSeq
      assert(rr.head === 0L)
      val exact10 = brute.map(_._1).toSet
      val adc10 = SimSearch.ivfPqSearch(idx, q, 11, nprobe = 3)
        .collect().map(_.getLong(0)).filter(_ != 0L).take(10).toSet
      assert(exact10.intersect(rr.drop(1).take(10).toSet).size
        >= exact10.intersect(adc10).size)
      // guard: the window must cover the requested k
      intercept[IllegalArgumentException] {
        SimSearch.ivfPqSearchRerank(idx, emb, "embedding", q,
          topK = 20, window = 10)
      }
      // residual indexes rerank through the same path (stage 1
      // dispatches on the flag; stage 2 is mode-independent)
      val res = SimSearch.ivfPqFit(emb, "vec_id", "embedding",
        nlist = 8, m = 16, k = 8, residual = true)
      val rrRes = SimSearch.ivfPqSearchRerank(res, emb, "embedding", q,
        topK = 11, window = n, nprobe = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rrRes.head._1 === 0L && rrRes.drop(1) === brute)
    } finally { idx.codes.unpersist(); () }
  }

  test("residual ivfpq: distinct kind, cross-mode guards, serve/append/batch parity") {
    import org.apache.spark.sql.functions.{col => c}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-res").toString
    try {
      val idx = SimSearch.ivfPqFit(emb, "vec_id", "embedding",
        nlist = 8, m = 16, k = 8, residual = true)
      assert(idx.residual)
      val q = emb.where(c("vec_id") === 0)
        .select(c("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // the query's own residual code is its nearest ADC row
      val pruned = rows(SimSearch.ivfPqSearch(idx, q, 10, nprobe = 2))
      assert(pruned.head._1 === 0L)
      // save/load: distinct _kind, residual flag restored, serve parity
      SimSearch.ivfPqSave(idx, dir)
      val kind = spark.read.parquet(s"$dir/_kind").head().getString(0)
      assert(kind === "ivfpq_res")
      val re = SimSearch.ivfPqLoad(spark, dir, "vec_id")
      assert(re.residual)
      assert(rows(SimSearch.ivfPqSearch(re, q, 20, nprobe = 8)) ===
        rows(SimSearch.ivfPqSearch(idx, q, 20, nprobe = 8)))
      // cross-family guard unchanged: not a pq model dir
      val e = intercept[IllegalArgumentException] {
        SimSearch.pqLoad(spark, dir)
      }
      assert(e.getMessage.contains("ivfpq_res"))
      // append DISPATCHES on the persisted kind: appended codes equal
      // what a fit-time residual encode of the same vectors stores
      val dir2 = java.nio.file.Files.createTempDirectory("graft-ivfpq-res2").toString
      try {
        val base = emb.where(c("vec_id") % 5 =!= 0)
        val batch = emb.where(c("vec_id") % 5 === 0)
        SimSearch.ivfPqSave(SimSearch.ivfPqFit(base, "vec_id", "embedding",
          nlist = 4, m = 16, k = 8, residual = true), dir2)
        assert(SimSearch.ivfPqAppend(spark, dir2, batch, "vec_id",
          "embedding", batchId = Some(5L)))
        val re2 = SimSearch.ivfPqLoad(spark, dir2, "vec_id")
        assert(re2.codes.count() === emb.count())
        // a batch vector self-matches through the appended residual path
        val qb = batch.where(c("vec_id") === 0)
          .select(c("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toArray
        assert(rows(SimSearch.ivfPqSearch(re2, qb, 5, nprobe = 2))
          .head._1 === 0L)
      } finally {
        def rmr(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(); ()
        }
        rmr(new java.io.File(dir2))
      }
      // batch serving parity per query, at BOTH plan shapes (the
      // residual batch carries one table per probe cell by necessity)
      val queries = emb.where(c("vec_id") % 50 === 0)
      def batchRows(maxBytes: Long) = SimSearch.ivfPqSearchBatch(
        re, queries, "vec_id", "embedding", topK = 5, nprobe = 3,
        broadcastMaxBytes = maxBytes).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._3, t._2)).toSeq
      val bc = batchRows(64L << 20)
      assert(bc === batchRows(0L))
      bc.groupBy(_._1).keys.toSeq.sorted.take(3).foreach { qid =>
        val qv = emb.where(c("vec_id") === qid)
          .select(c("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toArray
        val single = rows(SimSearch.ivfPqSearch(re, qv, 5, nprobe = 3))
        val fromBatch = bc.filter(_._1 == qid).map(t => (t._2, t._3))
          .sortBy(t => (t._2, t._1)).toSeq
        assert(single === fromBatch, s"qid=$qid")
      }
    } finally {
      def rmr(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(); ()
      }
      rmr(new java.io.File(dir))
    }
  }

  test("ivfPqSearchBatch: shuffle fallback above the broadcast cap ranks identically") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = SimSearch.ivfPqFit(emb, "vec_id", "embedding",
      nlist = 8, m = 16, k = 8)
    idx.codes.persist()
    try {
      val queries = emb.where(col("vec_id") % 50 === 0)
      def rows(maxBytes: Long) = SimSearch.ivfPqSearchBatch(
        idx, queries, "vec_id", "embedding", topK = 5, nprobe = 3,
        broadcastMaxBytes = maxBytes)
      // guard unit check: the broadcast hint is present under the cap
      // and ABSENT when the estimated probe payload exceeds it (the
      // analyzed plan keeps hints; the physical plan may still pick a
      // broadcast join for a tiny frame via AQE — that's Spark's call,
      // the guard only stops the engine from FORCING a multi-GB one)
      val hinted = rows(64L << 20).queryExecution.analyzed.toString
      val guarded = rows(0L).queryExecution.analyzed.toString
      assert(hinted.toLowerCase.contains("broadcast"))
      assert(!guarded.toLowerCase.contains("broadcast"))
      // both plan shapes rank every query identically
      def collected(maxBytes: Long) = rows(maxBytes).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._3, t._2)).toSeq
      assert(collected(64L << 20) === collected(0L))
    } finally { idx.codes.unpersist(); () }
  }

  test("ivfPqAppend with a batch id: exactly-once — replay is a no-op") {
    import org.apache.spark.sql.functions.{col => c}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.where(c("vec_id") % 5 =!= 0)
    val batch = emb.where(c("vec_id") % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-once").toString
    try {
      SimSearch.ivfPqSave(SimSearch.ivfPqFit(base, "vec_id", "embedding",
        nlist = 4, m = 16, k = 8), dir)
      // negative ids are reserved for the fit-time partition
      intercept[IllegalArgumentException] {
        SimSearch.ivfPqAppend(spark, dir, batch, "vec_id", "embedding",
          batchId = Some(-3L))
      }
      assert(SimSearch.ivfPqAppend(spark, dir, batch, "vec_id", "embedding",
        batchId = Some(7L)))
      assertBatchLayout(dir, "codes", 7L)
      val idx = SimSearch.ivfPqLoad(spark, dir, "vec_id")
      val n1 = idx.codes.count()
      assert(n1 === emb.count())
      val q = batch.where(c("vec_id") === 0)
        .select(c("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      def serve() = SimSearch.ivfPqSearch(
        SimSearch.ivfPqLoad(spark, dir, "vec_id"), q, 10, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val before = serve()
      // the REPLAY (a foreachBatch retry of an already-committed batch)
      // is a no-op: same codes frame, same search results
      assert(!SimSearch.ivfPqAppend(spark, dir, batch, "vec_id", "embedding",
        batchId = Some(7L)))
      assert(SimSearch.ivfPqLoad(spark, dir, "vec_id").codes.count() === n1)
      assert(serve() === before)
      // a NEW batch id still appends (one ledger row per batch)
      assert(SimSearch.ivfPqAppend(spark, dir,
        batch.select((c("vec_id") + 500000L).as("vec_id"), c("embedding")),
        "vec_id", "embedding", batchId = Some(8L)))
      assert(SimSearch.ivfPqLoad(spark, dir, "vec_id").codes.count()
        === n1 + batch.count())
      // a REFIT is a new corpus version: the save clears the ledger,
      // so the same batch id is appendable again
      SimSearch.ivfPqSave(SimSearch.ivfPqFit(base, "vec_id", "embedding",
        nlist = 4, m = 16, k = 8), dir)
      assert(SimSearch.ivfPqAppend(spark, dir, batch, "vec_id", "embedding",
        batchId = Some(7L)))
    } finally {
      def rmr(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(); ()
      }
      rmr(new java.io.File(dir))
    }
  }

  test("cosinePairsIncrementalFromState: batch-touching pairs equal the filtered join") {
    import org.apache.spark.sql.functions.{col => c}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    // duplicate-vector plants: ids >= 10000 carry the base vector of
    // (id - 10000), so near-dup pairs exist by construction
    val dups = emb.where(c("vec_id") < 30)
      .select((c("vec_id") + 10000L).as("vec_id"), c("embedding"))
    val all = emb.unionByName(dups)
    val newBatch = all.where(c("vec_id") % 5 === 0)
    val oldRows = all.where(c("vec_id") % 5 =!= 0)
    val oldState = SimSearch.srpStateOf(oldRows, "vec_id", "embedding")
    val inc = SimSearch.cosinePairsIncrementalFromState(
      SimSearch.srpStateOf(newBatch, "vec_id", "embedding"), oldState,
      "vec_id", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(inc.nonEmpty, "fixture planted no incremental pairs")
    // old x old pairs never re-appear; every pair touches the batch
    val batchIds = newBatch.select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(inc.forall(p => batchIds(p._1) || batchIds(p._2)))
    // equals the FULL self-join filtered to batch-touching pairs (the
    // q199 discipline for the embedding modality). Same bits/seed, so
    // the SRP candidate sets agree bucket for bucket.
    val batchRun = SimSearch.cosineNearDupPairs(all, "vec_id", "embedding",
      threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val full = batchRun.filter(p => batchIds(p._1) || batchIds(p._2))
    assert(inc === full)
    // a batch run IS the incremental run against an empty state
    val allState = SimSearch.srpStateOf(all, "vec_id", "embedding")
    val againstNothing = SimSearch.cosinePairsIncrementalFromState(allState,
      allState.limit(0), "vec_id", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(againstNothing === batchRun)
    // the state-frame guard refuses a non-srpStateOf frame
    intercept[IllegalArgumentException] {
      SimSearch.cosinePairsIncrementalFromState(
        SimSearch.srpStateOf(newBatch, "vec_id", "embedding"), oldRows,
        "vec_id", threshold = 0.95)
    }
  }

  test("ivfPqFitOpq: monotone objective, orthonormal rotation, round-trip, append, batch parity") {
    import org.apache.spark.sql.functions.{col => c}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.where(c("vec_id") % 7 =!= 0)
    val batch = emb.where(c("vec_id") % 7 === 0)
    val (idx, stats) = SimSearch.ivfPqFitOpq(base, "vec_id", "embedding",
      nlist = 4, m = 16, k = 8, opqSampleN = 64)
    // the objective the method optimizes: alternating minimization
    // never increases the training-sample quantization error
    assert(stats.errRotated <= stats.errIdentity,
      s"OPQ objective increased: ${stats.errRotated} > ${stats.errIdentity}")
    // the learned rotation is orthonormal (R Rᵀ = I)
    val r = idx.rotation.get
    val d = r.length
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(p => r(i)(p) * r(j)(p)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"R Rᵀ($i,$j) = $dot")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-opq").toString
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(); ()
    }
    try {
      SimSearch.ivfPqSave(idx, dir)
      val loaded = SimSearch.ivfPqLoad(spark, dir, "vec_id")
      assert(loaded.rotation.isDefined && !loaded.residual)
      val q = base.where(c("vec_id") === 1)
        .select(c("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val served = rows(SimSearch.ivfPqSearch(idx, q, 10, nprobe = 4))
      assert(served === rows(SimSearch.ivfPqSearch(loaded, q, 10, nprobe = 4)))
      assert(served.head._1 === 1L) // self achieves the ADC minimum
      // batch serving ranks identically to per-query serving
      val queries = base.where(c("vec_id") % 17 === 1)
        .select(c("vec_id"), c("embedding"))
      val batchRows = SimSearch.ivfPqSearchBatch(loaded, queries,
        "vec_id", "embedding", topK = 5, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.groupBy(_._1)
      queries.select("vec_id").collect().map(_.getLong(0)).take(3)
        .foreach { qid =>
          val qv = base.where(c("vec_id") === qid)
            .select(c("embedding").cast("array<double>"))
            .head().getSeq[Double](0).toArray
          val single = rows(SimSearch.ivfPqSearch(loaded, qv, 5, nprobe = 4))
          assert(batchRows(qid).sortBy(t => (t._3, t._2))
            .map(t => (t._2, t._3)) ===
            single.sortBy(t => (t._2, t._1)).map(identity))
        }
      // append rotates the new batch at the entry: appended vectors
      // are servable and self-match
      assert(SimSearch.ivfPqAppend(spark, dir, batch, "vec_id",
        "embedding", batchId = Some(1L)))
      val after = SimSearch.ivfPqLoad(spark, dir, "vec_id")
      assert(after.codes.count() === emb.count())
      val q0 = batch.where(c("vec_id") === 0)
        .select(c("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      assert(rows(SimSearch.ivfPqSearch(after, q0, 5, nprobe = 4))
        .head._1 === 0L)
    } finally rmr(new java.io.File(dir))
    // residual composition: distinct kind, self-match, round-trip
    val (resIdx, resStats) = SimSearch.ivfPqFitOpq(base, "vec_id",
      "embedding", nlist = 4, m = 16, k = 8, residual = true,
      opqSampleN = 64)
    assert(resStats.errRotated <= resStats.errIdentity)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-opqr").toString
    try {
      SimSearch.ivfPqSave(resIdx, dir2)
      assert(spark.read.parquet(s"$dir2/_kind").head().getString(0)
        === "ivfpq_opq_res")
      val loadedRes = SimSearch.ivfPqLoad(spark, dir2, "vec_id")
      assert(loadedRes.residual && loadedRes.rotation.isDefined)
      val q = base.where(c("vec_id") === 1)
        .select(c("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      assert(SimSearch.ivfPqSearch(loadedRes, q, 5, nprobe = 4)
        .collect().head.getLong(0) === 1L)
    } finally rmr(new java.io.File(dir2))
  }

  test("append migrates a pre-ledger __cell-only layout in place (both layouts)") {
    import org.apache.spark.sql.functions.{col => c}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.where(c("vec_id") % 5 =!= 0)
    val batch = emb.where(c("vec_id") % 5 === 0)
    // flatten a fresh save to the PRE-LEDGER shape: data files moved
    // from __cell=k/__batch_id=-1/ up to __cell=k/, batch dirs removed
    def flatten(dataDir: String): Unit = {
      val root = java.nio.file.Paths.get(dataDir)
      java.nio.file.Files.list(root).forEach { cell =>
        if (cell.getFileName.toString.startsWith("__cell=")) {
          val bd = cell.resolve("__batch_id=-1")
          if (java.nio.file.Files.isDirectory(bd)) {
            java.nio.file.Files.list(bd).forEach(f =>
              java.nio.file.Files.move(f, cell.resolve(f.getFileName)))
            java.nio.file.Files.delete(bd)
          }
        }
      }
    }
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(); ()
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft-legacy-ivfpq").toString
    try {
      SimSearch.ivfPqSave(SimSearch.ivfPqFit(base, "vec_id", "embedding",
        nlist = 4, m = 16, k = 8), dir)
      flatten(s"$dir/codes")
      // the flattened layout reads (one partition level) — and an
      // append used to make it UNREADABLE (mixed partition depths);
      // the migration moves fit rows under __batch_id=-1 first
      assert(SimSearch.ivfPqLoad(spark, dir, "vec_id").codes.count()
        === base.count())
      assert(SimSearch.ivfPqAppend(spark, dir, batch, "vec_id",
        "embedding", batchId = Some(4L)))
      val idx = SimSearch.ivfPqLoad(spark, dir, "vec_id")
      assert(idx.codes.count() === emb.count())
      assert(idx.codes.where(c("__batch_id") === -1L).count() === base.count())
      // and the migrated index serves
      val q = batch.where(c("vec_id") === 0)
        .select(c("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      assert(SimSearch.ivfPqSearch(idx, q, 5, nprobe = 2)
        .collect().length === 5)
    } finally rmr(new java.io.File(dir))
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-legacy-ivf").toString
    try {
      SimSearch.ivfSave(SimSearch.ivfFit(base, "vec_id", "embedding",
        nlist = 4, seed = 42L), dir2)
      flatten(s"$dir2/assigned")
      assert(SimSearch.ivfAppend(spark, dir2, batch, "vec_id", "embedding",
        batchId = Some(4L)))
      val assigned = spark.read.parquet(s"$dir2/assigned")
      assert(assigned.count() === emb.count())
      assert(assigned.where(c("__batch_id") === -1L).count() === base.count())
    } finally rmr(new java.io.File(dir2))
  }

  /** 200 vectors of dim 16 in four loose clusters: an index corpus
    * for the driver-side read and job-budget pins. */
  private def clusteredEmb = (0 until 200).map { i =>
    (i.toLong, Array.tabulate(16)(j =>
      ((i % 4) * 3.0 + math.sin(i * 0.37 + j * 1.3)).toFloat))
  }.toDF("vec_id", "embedding")

  test("driver-side index reads equal Spark's: footer schemas, side tables bit for bit") {
    import org.apache.spark.sql.functions.{col => c}
    import graft.sources.ParquetMeta
    val emb = clusteredEmb
    val base = emb.where(c("vec_id") % 5 =!= 0)
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(); ()
    }
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    // readParquet's frame equals the inferred read: schema (nullability,
    // metadata, partition columns, in order) and rows
    def sameRead(dir: String): Unit = {
      val ours = ParquetMeta.readParquet(spark, dir)
      val spark0 = spark.read.parquet(dir)
      assert(ours.schema === spark0.schema, dir)
      assert(ours.collect().map(_.toString).sorted ===
        spark0.collect().map(_.toString).sorted, dir)
    }
    // the centers as the Spark read assembled them before
    def sparkCenters(dir: String) = spark.read.parquet(s"$dir/centers")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3).toSeq }
    def sparkKind(dir: String) =
      spark.read.parquet(s"$dir/_kind").head().getString(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-driver-ivf")
      .toString
    try {
      // fit only
      SimSearch.ivfSave(SimSearch.ivfFit(base, "vec_id", "embedding",
        nlist = 4, seed = 42L), dir)
      sameRead(s"$dir/assigned")
      val loaded = SimSearch.ivfLoad(spark, dir, "vec_id", "embedding")
      assert(loaded.centers.map(v => bits(v.toSeq)).toSeq ===
        sparkCenters(dir).map(bits))
      assert(State.kindOf(spark, dir) === None)
      // fit + batch-id appends
      Seq(0L, 1L).foreach { b =>
        SimSearch.ivfAppend(spark, dir,
          emb.where(c("vec_id") % 5 === 0 && c("vec_id") % 2 === b),
          "vec_id", "embedding", batchId = Some(b))
      }
      sameRead(s"$dir/assigned")
      // the drift baseline, field for field and bit for bit
      SimSearch.ivfBaselineSave(spark,
        SimSearch.ivfBaselineOf(spark, loaded.centers, emb, "embedding"), dir)
      val bl = SimSearch.ivfBaselineLoad(spark, dir)
      val meta = spark.read.parquet(s"$dir/baseline_meta").head()
      assert(bl.nlist === meta.getInt(0) && bl.n === meta.getLong(1))
      assert(java.lang.Double.doubleToRawLongBits(bl.meanDist) ===
        java.lang.Double.doubleToRawLongBits(meta.getDouble(2)))
      assert(bl.cellCounts === spark.read.parquet(s"$dir/baseline_cells")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
    } finally rmr(new java.io.File(dir))
    val legacy = java.nio.file.Files.createTempDirectory("graft-driver-legacy")
      .toString
    try {
      // a legacy __cell-only layout, before and after its migration
      SimSearch.ivfSave(SimSearch.ivfFit(base, "vec_id", "embedding",
        nlist = 4, seed = 42L), legacy)
      val root = java.nio.file.Paths.get(s"$legacy/assigned")
      java.nio.file.Files.list(root).forEach { cell =>
        val bd = cell.resolve("__batch_id=-1")
        if (java.nio.file.Files.isDirectory(bd)) {
          java.nio.file.Files.list(bd).forEach(f =>
            java.nio.file.Files.move(f, cell.resolve(f.getFileName)))
          java.nio.file.Files.delete(bd)
        }
      }
      sameRead(s"$legacy/assigned")
      SimSearch.ivfAppend(spark, legacy, emb.where(c("vec_id") % 5 === 0),
        "vec_id", "embedding", batchId = Some(3L))
      sameRead(s"$legacy/assigned")
    } finally rmr(new java.io.File(legacy))
    val pq = java.nio.file.Files.createTempDirectory("graft-driver-ivfpq")
      .toString
    try {
      // an OPQ ivfpq index: codes dir, _kind, codebooks, rotation
      val (idx, _) = SimSearch.ivfPqFitOpq(base, "vec_id", "embedding",
        nlist = 4, m = 16, k = 8, opqSampleN = 64)
      SimSearch.ivfPqSave(idx, pq)
      SimSearch.ivfPqAppend(spark, pq, emb.where(c("vec_id") % 5 === 0),
        "vec_id", "embedding", batchId = Some(0L))
      sameRead(s"$pq/codes")
      assert(State.kindOf(spark, pq) === Some(sparkKind(pq)))
      assert(State.kindOf(spark, s"$pq/pq") === Some(sparkKind(s"$pq/pq")))
      val loaded = SimSearch.ivfPqLoad(spark, pq, "vec_id")
      assert(loaded.centers.map(v => bits(v.toSeq)).toSeq ===
        sparkCenters(pq).map(bits))
      val cb = spark.read.parquet(s"$pq/pq/codebooks").collect()
      assert(cb.length === 16 * 8 * loaded.model.dsub)
      cb.foreach { r =>
        assert(java.lang.Double.doubleToRawLongBits(
          loaded.model.codebooks(r.getInt(0))(r.getInt(1))(r.getInt(2))) ===
          java.lang.Double.doubleToRawLongBits(r.getDouble(3)))
      }
      val rot = SimSearch.ivfPqRotationOf(spark, pq).get
      spark.read.parquet(s"$pq/rotation").collect().foreach { r =>
        assert(java.lang.Double.doubleToRawLongBits(
          rot(r.getInt(0))(r.getInt(1))) ===
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)))
      }
    } finally rmr(new java.io.File(pq))
  }

  test("a served IVF search is two Spark jobs; index loads run none") {
    import org.apache.spark.sql.functions.{col => c}
    val emb = clusteredEmb
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-jobs")
      .toString
    val out = s"$dir/out"
    try {
      SimSearch.ivfSave(SimSearch.ivfFit(emb.where(c("vec_id") % 5 =!= 0),
        "vec_id", "embedding", nlist = 4, seed = 42L), dir)
      SimSearch.ivfAppend(spark, dir, emb.where(c("vec_id") % 5 === 0),
        "vec_id", "embedding", batchId = Some(0L))
      SimSearch.ivfBaselineSave(spark,
        SimSearch.ivfBaselineOf(spark,
          SimSearch.ivfLoad(spark, dir, "vec_id", "embedding").centers, emb,
          "embedding"), dir)
      var idx: SimSearch.IvfIndex = null
      assert(jobsDuring {
        idx = SimSearch.ivfLoad(spark, dir, "vec_id", "embedding")
      } === 0)
      assert(jobsDuring { SimSearch.ivfBaselineLoad(spark, dir); () } === 0)
      assert(jobsDuring { State.kindOf(spark, dir); () } === 0)
      // a query from the appended batch and one from the fit corpus:
      // lookup + write, whichever partition holds the row
      Seq(5L, 7L).foreach { q =>
        assert(jobsDuring {
          SimSearch.ivfSearch(SimSearch.ivfLoad(spark, dir, "vec_id",
            "embedding"), q, 5, nprobe = 2)
            .write.mode("overwrite").parquet(out)
        } === 2, s"query $q")
        assert(spark.read.parquet(out).count() === 5L)
      }
      // a missing id fails loudly, naming the id and the index
      val e = intercept[IllegalArgumentException] {
        SimSearch.ivfSearch(idx, 987654321L, 5)
      }
      assert(e.getMessage.contains("987654321") &&
        e.getMessage.contains(s"$dir/assigned"), e.getMessage)
    } finally {
      def rmr(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(); ()
      }
      rmr(new java.io.File(dir))
    }
  }

  /** The on-disk layout of an exactly-once append of `batchId`: its
    * ledger row at `applied/__batch_id=N` and its rows in
    * (`__cell`, `__batch_id=N`) directories, every data file at that
    * depth (none directly under a cell). */
  private def assertBatchLayout(dir: String, table: String,
                                batchId: Long): Unit = {
    assert(new java.io.File(s"$dir/applied/__batch_id=$batchId").isDirectory)
    val cells = new java.io.File(s"$dir/$table").listFiles
      .filter(_.getName.startsWith("__cell="))
    assert(cells.exists(c =>
      new java.io.File(c, s"__batch_id=$batchId").isDirectory))
    cells.foreach { c =>
      c.listFiles.filterNot(_.getName.startsWith(".")).foreach { f =>
        assert(f.isDirectory && f.getName.startsWith("__batch_id="),
          s"$f is not a (__cell, __batch_id) partition")
      }
    }
  }

  test("ivfAppend with a batch id: exactly-once on the plain IVF layout") {
    import org.apache.spark.sql.functions.{col => c}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.where(c("vec_id") < 40)
    val batch = emb.where(c("vec_id") >= 40)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-once").toString
    try {
      SimSearch.ivfSave(SimSearch.ivfFit(base, "vec_id", "embedding",
        nlist = 4, seed = 42L), dir)
      assert(SimSearch.ivfAppend(spark, dir, batch, "vec_id", "embedding",
        batchId = Some(3L)))
      assertBatchLayout(dir, "assigned", 3L)
      val n1 = spark.read.parquet(s"$dir/assigned").count()
      assert(n1 === emb.count())
      assert(!SimSearch.ivfAppend(spark, dir, batch, "vec_id", "embedding",
        batchId = Some(3L)))
      assert(spark.read.parquet(s"$dir/assigned").count() === n1)
      // legacy contract unchanged: no batch id = plain append (the
      // caller owns replay safety), still lands and serves
      assert(SimSearch.ivfAppend(spark, dir,
        batch.select((c("vec_id") + 500000L).as("vec_id"), c("embedding")),
        "vec_id", "embedding"))
      assert(spark.read.parquet(s"$dir/assigned").count()
        === n1 + batch.count())
      val res = SimSearch.ivfSearch(
        SimSearch.ivfLoad(spark, dir, "vec_id", "embedding"),
        40L, 5, nprobe = 4).collect()
      assert(res.length === 5)
    } finally {
      def rmr(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(); ()
      }
      rmr(new java.io.File(dir))
    }
  }

  test("an exactly-once append runs one job: its ledger entry is a driver-side commit") {
    import org.apache.spark.sql.functions.{col => c}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.where(c("vec_id") % 5 =!= 0)
    def batch(b: Long) = emb.where(c("vec_id") % 5 === 0 && c("vec_id") % 2 === b)
    val dir = java.nio.file.Files.createTempDirectory("graft-ledger-jobs")
      .toString
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(); ()
    }
    val (ivf, pq) = (s"$dir/ivf", s"$dir/pq")
    try {
      SimSearch.ivfSave(SimSearch.ivfFit(base, "vec_id", "embedding",
        nlist = 4, seed = 42L), ivf)
      SimSearch.ivfPqSave(SimSearch.ivfPqFit(base, "vec_id", "embedding",
        nlist = 4, m = 16, k = 8), pq)
      // the batch's write is the append's only job: recording the
      // ledger entry runs none (a parquet ledger row would be a second)
      assert(jobsDuring { assert(SimSearch.ivfAppend(spark, ivf, batch(0),
        "vec_id", "embedding", batchId = Some(0L))) } === 1)
      assertBatchLayout(ivf, "assigned", 0L)
      assert(jobsDuring { assert(SimSearch.ivfPqAppend(spark, pq, batch(0),
        "vec_id", "embedding", batchId = Some(0L))) } === 1)
      assertBatchLayout(pq, "codes", 0L)
      // the same as a plain append, which keeps no ledger
      assert(jobsDuring { assert(SimSearch.ivfAppend(spark, ivf,
        batch(1).select((c("vec_id") + 500000L).as("vec_id"), c("embedding")),
        "vec_id", "embedding")) } === 1)
      // and a replay is a no-op that runs no job at all
      assert(jobsDuring { assert(!SimSearch.ivfAppend(spark, ivf, batch(0),
        "vec_id", "embedding", batchId = Some(0L))) } === 0)
      assert(jobsDuring { assert(!SimSearch.ivfPqAppend(spark, pq, batch(0),
        "vec_id", "embedding", batchId = Some(0L))) } === 0)
    } finally rmr(new java.io.File(dir))
  }

  test("a parquet ledger entry of an earlier build still marks its batch applied") {
    import org.apache.spark.sql.functions.{col => c}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.where(c("vec_id") % 5 =!= 0)
    val batch = emb.where(c("vec_id") % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-ledger-parquet")
      .toString
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(); ()
    }
    def files(): Seq[String] = {
      val root = java.nio.file.Paths.get(s"$dir/assigned")
      val walk = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator.asScala.map(root.relativize(_).toString).toSeq.sorted
      } finally walk.close()
    }
    try {
      val fit = SimSearch.ivfFit(base, "vec_id", "embedding", nlist = 4,
        seed = 42L)
      SimSearch.ivfSave(fit, dir)
      // batch 4's ledger entry as earlier builds wrote it: a one-row
      // parquet partition at applied/__batch_id=4
      Seq(1).toDF("ok").withColumn("__batch_id", lit(4L))
        .coalesce(1).write.partitionBy("__batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(s"$dir/applied")
      val (before, n0) = (files(), spark.read.parquet(s"$dir/assigned").count())
      // its replay is a no-op: `assigned` keeps every file and row
      assert(!SimSearch.ivfAppend(spark, dir, batch, "vec_id", "embedding",
        batchId = Some(4L)))
      assert(files() === before)
      assert(spark.read.parquet(s"$dir/assigned").count() === n0)
      // a new id lands beside the old entry, and its own replay is a no-op
      assert(SimSearch.ivfAppend(spark, dir, batch, "vec_id", "embedding",
        batchId = Some(5L)))
      assertBatchLayout(dir, "assigned", 5L)
      val n1 = spark.read.parquet(s"$dir/assigned").count()
      assert(n1 === n0 + batch.count())
      assert(!SimSearch.ivfAppend(spark, dir, batch, "vec_id", "embedding",
        batchId = Some(5L)))
      assert(spark.read.parquet(s"$dir/assigned").count() === n1)
      // a refit is a new version: it clears the ledger, old format included
      SimSearch.ivfSave(fit, dir)
      assert(SimSearch.ivfAppend(spark, dir, batch, "vec_id", "embedding",
        batchId = Some(4L)))
    } finally rmr(new java.io.File(dir))
  }

  test("IVF nearest-cell kernel: ties go to the lower cell on every path, one UDF per row") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.functions.{col => c, udf}
    // c0 and c1 sit 2 apart on axis 0: (1,0,0,0) is EXACTLY equidistant
    // from both (squared distance 1.0 in float and double alike)
    val centers = Array(Array(0.0, 0.0, 0.0, 0.0), Array(2.0, 0.0, 0.0, 0.0),
      Array(0.0, 10.0, 0.0, 0.0))
    def brute(v: Seq[Double]): (Int, Double) = centers.indices.map { i =>
      (i, centers(i).zip(v).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.minBy { case (i, d) => (d, i) }
    val corpus = (0 until 30).map { i =>
      (i.toLong, centers(i % 3).map(x => (x + 0.25 * (i / 3 % 2)).toFloat))
    }.toDF("vec_id", "embedding")
    val batch = Seq[(Long, Array[Float])](
      (100L, Array(1f, 0f, 0f, 0f)), // the tie
      (101L, Array(2.5f, 0f, 0f, 0f)), (102L, Array(0f, 9f, 0f, 0f)),
      (103L, Array(0f, 0.5f, 0f, 0f)), (104L, null)
    ).toDF("vec_id", "embedding")
    val vecs = batch.collect().collect { case r if !r.isNullAt(1) =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble) }.toMap
    val expected = vecs.map { case (id, v) => id -> brute(v)._1 }
    assert(expected(100L) === 0)
    def cellsOf(table: String) = spark.read.parquet(table)
      .where(c("__batch_id") === 0L).select("vec_id", "__cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(); ()
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-tie").toString
    try {
      // the stored __cell of both layouts' appends (null vector skipped)
      val fit = SimSearch.assignCells(spark, centers, corpus, "embedding")
      SimSearch.ivfSave(SimSearch.IvfIndex(centers, fit, "vec_id",
        "embedding"), s"$dir/ivf")
      assert(SimSearch.ivfAppend(spark, s"$dir/ivf", batch, "vec_id",
        "embedding", batchId = Some(0L)))
      assert(cellsOf(s"$dir/ivf/assigned") === expected)
      SimSearch.ivfPqSave(SimSearch.ivfPqFit(corpus, "vec_id", "embedding",
        nlist = 3, m = 2, k = 2).copy(centers = centers), s"$dir/pq")
      assert(SimSearch.ivfPqAppend(spark, s"$dir/pq", batch, "vec_id",
        "embedding", batchId = Some(0L)))
      assert(cellsOf(s"$dir/pq/codes") === expected)
      // the baseline's counts and mean distance
      val counts = expected.values.groupBy(identity).map { case (k, v) =>
        k -> v.size.toLong }
      val bl = SimSearch.ivfBaselineOf(spark, centers, batch, "embedding")
      assert(bl.n === 4L && bl.cellCounts === counts)
      assert(bl.meanDist === vecs.values.map(brute(_)._2).sum / 4)
      // the drift report's cell shares, through its PSI against a
      // skewed baseline (the tie landing in cell 1 would read
      // differently)
      val skewed = SimSearch.IvfBaseline(3, 7L, Map(0 -> 5L, 1 -> 1L,
        2 -> 1L), 1.0)
      def psi(cs: Map[Int, Long]) = BigDecimal((0 until 3).map { i =>
        val p = (cs.getOrElse(i, 0L) + 1.0) / (4 + 3)
        val q = (skewed.cellCounts(i) + 1.0) / (skewed.n + 3)
        (p - q) * math.log(p / q)
      }.sum).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val tieInOne = (expected + (100L -> 1)).values.groupBy(identity)
        .map { case (k, v) => k -> v.size.toLong }
      assert(psi(counts) !== psi(tieInOne))
      val rep = SimSearch.ivfDriftReport(spark, s"$dir/ivf", skewed, batch,
        "embedding").head()
      assert(rep.getLong(0) === 4L && rep.getDouble(1) === psi(counts))
      // the argmin UDF sits ONCE in each assigned frame's optimized
      // plan over a scan; the withColumn(udf).where(...) shape holds it
      // twice (the filter is pushed below the projection with the UDF
      // inlined). A scan, not the local `batch`: the optimizer folds
      // projections and filters of a local relation away.
      val scan = spark.read.parquet(s"$dir/ivf/assigned")
        .select("vec_id", "embedding")
      def udfs(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.collect { case n =>
          n.expressions.map(_.collect { case u: ScalaUDF => u }.size).sum
        }.sum
      assert(udfs(SimSearch.assignCells(spark, centers, scan, "embedding")) === 1)
      assert(udfs(SimSearch.cellDistances(spark, centers, scan,
        "embedding")) === 1)
      val cellUdf = udf((v: Seq[Double]) => if (v == null) -1 else 0)
      assert(udfs(scan.withColumn("__cell",
        cellUdf(c("embedding").cast("array<double>"))).where(c("__cell") >= 0)) === 2)
    } finally rmr(new java.io.File(dir))
  }

  test("ivfSearchBatch: one job serves a query set, parity with per-query ivfSearch") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val index = SimSearch.ivfFit(emb, "vec_id", "embedding",
      nlist = 8, seed = 42L)
    index.assigned.persist()
    try {
      val queries = emb.where(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("embedding"))
      def rows(maxBytes: Long) = SimSearch.ivfSearchBatch(
        index, queries, "vec_id", "embedding", topK = 5, nprobe = 4,
        broadcastMaxBytes = maxBytes).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, -t._3, t._2)).toSeq
      val batch = rows(64L << 20)
      assert(batch === rows(0L)) // broadcast ≡ shuffle fallback
      val byQ = batch.groupBy(_._1)
      assert(byQ.size === queries.count())
      // parity with the single-query path (which excludes the query id
      // itself and serves exact cosine over the probed cells)
      byQ.keys.toSeq.sorted.take(3).foreach { qid =>
        val single = SimSearch.ivfSearch(index, qid, 5, nprobe = 4)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val fromBatch = byQ(qid).sortBy(t => (-t._3, t._2))
          .map(t => (t._2, t._3)).toSeq
        assert(single === fromBatch, s"qid=$qid")
      }
    } finally index.assigned.unpersist()
  }

  test("ivf index: fit once, serve many queries, same results as one-shot") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val index = SimSearch.ivfFit(emb, "vec_id", "embedding",
      nlist = 8, seed = 42L)
    index.assigned.persist()
    try {
      assert(index.centers.length === 8)
      // every corpus row carries a cell id within range
      assert(index.assigned.where(
        col("__cell") < 0 || col("__cell") >= 8).count() === 0L)
      Seq(0L, 7L).foreach { qid =>
        val fromIndex = SimSearch.ivfSearch(index, qid, 10, nprobe = 4)
          .collect().map(_.getLong(0)).toSeq
        val oneShot = SimSearch.ivfTopK(emb, "vec_id", "embedding", qid, 10,
          nlist = 8, nprobe = 4)
          .collect().map(_.getLong(0)).toSeq
        assert(fromIndex === oneShot, s"query $qid diverged")
      }
    } finally index.assigned.unpersist()
  }

  test("ivf index save/load round-trip serves identical results, cell-partitioned layout") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val index = SimSearch.ivfFit(emb, "vec_id", "embedding",
      nlist = 4, seed = 42L)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    SimSearch.ivfSave(index, dir)
    // the assigned corpus is laid out one directory per cell — the
    // physical pruning unit a served probe reads
    val cellDirs = new java.io.File(s"$dir/assigned").listFiles()
      .filter(_.getName.startsWith("__cell=")).map(_.getName).sorted
    assert(cellDirs.length === 4, cellDirs.mkString(","))
    val loaded = SimSearch.ivfLoad(spark, dir, "vec_id", "embedding")
    assert(loaded.centers.map(_.toSeq).toSeq === index.centers.map(_.toSeq).toSeq)
    Seq(0L, 7L).foreach { qid =>
      val fromLoaded = SimSearch.ivfSearch(loaded, qid, 10, nprobe = 2)
        .collect().map(_.getLong(0)).toSeq
      val fromMem = SimSearch.ivfSearch(index, qid, 10, nprobe = 2)
        .collect().map(_.getLong(0)).toSeq
      assert(fromLoaded === fromMem, s"query $qid diverged after reload")
    }
  }

  test("ivfAppend: batch lands in the right cells, search serves it, assignments match a refit") {
    import org.apache.spark.sql.functions.{col => c}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val old = emb.where(c("vec_id") < 40)
    val batch = emb.where(c("vec_id") >= 40)
    assert(batch.count() > 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    SimSearch.ivfSave(SimSearch.ivfFit(old, "vec_id", "embedding",
      nlist = 4, seed = 42L), dir)
    SimSearch.ivfAppend(spark, dir, batch, "vec_id", "embedding")
    val loaded = SimSearch.ivfLoad(spark, dir, "vec_id", "embedding")
    // every appended id present exactly once, corpus complete
    assert(loaded.assigned.count() === emb.count())
    assert(loaded.assigned.groupBy("vec_id").count()
      .where(c("count") > 1).count() === 0)
    // appended cells equal the argmin a refit with the SAME centers
    // would store (KMeans first-wins-ties convention)
    val centers = loaded.centers
    val got = loaded.assigned.where(c("vec_id") >= 40)
      .select(c("vec_id"), c("embedding").cast("array<double>"), c("__cell"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getInt(2)))
    got.foreach { case (id, v, cell) =>
      val exp = centers.zipWithIndex.map { case (ct, i) =>
        (ct.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.minBy(t => (t._1, t._2))._2
      assert(cell === exp, s"vec $id assigned $cell, nearest is $exp")
    }
    // a query whose true neighbors are appended vectors finds them
    val qid = got.head._1
    val res = SimSearch.ivfSearch(loaded, qid, 5, nprobe = 4)
      .collect().map(_.getLong(0))
    assert(res.contains(qid) || res.nonEmpty)
    val brute = SimSearch.cosineTopK(loaded.assigned.drop("__cell"),
      "vec_id", "embedding", qid, 5).collect().map(_.getLong(0)).toSet
    assert(res.toSet.intersect(brute).size >= 3,
      s"appended vectors not served: ivf=${res.toSeq} brute=$brute")
  }

  test("ivf sample-fit still assigns every row and serves queries") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val index = SimSearch.ivfFit(emb, "vec_id", "embedding",
      nlist = 4, seed = 42L, sampleFraction = 0.5)
    assert(index.assigned.count() === emb.count()) // assignment covers all
    assert(SimSearch.ivfSearch(index, 0L, 5, nprobe = 2).count() === 5L)
  }

  test("embedding-cosine near-dup finds identical vectors, no cartesian") {
    val base = Array.tabulate(32)(i => math.sin(i + 1).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.001f
    val vecs = (Seq((0L, base), (1L, base), (2L, near)) ++
      (3L to 40L).map(i => (i, Array.tabulate(32)(j => math.cos(i * 37 + j).toFloat))))
      .toDF("vec_id", "embedding")
    val (bucketed, lazyPairs) = SimSearch.cosineNearDupPlan(
      vecs, "vec_id", "embedding", 0.999, 4, 42L)
    val lazyInc = SimSearch.cosinePairsPlan(
      SimSearch.srpStateOf(vecs.where($"vec_id" % 2 === 0), "vec_id",
        "embedding", 4),
      Some(SimSearch.srpStateOf(vecs.where($"vec_id" % 2 =!= 0), "vec_id",
        "embedding", 4)), "vec_id", 0.999, 4, None)
    try for (form <- Seq(lazyPairs, lazyInc))
      assert(!planOf(form).contains("CartesianProduct"),
        planOf(form).take(1500))
    finally bucketed.unpersist()
    val pairs = SimSearch.cosineNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.999, bits = 4)
    val keys = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((0L, 1L))) // identical pair must be found
    assert(keys.contains((0L, 2L)) || keys.contains((1L, 2L))) // near pair
    val cos01 = pairs.where($"id_a" === 0 && $"id_b" === 1)
      .head().getDouble(2)
    assert(cos01 === 1.0)
  }

  test("cosine near-dup candidate shuffle carries ids only, no vectors") {
    // the scale contract behind q30: the (1+bits)-way probe explosion
    // and the pair dedup must shuffle (bucket, id) rows only — the
    // vectors join back just for the verified candidate set
    val vecs = (0L to 60L)
      .map(i => (i, Array.tabulate(16)(j => math.sin(i * 31 + j).toFloat)))
      .toDF("vec_id", "embedding")
    // disable AQE (so ShuffleExchangeExec nodes are visible in the
    // executed plan) and broadcast joins (so the candidate join takes
    // the shuffle path it would take at real scale)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (bucketed, lazyPairs) = SimSearch.cosineNearDupPlan(
        vecs, "vec_id", "embedding", 0.999, 4, 42L)
      // the streaming semantic stage's form: a batch state probing an
      // admitted state
      val lazyInc = SimSearch.cosinePairsPlan(
        SimSearch.srpStateOf(vecs.where($"vec_id" % 2 === 0), "vec_id",
          "embedding", 4),
        Some(SimSearch.srpStateOf(vecs.where($"vec_id" % 2 =!= 0), "vec_id",
          "embedding", 4)), "vec_id", 0.999, 4, None)
      try for (form <- Seq(lazyPairs, lazyInc)) {
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        import org.apache.spark.sql.types.ArrayType
        val exchanges = form.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e
        }
        val bucketKeyed = exchanges.filter(
          _.outputPartitioning.toString.contains("__bucket"))
        assert(bucketKeyed.nonEmpty,
          form.queryExecution.executedPlan.toString.take(2000))
        for (e <- bucketKeyed)
          assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
            s"vector-typed column in candidate exchange: $e")
        // the pair-dedup exchange is narrow too: exactly (id_a, id_b)
        assert(exchanges.exists(_.output.map(_.name).toSet == Set("id_a", "id_b")),
          exchanges.map(_.output.map(_.name).mkString(",")).mkString(" | "))
      } finally bucketed.unpersist()
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
  }

  test("jaccardPairsWithin maxDf: generous cap is exact, df=1 cap drops all") {
    val exact = Dedup.jaccardPairsWithin(docs, "doc_id", "text", "src",
      n = 1, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = Dedup.jaccardPairsWithin(docs, "doc_id", "text", "src",
      n = 1, threshold = 0.5, maxDf = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped === exact) // no gram is hotter than the cap
    // maxDf=1 removes every shared posting -> zero candidate fanout
    val tight = Dedup.jaccardPairsWithin(docs, "doc_id", "text", "src",
      n = 1, threshold = 0.5, maxDf = 1)
    assert(tight.count() === 0L)
  }

  test("autoMaxDf derivation pinned; AutoDf equals the manually-derived cap") {
    // the derivation contract (q18's oracle replays it in SQL):
    // max(64, ceil(4 * sqrt(blockDocs))) — floor governs small blocks,
    // sqrt growth bounds any gram's pair fanout linearly in block size
    assert(Dedup.autoMaxDf(0) === 64)
    assert(Dedup.autoMaxDf(100) === 64)     // 4*10 = 40 < floor
    assert(Dedup.autoMaxDf(256) === 64)     // 4*16 = 64 = floor
    assert(Dedup.autoMaxDf(257) === 65)     // first block size over it
    assert(Dedup.autoMaxDf(10000) === 400)
    assert(Dedup.autoMaxDf(1000000) === 4000)
    assert(Dedup.autoMaxDf(100L * 1000 * 1000 * 1000) === 1264912)
    // on the fixture every block is under 256 docs, so AutoDf == a
    // manual cap of 64 — bit-identical pair sets
    val auto = Dedup.jaccardPairsWithin(docs, "doc_id", "text", "src",
      n = 1, threshold = 0.5, maxDf = Dedup.AutoDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val manual = Dedup.jaccardPairsWithin(docs, "doc_id", "text", "src",
      n = 1, threshold = 0.5, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(auto === manual)
  }

  test("autoNlist derivation pinned; AutoNlist equals the explicit floor value") {
    // clamp(ceil(rows/1024), 16, 131072): floor keeps small corpora at
    // the historical hand-tuned quantizer size, linear growth keeps
    // the per-cell quadratic constant, the 2^17 ceiling marks where a
    // single KMeans fit stops being the right tool
    assert(SimSearch.autoNlist(0) === 16)
    assert(SimSearch.autoNlist(16384) === 16)
    assert(SimSearch.autoNlist(16385) === 17)
    assert(SimSearch.autoNlist(1048576) === 1024)
    assert(SimSearch.autoNlist(1L << 40) === 131072)           // ceiling
    assert(SimSearch.autoNlist(1048576, targetCellRows = 4096) === 256)
    // 36 vectors -> floor of 16 cells: the auto path must produce the
    // same pair set as the explicit value it resolves to
    val rows = (0 until 3).flatMap { c =>
      (0 until 12).map { i =>
        val id = c * 100L + i
        (id, Array.tabulate(8)(j =>
          (if (j == c) 10f else 0f) + 0.01f * math.cos(id * 8 + j).toFloat))
      }
    }
    val df = rows.toDF("vec_id", "embedding")
    val auto = SimSearch.semanticDedupPairs(df, "vec_id", "embedding",
      threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = SimSearch.semanticDedupPairs(df, "vec_id", "embedding",
      threshold = 0.99, nlist = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === explicit)
  }

  test("connected components: chains collapse to the min-id label") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = Dedup.componentsOf(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dropNearDuplicates: chained cluster keeps exactly one representative") {
    // A~B (J=0.8) and B~C (J=0.8) but A~C only 0.64 — below the 0.7
    // threshold, so C survives star-removal and only the transitive
    // closure collapses the chain to its min id
    val w = (1 to 10).map(i => s"w$i")
    val t1 = w.mkString(" ")
    val t2 = (w.init :+ "x10").mkString(" ")
    val t3 = ("y1" +: w.tail.init :+ "x10").mkString(" ")
    val chain = Seq(
      (1L, t1), (2L, t2), (3L, t3),
      (4L, "completely different words entirely unrelated content here"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(chain, "doc_id", "text",
      shingleSize = 2, numHashes = 12, bands = 6, threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L))
  }

  test("asof join: latest at-or-before match per key, null when none") {
    val left = Seq(
      (1L, 100L, 10L),   // after right@5 -> 50.0
      (2L, 100L, 5L),    // equal ts -> inclusive match 50.0
      (3L, 100L, 3L),    // before any right row -> null
      (4L, 200L, 99L),   // key with no right rows -> null
      (5L, 100L, 20L))   // after right@15 -> latest wins: 70.0
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (100L, 5L, 50.0),
      (100L, 15L, 60.0),
      (100L, 15L, 70.0), // same (key, ts): max-reduced to 70.0
      (300L, 1L, 99.0))  // unrelated key
      .toDF("user_id", "ts", "value")
    val out = AsofJoin.asof(left, right, "user_id", "ts", "value", "v")
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(out.toSeq === Seq(
      (1L, Some(50.0)), (2L, Some(50.0)), (3L, None), (4L, None), (5L, Some(70.0))))
  }

  test("asof join plan: one key exchange, no cartesian range join") {
    val left = (1L to 50L).map(i => (i, i % 5, i * 10)).toDF("event_id", "user_id", "ts")
    val right = (1L to 50L).map(i => (i % 5, i * 7, i.toDouble)).toDF("user_id", "ts", "value")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = planOf(AsofJoin.asof(left, right, "user_id", "ts", "value", "v"))
      assert(!plan.contains("CartesianProduct"), plan.take(1500))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
      // union + window: the only exchanges are the key hash partitioning
      // (right side also pre-aggregates per (key, ord) -> same key prefix)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 2, plan.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("range join: exact [l-w, l) window incl. cross-bin matches, no cartesian") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    // window = 60s; bins are [0,60), [60,120), ...
    val left = Seq((1L, 10L, ts(130))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts(70), 1.0),   // exactly l-60: included (>=), lives in bin 1
      (10L, ts(69), 2.0),   // just outside window: excluded
      (10L, ts(90), 3.0),   // previous bin, inside window: cross-bin match
      (10L, ts(125), 4.0),  // same bin, inside window
      (10L, ts(130), 5.0),  // equal to l: excluded (< l)
      (99L, ts(100), 6.0))  // other key: excluded
      .toDF("user_id", "ts", "value")
    val got = RangeJoin.pairsWithin(left, right, "user_id", "ts",
      windowMicros = 60L * 1000000)
      .select("value").collect().map(_.getDouble(0)).sorted.toSeq
    assert(got === Seq(1.0, 3.0, 4.0))
    val plan = planOf(RangeJoin.pairsWithin(left, right, "user_id", "ts",
      windowMicros = 60L * 1000000))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("chunking: token-exact boundaries, overlap stride, clean last chunk") {
    // 10 tokens, size 4, overlap 1 -> starts 0,3,6; last chunk ends flush
    val toks = (0 until 10).map(i => s"t$i").toArray
    assert(Chunk.chunksOf(toks, 4, 1).toSeq === Seq(
      "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9"))
    // shorter than one chunk -> single chunk of everything
    assert(Chunk.chunksOf(toks.take(3), 4, 1).toSeq === Seq("t0 t1 t2"))
    // exact fit -> single chunk, no empty tail
    assert(Chunk.chunksOf(toks.take(4), 4, 1).toSeq === Seq("t0 t1 t2 t3"))
    // frame form: ids, positions, token counts; empty docs drop out
    val df = Seq((1L, toks.mkString(" ")), (2L, "a b"), (3L, "  "))
      .toDF("doc_id", "text")
    val out = Chunk.explodeChunks(df, "doc_id", "text", 4, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 0L, 4L), (1L, 1L, 4L), (1L, 2L, 4L), (2L, 0L, 2L)))
  }

  test("int8 quantization: scale, round-trip error bound, zero vector") {
    val vecs = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val rows = SimSearch.quantizeInt8(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getSeq[Int](2))).toMap
    val (s1, q1) = rows(1L)
    assert(s1 === 1.0 / 127.0)
    assert(q1 === Seq(127, -64, 32, 0)) // round(x * 127 / max|x|)
    // reconstruction error bounded by scale/2 per component
    q1.zip(Seq(1.0, -0.5, 0.25, 0.0)).foreach { case (q, x) =>
      assert(math.abs(q * s1 - x) <= s1 / 2 + 1e-12)
    }
    val (s2, q2) = rows(2L)
    assert(s2 === 0.0 && q2.forall(_ === 0)) // zero vector stays zero
  }

  test("decontaminate removes exactly the gram-overlapping docs, broadcast probe") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // shares a 5-gram
      (2L, "one two three four five six seven"),     // clean
      (3L, "alpha beta gamma delta EPSILON theta"))  // shares after normalization
      .toDF("doc_id", "text")
    val benchmark = Seq(
      (100L, "prefix alpha beta gamma delta epsilon suffix"))
      .toDF("doc_id", "text")
    val report = Decontaminate.contaminationReport(
      corpus, benchmark, "doc_id", "text", n = 5)
    val hits = report.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1: grams {a b g d e, b g d e z}; bench has {p a b g d, a b g d e,
    // b g d e s} -> 1 shared. doc 3 shares the same one (case-normalized).
    assert(hits === Map(1L -> 1L, 3L -> 1L))
    val clean = Decontaminate.decontaminate(
      corpus, benchmark, "doc_id", "text", n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(clean === Seq(2L))
    // scale contract: the benchmark side is broadcast (corpus never
    // shuffles for the probe) and there is no cartesian anywhere
    val plan = planOf(report)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("repetition stats: histogram fractions and 2-gram duplication") {
    val r1 = TextStats.repetitionOf("a a a a")
    assert(r1.n_tokens === 4L)
    assert(r1.distinct_ratio === 0.25)
    assert(r1.top_word_frac === 1.0)
    // 2-grams: "a a" x3, 1 distinct -> (3-1)/3
    assert(math.abs(r1.dup_2gram_frac - 2.0 / 3) < 1e-12)
    val r2 = TextStats.repetitionOf("  The   quick  FOX ")
    assert(r2 === TextStats.Repetition(3L, 1.0, 1.0 / 3, 0.0))
    assert(TextStats.repetitionOf(null) === TextStats.Repetition(0L, 0.0, 0.0, 0.0))
    assert(TextStats.repetitionOf("solo") === TextStats.Repetition(1L, 1.0, 1.0, 0.0))
  }

  test("unigram log-prob: exact hand-computed scores, rare tokens score high") {
    // corpus: 6 tokens total; "a" appears 3x, "b" 2x, "z" 1x
    val df = Seq((1L, "a a b"), (2L, "A  b"), (3L, "z")).toDF("doc_id", "text")
    val got = TextStats.unigramLogProb(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val ln = (x: Double) => math.log(x)
    def score(cs: Seq[Int]) =
      math.rint((ln(6.0) - cs.map(c => ln(c.toDouble)).sum / cs.size) * 1e3) / 1e3
    assert(got(1L)._1 === 3L)
    assert(got(1L)._2 === score(Seq(3, 3, 2))) // a a b
    assert(got(2L)._2 === score(Seq(3, 2)))    // case/ws normalized
    assert(got(3L)._2 === score(Seq(1)))       // rare token -> highest
    assert(got(3L)._2 > got(1L)._2)
  }

  test("bigram LM score: hand-computed interpolation, unseen text floors at unigram") {
    // reference model: "a b" x2 + "a c" => c(a)=3, c(b)=2, c(c)=1;
    // N=6, V=3; bigrams with count >= 2: only (a,b) with c(ab)=2
    val ref = Seq((10L, "a b"), (11L, "a b"), (12L, "a c"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b"),     // seen bigram: p = .75*(2/3) + .25*(2+1)/9
      (2L, "a c"),     // pruned bigram (count 1 < 2): unigram floor of c
      (3L, "z z"),     // fully OOV: p = .25*(0+1)/9
      (4L, "a"),       // one token: no bigram position -> no row
      (5L, ""))        // empty -> no row
      .toDF("doc_id", "text")
    val got = TextStats.bigramLmScore(docs, "doc_id", "text",
      ref, "text", minBigramCount = 2, lambda = 0.75)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r3(x: Double) = math.rint(x * 1e3) / 1e3
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got(1L) === ((1L, r3(-math.log(0.75 * 2.0 / 3 + 0.25 * 3.0 / 9)))))
    assert(got(2L) === ((1L, r3(-math.log(0.25 * 2.0 / 9)))))
    assert(got(3L) === ((1L, r3(-math.log(0.25 * 1.0 / 9)))))
    // the OOV doc is least like the reference
    assert(got(3L)._2 > got(2L)._2 && got(2L)._2 > got(1L)._2)
  }

  test("pack plan: independent md5-order model reproduces offsets; summary consistent") {
    import org.apache.spark.sql.functions.{col => c}
    val docs = Seq((1L, 3), (2L, 7), (3L, 0), (4L, 5), (5L, 2), (6L, 9))
      .toDF("doc_id", "n")
    val plan = Pack.packPlan(docs, "doc_id", c("n"), shards = 2, seqLen = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    // independent model of Splits.shardOrder: 60-bit md5 of "0:<id>"
    def key(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"0:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val want = Seq(1L -> 3, 2L -> 7, 4L -> 5, 5L -> 2, 6L -> 9)
      .map { case (id, n) => (id, key(id), (key(id) % 2).toInt, n.toLong) }
      .groupBy(_._3).flatMap { case (_, rows) =>
        rows.sortBy(r => (r._2, r._1))
          .scanLeft((0L, 0L, 0, 0L, 0L)) { case ((_, _, _, _, acc), r) =>
            (r._1, r._2, r._3, r._4, acc + r._4) }.tail
          .map { case (id, k, sh, n, cum) =>
            id -> ((sh, k, n, cum - n, (cum - n) / 5, (cum - 1) / 5)) }
      }
    assert(plan.keySet === Set(1L, 2L, 4L, 5L, 6L)) // zero-token doc 3 excluded
    assert(plan === want)
    val summary = Pack.packSummary(
      Pack.packPlan(docs, "doc_id", c("n"), shards = 2, seqLen = 5), 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(summary.map(_._3).sum === 26L) // total tokens over shards
    for ((_, nDocs, total, nSeqs, pad, boundary) <- summary) {
      assert(nSeqs === (total + 4) / 5)
      assert(pad === nSeqs * 5 - total)
      assert(nDocs >= 1 && boundary <= nDocs)
    }
  }

  test("pack plan invariants: contiguous lossless stream per shard, layout-invariant") {
    import org.apache.spark.sql.functions.{col => c}
    val rnd = new scala.util.Random(42)
    val docs = (1L to 200L).map(id => (id, rnd.nextInt(21)))
      .toDF("doc_id", "n")
    def planOf(df: org.apache.spark.sql.DataFrame) =
      Pack.packPlan(df, "doc_id", c("n"), shards = 3, seqLen = 7)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    val plan = planOf(docs)
    // per shard: ordered by (sort_key, id) the intervals
    // [start_off, start_off + n) tile [0, total) with no gap/overlap
    for ((_, rows) <- plan.groupBy(_._2)) {
      val ordered = rows.sortBy(r => (r._3, r._1))
      val expectedStarts = ordered.map(_._4).scanLeft(0L)(_ + _).init
      assert(ordered.map(_._5).toSeq === expectedStarts.toSeq)
      for ((_, _, _, n, start, first, last) <- ordered) {
        assert(first === start / 7)
        assert(last === (start + n - 1) / 7)
      }
    }
    // the physical input layout must not matter
    assert(planOf(docs.repartition(13)).sortBy(_._1).toSeq
      === plan.sortBy(_._1).toSeq)
  }

  test("source overlap matrix: type-level sharing, short-doc grams, sparse zero pairs") {
    val df = Seq(
      ("X", "a b c d"),     // trigram types: "a b c", "b c d"
      ("X", "a b c d"),     // duplicate doc: types count ONCE
      ("Y", "b c d e"),     // types: "b c d", "c d e" -> shares 1 with X
      ("Z", "zz"))          // short doc: whole-text gram "zz"
      .toDF("source", "text")
    val m = Diff.sourceOverlapMatrix(df, "source", "text", n = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // only the X-Y pair overlaps; Z's gram is disjoint -> sparse
    assert(m.keySet === Set(("X", "Y")))
    assert(m(("X", "Y")) === ((1L, 2L, 2L, 0.5)))
  }

  test("near-dup split leakage: straddling pairs flagged, cluster-keyed split certifies clean") {
    import org.apache.spark.sql.functions.{col => c}
    // independent model of Splits.hashBucket: first 8 md5 hex chars % 10
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 10
    }
    def split(id: Long): String =
      if (bucket(id) < 8) "train" else if (bucket(id) < 9) "val" else "test"
    // pick a pair that straddles and one that doesn't, from the model
    val ids = (1L to 200L)
    val straddle = ids.flatMap(a => ids.filter(b => b > a)
      .find(b => split(a) != split(b)).map(b => (a, b))).head
    val same = ids.flatMap(a => ids.filter(b => b > a)
      .find(b => split(a) == split(b)).map(b => (a, b))).head
    val pairs = Seq(straddle, same).toDF("id_a", "id_b")
    val leak = Splits.nearDupLeakage(pairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(leak.map(t => (t._1, t._2)).toSeq === Seq(straddle))
    assert(leak.head._3 === split(straddle._1) && leak.head._4 === split(straddle._2))
    // the prescribed fix: assign by near-dup CLUSTER id — both members
    // share the key, so the audit over the cluster-keyed split is empty
    val clusterKeyed = pairs.withColumn("cluster", c("id_a"))
    val certified = Splits.nearDupLeakage(
      clusterKeyed.withColumn("id_a", c("cluster"))
        .withColumn("id_b", c("cluster")), "id_a", "id_b")
    assert(certified.count() === 0L)
  }

  test("top grams by doc frequency: counts distinct per doc, ordered") {
    val df = Seq(
      (1L, "x y z x y z"),     // gram "x y z" counted once for this doc
      (2L, "x y z other words"),
      (3L, "unrelated content here"))
      .toDF("doc_id", "text")
    val top = TextStats.topGramsByDocFreq(df, "text", n = 3, k = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(top.head === ("x y z", 2L))
    assert(top(1)._2 === 1L)
  }

  test("vector centroids: element-wise means per cluster, exact digest") {
    val vecs = Seq(
      (0L, Array(1.0f, 3.0f)), (2L, Array(3.0f, 5.0f)),  // cluster 0
      (1L, Array(2.0f, 2.0f)))                           // cluster 1
      .toDF("vec_id", "embedding")
      .withColumn("cluster", col("vec_id") % 2)
    val cents = VectorAgg.centroids(vecs, "cluster", "embedding")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Double](2)))
      .toMap
    assert(cents(0L) === ((2L, Seq(2.0, 4.0))))
    assert(cents(1L) === ((1L, Seq(2.0, 2.0))))
    val digest = VectorAgg.centroidDigest(vecs, "cluster", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    // cluster 0 centroid (2,4): l2 = sqrt(20) = 4.4721
    assert(digest(0) === ((0L, 2L, 2L, 4.4721)))
    assert(digest(1) === ((1L, 1L, 2L, 2.8284)))
  }

  test("redactCards: Luhn-gated — valid PANs go, lookalike digit runs stay") {
    val df = Seq(
      // 4111111111111111 is the canonical Luhn-valid test PAN
      (1L, "pay with 4111111111111111 now"),
      (2L, "pay with 4111 1111 1111 1111 or 5500-0000-0000-0004 now"),
      (3L, "order 4111111111111112 shipped"), // checksum fails -> keep
      (4L, "id 41111111111111110000 long"),   // 20-digit run: whole run out
      (5L, "ts 1723770000123 units"),         // 13 digits, Luhn-invalid
      (6L, "luhn-valid 0000000000000 zeros")) // degenerate but valid by mod-10
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        Redact.redactCards(col("text")).as("t"),
        size(Redact.cardCandidates(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(out(1L) === ((s"pay with ${Redact.Token} now", 1)))
    assert(out(2L) === ((s"pay with ${Redact.Token} or ${Redact.Token} now", 2)))
    assert(out(3L) === (("order 4111111111111112 shipped", 0)))
    assert(out(4L) === (("id 41111111111111110000 long", 0)))
    assert(out(5L) === (("ts 1723770000123 units", 0)))
    assert(out(6L)._2 === 1)
    // replacement is POSITIONAL over maximal runs: a valid PAN that
    // ALSO appears as the suffix of a longer, disqualified run must
    // redact only where it stands alone — substring replace would
    // corrupt the 20-digit run too
    val aliased = Seq(
      (1L, "ref 00004111111111111111 pay 4111111111111111 end"))
      .toDF("doc_id", "text")
      .select(Redact.redactCards(col("text"))).head().getString(0)
    assert(aliased ===
      s"ref 00004111111111111111 pay ${Redact.Token} end")
    // the checksum kernel itself, both parities and the subtract-9 arm
    val luhn = Seq(("49927398716", true), ("49927398717", false),
      ("1234567812345670", true), ("79927398713", true))
      .toDF("d", "want")
      .select(Redact.luhnValid(col("d")) === col("want")).collect()
    assert(luhn.forall(_.getBoolean(0)))
  }

  test("redact: counts and replaces emails, urls, ips, phones") {
    val df = Seq(
      (1L, "mail a.user+x@sub.example.org and b@c.io now"),
      (2L, "see https://ex.com/p?q=1 or http://plain.net done"),
      (3L, "host 192.168.0.1 and 10.0.0.255 up"),
      (4L, "call +1 555-123-4567 today"),
      (5L, "nothing sensitive here"))
      .toDF("doc_id", "text")
    val out = Redact.redact(df, "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6)))
      .toMap
    // columns: doc_id, text, n_email, n_url, n_ip, n_phone, text_redacted
    val (e1, u1, i1, p1, t1) = out(1L)
    assert((e1, u1, i1, p1) === ((2L, 0L, 0L, 0L)))
    assert(t1 === s"mail ${Redact.Token} and ${Redact.Token} now")
    val (_, u2, _, _, t2) = out(2L)
    assert(u2 === 2L)
    assert(t2 === s"see ${Redact.Token} or ${Redact.Token} done")
    val (_, _, i3, _, t3) = out(3L)
    assert(i3 === 2L)
    assert(t3 === s"host ${Redact.Token} and ${Redact.Token} up")
    val (_, _, _, p4, t4) = out(4L)
    assert(p4 === 1L)
    assert(t4 === s"call ${Redact.Token} today")
    assert(out(5L) === ((0L, 0L, 0L, 0L, "nothing sensitive here")))
  }

  test("quantizeInt8 rejects an input that already has a __scale column") {
    val vecs = Seq((1L, Array(1.0f), 9.9)).toDF("vec_id", "embedding", "__scale")
    val e = intercept[IllegalArgumentException] {
      SimSearch.quantizeInt8(vecs, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("__scale"))
  }

  test("stratified top-n: quota per group, partition-independent") {
    val df = (1L to 100L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    val a = Sample.stratifiedTopN(df, "grp", "id", 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a.size === 15)
    assert(a.groupBy(_._2).forall(_._2.size == 5))
    // same sample regardless of physical layout
    val b = Sample.stratifiedTopN(df.repartition(7, col("id")), "grp", "id", 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a === b)
    // a group smaller than n survives whole
    val tiny = Seq((1L, "solo")).toDF("id", "grp")
    assert(Sample.stratifiedTopN(tiny, "grp", "id", 5).count() === 1L)
  }

  test("rate mixing: deterministic, monotone in rate, 0 and 1 exact") {
    val df = (1L to 400L).map(i => (i, s"s${i % 2}")).toDF("id", "grp")
    val half = Sample.byRates(df, "grp", "id", Map("s0" -> 0.5, "s1" -> 0.0))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(half.forall(_._2 == "s0")) // rate 0 removes the group entirely
    val n0 = half.length
    assert(n0 > 50 && n0 < 150, s"~50% of 200 expected, got $n0")
    // a lower rate selects a SUBSET of a higher rate (nested samples)
    val quarter = Sample.byRates(df, "grp", "id", Map("s0" -> 0.25, "s1" -> 0.0))
      .collect().map(_.getLong(0)).toSet
    assert(quarter.subsetOf(half.map(_._1).toSet))
    // default rate 1.0 keeps unlisted groups whole
    assert(Sample.byRates(df, "grp", "id", Map.empty).count() === 400L)
  }

  test("rate mixing: decimal rates round to the exact bucket cutoff") {
    // 0.57 * 10000 is 5699.999... in binary; a floor would lose bucket
    // 5699 and silently exclude its rows from the documented cutoff
    val df = (1L to 5000L).map(i => (i, "s")).toDF("id", "grp")
    val got = Sample.byRates(df, "grp", "id", Map("s" -> 0.57))
      .collect().map(_.getLong(0)).toSet
    val want = df.where(Splits.hashBucket(col("id"), 10000) < 5700)
      .collect().map(_.getLong(0)).toSet
    assert(got === want)
  }

  test("length profile: exact interpolated percentiles per group") {
    val df = Seq("a", "a b", "a b c", "a b c d", "a b c d e")
      .zipWithIndex.map { case (t, i) => (i.toLong, t, "g") }
      .toDF("id", "text", "grp")
    val r = TextStats.lengthProfile(df, "grp", "text").collect().head
    // tokens 1..5: p50=3, p90=4.6, p99=4.96 (linear interpolation)
    assert((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
      r.getLong(5), r.getLong(6)) === ((5L, 3.0, 4.6, 4.96, 1L, 5L)))
  }

  test("packing: contiguous fill, bounded overshoot, positions dense") {
    // tokens 300+300+300 with budget 512: chunk 2 starts at 300 (<512)
    // so pack 0 holds [300, 300] (overshoot 88 — one straddler max);
    // chunk 3 starts at 600 -> pack 1
    val df = Seq(
      ("s", 1L, 300L), ("s", 2L, 300L), ("s", 3L, 300L),
      ("t", 1L, 600L), ("t", 2L, 10L))
      .toDF("grp", "seq", "n_tok")
    val out = Pack.byBudget(df, "grp", Seq("seq"), "n_tok", 512)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(3), r.getInt(4))).toMap
    assert(out(("s", 1L)) === ((0L, 0)))
    assert(out(("s", 2L)) === ((0L, 1)))
    assert(out(("s", 3L)) === ((1L, 0)))
    // an oversized single chunk still lands alone in its own pack
    assert(out(("t", 1L)) === ((0L, 0)))
    assert(out(("t", 2L)) === ((1L, 0)))
    // a row spanning MULTIPLE budgets must not leave pack-id gaps:
    // raw floors are 0 and 2 (1100 crosses two 512 boundaries), but
    // dense ids stay contiguous 0, 1
    val wide = Seq(("u", 1L, 1100L), ("u", 2L, 10L)).toDF("grp", "seq", "n_tok")
    val dense = Pack.byBudget(wide, "grp", Seq("seq"), "n_tok", 512)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(dense === Map(1L -> 0L, 2L -> 1L))
    val digest = Pack.packDigest(df, "grp", Seq("seq"), "n_tok", 512)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(digest(("s", 0L)) === ((2L, 600L)))
    assert(digest(("s", 1L)) === ((1L, 300L)))
  }

  test("curate: stages remove monotonically, pipeline output annotated") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val benchmark = corpus.where(col("doc_id") % 10 === 0)
    val input = corpus.where(col("doc_id") % 10 =!= 0)
    val (out, report) = Curate.standard(input, benchmark)
    val counts = report.stages.map(_._2)
    // every stage only removes rows
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      report.stages.toString)
    assert(counts.head <= input.count())
    // output carries the split column and survived end-to-end
    assert(out.columns.contains("split"))
    assert(out.count() === counts.last)
    assert(report.counts.keySet === Set("quality", "repetition",
      "exact_dedup", "near_dedup", "decontaminate", "split"))
    // optional stages: novelty vs a historical corpus + unigram LM gate
    val hist = corpus.where(col("doc_id") % 10 === 1)
    val (out2, report2) = Curate.standard(input, benchmark,
      historicalCorpus = Some(hist), maxAvgNegLogp = Some(1e9))
    assert(report2.counts.keySet === Set("novelty", "quality",
      "repetition", "lm_gate", "exact_dedup", "near_dedup",
      "decontaminate", "split"))
    // novelty removes the docs whose exact text is already historical
    assert(report2.counts("novelty") <= input.count())
    // a non-binding LM cap changes nothing downstream
    assert(report2.counts("lm_gate") === report2.counts("repetition"))
    val c2 = report2.stages.map(_._2)
    assert(c2.zip(c2.tail).forall { case (a, b) => b <= a },
      report2.stages.toString)
    assert(out2.columns.contains("split"))
  }

  test("splits: group-atomic, deterministic, weights cover all buckets") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val df = (1L to 200L).map(i => (i, s"src${i % 20}")).toDF("id", "src")
    val assigned = Splits.assign(df, "src").cache()
    // leakage check: every source lands in exactly one split
    val perSource = assigned.groupBy("src")
      .agg(countDistinct(col("split")).as("n"))
      .collect().map(_.getLong(1))
    assert(perSource.forall(_ === 1L))
    // deterministic across evaluations
    val a = assigned.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val b = Splits.assign(df, "src").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a === b)
    // all split names valid; every row assigned
    assert(assigned.select("split").distinct().collect().map(_.getString(0))
      .toSet.subsetOf(Set("train", "val", "test")))
    assert(assigned.where(col("split").isNull).count() === 0L)
    assigned.unpersist()
  }

  test("shardOrder: layout-independent, in-range, seed-sensitive") {
    import org.apache.spark.sql.functions.col
    val df = (1L to 500L).map(i => (i, s"t$i")).toDF("id", "t")
    val one = Splits.shardOrder(df.repartition(1), "id", 8, seed = 42)
      .select("id", "shard", "sort_key")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val many = Splits.shardOrder(df.repartition(13), "id", 8, seed = 42)
      .select("id", "shard", "sort_key")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    // the whole point: assignment ignores partition layout
    assert(one.toSeq === many.toSeq)
    assert(one.forall { case (_, s, k) => s >= 0 && s < 8 && k >= 0 })
    // every shard gets members at this size; a different seed reshuffles
    assert(one.map(_._2).distinct.length === 8)
    val reseeded = Splits.shardOrder(df, "id", 8, seed = 43)
      .select("id", "shard").collect().map(r => (r.getLong(0), r.getInt(1)))
      .sorted
    assert(reseeded.toSeq !== one.map(t => (t._1, t._2)).toSeq)
    // reserved-name collision refused
    intercept[IllegalArgumentException] {
      Splits.shardOrder(df.withColumnRenamed("t", "shard"), "id", 8)
    }
    // map-only: no exchange before the assignment projection
    val plan = Splits.shardOrder(df, "id", 8)
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("repartition"),
      "shard assignment must not shuffle")
  }

  test("semantic decontamination flags benchmark copies, one exchange") {
    import org.apache.spark.sql.functions.col
    // orthonormal basis vectors: cosine 1.0 to self, 0.0 to any other
    val corpus = (0 until 10).map { i =>
      (i.toLong, Array.tabulate(10)(j => if (j == i) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val bench = corpus.where(col("vec_id") < 2)
    val report = Decontaminate.semanticReport(
      corpus, bench, "vec_id", "embedding", threshold = 0.99)
    val flagged = report.where(col("contaminated"))
      .collect().map(_.getLong(0)).sorted
    assert(flagged.toSeq === Seq(0L, 1L))
    assert(report.count() === 10L)
    val kept = Decontaminate.semanticDecontaminate(
      corpus, bench, "vec_id", "embedding", threshold = 0.99)
    assert(kept.collect().map(_.getLong(0)).sorted.toSeq === (2L to 9L))
    // scale contract: the corpus side must not shuffle — the only
    // exchange in the report is the per-id aggregate merge
    report.collect()
    // read only the final AQE plan (the string repeats the initial one)
    val executed = report.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(executed.contains("BroadcastNestedLoopJoin"),
      "benchmark must broadcast into an intentional cross")
    assert("Exchange hashpartitioning".r.findAllIn(executed).length === 1,
      s"corpus must shuffle exactly once (the per-id agg merge):\n$executed")
    assert(!executed.contains("SortMergeJoin"))
  }

  test("ann lsh finds an identical vector (same bucket) and no cartesian") {
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val vecs = (Seq((0L, base), (1L, base)) ++
      (2L to 40L).map(i => (i, Array.tabulate(64)(j => math.cos(i * 64 + j).toFloat))))
      .toDF("vec_id", "embedding")
    val q = SimSearch.annLshTopK(vecs, "vec_id", "embedding", 0L, 3)
    val got = q.collect().map(_.getLong(0))
    assert(got.contains(1L)) // the identical vector must be retrieved
  }

  test("batch ann matches the single-query path per query") {
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val vecs = (Seq((100L, base), (1L, base), (101L, base.map(-_))) ++
      (2L to 40L).map(i => (i, Array.tabulate(64)(j => math.cos(i * 64 + j).toFloat))))
      .toDF("vec_id", "embedding")
    val corpus = vecs.filter(col("vec_id") < 100L)
    val queries = vecs.filter(col("vec_id") >= 100L)
    val batch = SimSearch.annLshTopKBatch(corpus, queries,
      "vec_id", "embedding", k = 3)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSet).toMap
    // each query's rows equal the single-query operator run on
    // (corpus + that query alone)
    for (qid <- Seq(100L, 101L)) {
      val single = SimSearch.annLshTopK(
        corpus.union(queries.filter(col("vec_id") === qid)),
        "vec_id", "embedding", queryId = qid, k = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch(qid) === single, s"query $qid")
    }
    // the identical vector is retrieved for the identical query
    assert(batch(100L).exists(_._1 == 1L))
  }

  test("semantic dedup recovers planted copies within cells, no global product") {
    // independent per-id seeded gaussian vectors (pairwise cosine
    // ~N(0, 1/8), far from 0.99 — deterministic via the seed; a
    // cos(i*64+j) or LCG fixture has accidental near-dup structure)
    // + two planted exact copies
    def v(i: Long) = {
      val r = new scala.util.Random(i)
      Array.fill(64)(r.nextGaussian().toFloat)
    }
    val raw = (0L to 40L).map(i => (i, v(i))) ++
      Seq((100L, v(7)), (101L, v(13)))
    val vecs = raw.toDF("vec_id", "embedding")
    // brute-force expected pair set at the threshold
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val expected = (for {
      (ia, va) <- raw; (ib, vb) <- raw
      if ia < ib && cos(va, vb) >= 0.99
    } yield (ia, ib)).toSet
    assert(expected === Set((7L, 100L), (13L, 101L))) // fixture sanity
    val pairs = SimSearch.semanticDedupPairs(vecs, "vec_id", "embedding",
      threshold = 0.99, nlist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet === expected)
    assert(pairs.forall(_._3 === 1.0))
    // the pair stage is an equi-join on the cell key — no global product
    val plan = SimSearch.semanticDedupPairs(vecs, "vec_id", "embedding",
      threshold = 0.99, nlist = 4).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("semanticDedup cell-skew guard fires on a degenerate cluster") {
    // a collapsed embedder: 60 of 64 vectors identical (all land in
    // ONE KMeans cell), so the within-cell pair count 60*59/2 = 1770
    // blows a 1000-pair budget — the guard must report it
    val rows = (0 until 64).map { i =>
      val v =
        if (i < 60) Array.fill(8)(1.0f)
        else Array.tabulate(8)(j => if (j == i - 60) 50f else 0f)
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val idx = SimSearch.ivfFit(df, "vec_id", "embedding", nlist = 4,
      seed = 42L)
    val census = SimSearch.cellCensus(
      idx.assigned.select(col("vec_id"), col("__cell")))
    assert(census.map(_._2).sum === 64L)
    val offenders = SimSearch.oversizedCells(census, maxPairsPerCell = 1000L)
    assert(offenders.nonEmpty, census.mkString(","))
    assert(offenders.head._2 >= 60L) // the degenerate cell leads
    // a generous budget stays quiet — bench-scale runs never warn
    assert(SimSearch.oversizedCells(census,
      SimSearch.DefaultMaxPairsPerCell).isEmpty)
    // overflow-safety: a billion-row cell must not wrap negative
    val big = Array((0, 3000000000L), (1, 10L))
    assert(SimSearch.oversizedCells(big, Long.MaxValue).isEmpty)
    assert(SimSearch.oversizedCells(big, 1000L).map(_._1).toSeq === Seq(0))
  }

  test("semanticDedup auto-remediation: a planted collapsed cell splits; pair set equals brute force") {
    // three TIGHT well-separated clusters of 12, but only nlist=2
    // top-level cells — at least two clusters share a cell, whose
    // 24*23/2 = 276 pairs blow a 100-pair budget, forcing the
    // re-cluster path; after the split each cluster's 66 pairs fit.
    // The pair set must equal brute force at the threshold — the
    // remediation must change the PLAN, never the answer.
    val rows = (0 until 3).flatMap { c =>
      (0 until 12).map { i =>
        val id = c * 100L + i
        val v = Array.tabulate(8)(j =>
          (if (j == c) 10f else 0f) + 0.01f * math.cos(id * 8 + j).toFloat)
        (id, v)
      }
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val expected = (for {
      (ia, va) <- rows; (ib, vb) <- rows
      if ia < ib && cos(va, vb) >= 0.99
    } yield (ia, ib)).toSet
    assert(expected.size === 3 * 66) // fixture sanity: within-cluster only
    val df = rows.toDF("vec_id", "embedding")
    val got = SimSearch.semanticDedupPairs(df, "vec_id", "embedding",
      threshold = 0.99, nlist = 2, maxPairsPerCell = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    // the UNSPLITTABLE case: identical vectors can never separate —
    // re-clustering makes no progress, so the quadratic fallback must
    // still produce the full brute-force pair set (loudly, not wrongly)
    val same = (0L until 20L).map(i => (i, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val stuck = SimSearch.semanticDedupPairs(same, "vec_id", "embedding",
      threshold = 0.99, nlist = 2, maxPairsPerCell = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stuck.size === 20 * 19 / 2)
  }

  test("ivf drift monitor: control quiet; directional drift trips psi, diffuse drift trips distance") {
    import org.apache.spark.sql.functions.{transform => arrTransform, lit => l}
    // 3 tight separated clusters of 20 (8-dim, centers 10*e_c, jitter
    // << separation) — the ivfFit fixture family
    val rows = (0 until 3).flatMap { c =>
      (0 until 20).map { i =>
        val id = c * 100L + i
        (id, Array.tabulate(8)(j =>
          (if (j == c) 10f else 0f) + 0.05f * math.cos(id * 8 + j).toFloat))
      }
    }
    val df = rows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfdrift")
      .toString
    val idx = SimSearch.ivfFit(df, "vec_id", "embedding", nlist = 3, seed = 42L)
    SimSearch.ivfSave(idx, dir)
    val fitted = SimSearch.ivfBaselineOf(spark, idx.centers, df, "embedding")
    assert(fitted.n === 60L && fitted.nlist === 3)
    assert(fitted.cellCounts.values.toSeq.sorted === Seq(20L, 20L, 20L))
    assert(fitted.meanDist > 0.0)
    // the baseline persists beside the index and reloads identically —
    // the "fit once per corpus version" durable half
    SimSearch.ivfBaselineSave(spark, fitted, dir)
    val base = SimSearch.ivfBaselineLoad(spark, dir)
    assert(base === fitted)
    def rep(batch: org.apache.spark.sql.DataFrame) =
      SimSearch.ivfDriftReport(spark, dir, base, batch, "embedding")
        .head()
    // control: every other point — in-distribution, both signals quiet
    val control = rep(df.where(col("vec_id") % 2 === 0))
    assert(control.getLong(0) === 30L)
    assert(!control.getBoolean(3) && !control.getBoolean(4),
      s"control alerted: $control")
    // DIRECTIONAL drift: a batch entirely from one cluster — cell
    // shares collapse to one cell (psi fires) while every vector sits
    // exactly on-manifold (distance stays ~1)
    val directional = rep(df.where(col("vec_id") < 100L))
    assert(directional.getBoolean(3), s"psi quiet on directional: $directional")
    assert(!directional.getBoolean(4),
      s"distance fired on on-manifold batch: $directional")
    // DIFFUSE drift: +5.0 in every coordinate — every point stays
    // NEAREST ITS OWN cluster's center (25+7*25=200 vs >=400 to the
    // others), so shares are untouched (psi quiet) while the distance
    // ratio explodes
    val diffuse = rep(df.select(col("vec_id"),
      arrTransform(col("embedding"), x => x + l(5.0f)).as("embedding")))
    assert(!diffuse.getBoolean(3), s"psi fired on diffuse: $diffuse")
    assert(diffuse.getBoolean(4), s"distance quiet on diffuse: $diffuse")
    assert(diffuse.getDouble(2) > 10.0) // ~200 / jitter-scale baseline
    // all-null batch: no drift evidence, no alerts, n=0
    val nulls = rep(Seq((1L, null: Array[Float])).toDF("vec_id", "embedding"))
    assert(nulls.getLong(0) === 0L &&
      !nulls.getBoolean(3) && !nulls.getBoolean(4))
    // dim drift fails loudly (the shared assignment-kernel guard)
    val mismatch = Seq((1L, Array.fill(4)(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      SimSearch.ivfDriftReport(spark, dir, base, mismatch, "embedding")
    }
    assert(e.getMessage != null)
    // a baseline from a different index version is rejected
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ivfdrift2")
      .toString
    SimSearch.ivfSave(
      SimSearch.ivfFit(df, "vec_id", "embedding", nlist = 2, seed = 42L), dir2)
    val wrongVersion = intercept[IllegalArgumentException] {
      SimSearch.ivfDriftReport(spark, dir2, base, df, "embedding")
    }
    assert(wrongVersion.getMessage.contains("different index version"))
    // a REFIT (same nlist!) invalidates the persisted baseline: the
    // stale one must not load cleanly against the new corpus version
    // (with equal nlist the version require alone cannot catch it)
    val refit = SimSearch.ivfFit(df, "vec_id", "embedding", nlist = 3,
      seed = 7L)
    SimSearch.ivfSave(refit, dir)
    intercept[Exception] { SimSearch.ivfBaselineLoad(spark, dir) }
    SimSearch.ivfBaselineSave(spark,
      SimSearch.ivfBaselineOf(spark, refit.centers, df, "embedding"), dir)
    assert(SimSearch.ivfBaselineLoad(spark, dir).n === 60L) // restored
  }

  test("ivfFit cells bound the per-cell quadratic on a clustered corpus") {
    // the q53 scale contract: with nlist sized to the corpus (cells ~
    // n / per-cell budget), the within-cell quadratic term must stay
    // near the planted-cluster optimum even when cluster sizes are
    // SKEWED — if KMeans collapsed the corpus into one cell, SemDeDup
    // would silently degrade to the all-pairs product it exists to
    // avoid. Skewed fixture: 6 well-separated clusters, 150..10 pts.
    val sizes = Seq(150, 50, 40, 30, 20, 10)
    val rows = sizes.zipWithIndex.flatMap { case (sz, c) =>
      (0 until sz).map { i =>
        val id = c * 1000L + i
        // center = 10 * e_c, jitter << separation
        val v = Array.tabulate(8)(j =>
          (if (j == c) 10f else 0f) + 0.01f * math.cos(id * 8 + j).toFloat)
        (id, v)
      }
    }
    val df = rows.toDF("vec_id", "embedding")
    val idx = SimSearch.ivfFit(df, "vec_id", "embedding",
      nlist = sizes.length, seed = 42L)
    val cellSizes = idx.assigned.groupBy("__cell").count()
      .collect().map(_.getLong(1))
    val n = sizes.sum.toLong
    assert(cellSizes.sum == n) // every row assigned exactly once
    def quad(cs: Seq[Long]): Long = cs.map(c => c * (c - 1) / 2).sum
    val planted = quad(sizes.map(_.toLong))
    val allPairs = n * (n - 1) / 2
    val actual = quad(cellSizes.toSeq)
    // within 1.5x of the planted-cluster optimum, far under all-pairs
    assert(actual <= (1.5 * planted).toLong,
      s"per-cell quadratic $actual vs planted $planted (all-pairs $allPairs)")
  }

  test("random projection: hand-computed components, distances preserved") {
    val a = Array.tabulate(64)(j => math.sin(j + 1).toFloat)
    val vecs = Seq((1L, a), (2L, a.map(x => 2 * x))).toDF("vec_id", "embedding")
    val got = SimSearch.projectDigest(vecs, "vec_id", "embedding", outDim = 8)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // p0 == dot(plane0, a) / sqrt(8), replayed with the same generator
    val planes = SimSearch.hyperplanes(8, 64, 42L)
    val p0 = a.zip(planes(0)).map { case (x, p) => x.toDouble * p }.sum / math.sqrt(8)
    assert(math.abs(got(1L)._1 - math.rint(p0 * 1e4) / 1e4) < 1e-9)
    // linearity: doubling the vector doubles every digest component
    assert(math.abs(got(2L)._2 - 2 * got(1L)._2) < 2e-4)
  }

  test("entity resolution: typo pairs matched within blocks, block guard fires, transitive ids") {
    import org.apache.spark.sql.functions.{col => c}
    val recs = Seq(
      (1L, "Acme Widgets Inc"),
      (2L, "acme widgets inc."),   // normalizes to the same name: sim 1.0
      (3L, "Acme Widgets Incx"),   // one edit from 1/2: chains the component
      (4L, "Beta Metals Ltd"),     // different block, unmatched
      (5L, "zz"))                  // short but valid record
      .toDF("id", "name")
    val pairs = Entity.matchPairs(recs, "id", "name", blockChars = 3,
      minSim = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))
    assert(pairs.map(p => (p._1, p._2)).toSeq ===
      Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs.head._3 === 1.0) // exact after normalization
    // transitive closure: 1-2-3 collapse to entity 1; 4 and 5 stay solo
    val ents = Entity.entityIds(recs, "id",
      Entity.matchPairs(recs, "id", "name", blockChars = 3, minSim = 0.9))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ents === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L))
    // degenerate blocking fails loudly instead of going quadratic
    val hot = (1L to 50L).map(i => (i, s"same prefix $i")).toDF("id", "name")
    val e = intercept[IllegalArgumentException] {
      Entity.matchPairs(hot, "id", "name", blockChars = 3, maxBlockSize = 10)
    }
    assert(e.getMessage.contains("maxBlockSize"))
  }

  test("entity resolution: length prefilter is lossless at the exact sim boundary") {
    // lev("abcdefghij","abcdefgh") = 2, maxLen = 10 → sim = 0.8000
    // exactly minSim, and the length gap (2) equals the full edit
    // budget maxLen*(1-minSim) — the worst case for the length
    // prefilter (every edit is an insertion/deletion). The pair MUST
    // survive: the gate may only drop pairs that cannot reach minSim.
    val recs = Seq((1L, "abcdefghij"), (2L, "abcdefgh")).toDF("id", "name")
    val pairs = Entity.matchPairs(recs, "id", "name", blockChars = 3,
      minSim = 0.8).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getDouble(2) === 0.8)
  }

  test("entity resolution: a LEADING-chars typo is caught by the suffix blocking pass") {
    // "jonh" vs "john" diverge inside the first 3 chars, so the two
    // records never share a prefix block — the exact recall hole a
    // single-key blocker has. The suffix pass blocks both on "ith"
    // and the pair verifies at sim = 1 - 2/10 = 0.8.
    val recs = Seq(
      (1L, "John Smith"),
      (2L, "Jonh Smith"),
      (3L, "Mary Jones"))
      .toDF("id", "name")
    val pairs = Entity.matchPairs(recs, "id", "name", blockChars = 3,
      minSim = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0.8)))
    // disjointness: a pair sharing BOTH keys is emitted exactly once
    val dup = Seq((1L, "Acme Inc"), (2L, "Acme Inc")).toDF("id", "name")
    assert(Entity.matchPairs(dup, "id", "name", blockChars = 3,
      minSim = 0.8).count() === 1)
    // block purging: an oversized suffix block (everyone ends in
    // "corp") sits out the secondary pass instead of going quadratic —
    // the head-typo pair inside it is NOT found at cap 2, found again
    // once the cap admits the block
    val crowd = Seq("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf").zipWithIndex.map { case (w, i) =>
      (i + 3L, s"$w corp") }
    val hotSuffix = (Seq((1L, "John Wincorp"), (2L, "Jonh Wincorp")) ++
      crowd).toDF("id", "name")
    assert(Entity.matchPairs(hotSuffix, "id", "name", blockChars = 4,
      minSim = 0.8, maxSuffixBlock = 2).count() === 0)
    assert(Entity.matchPairs(hotSuffix, "id", "name", blockChars = 4,
      minSim = 0.8, maxSuffixBlock = 64).count() === 1)
  }

  test("degenerate inputs: core operators return empty frames, never throw") {
    // empty sources/partitions are routine at corpus scale (an idle
    // ingest tick, a filtered-out shard) — every pipeline stage must
    // pass them through as empty, not crash
    import org.apache.spark.sql.functions.{col => c}
    val noDocs = Seq((1L, "a b c", "src0")).toDF("doc_id", "text", "source")
      .where(c("doc_id") < 0)
    val someDocs = Seq((1L, "a b c d e", "src0"), (2L, "a b c d e", "src1"))
      .toDF("doc_id", "text", "source")
    assert(Dedup.exact(noDocs, "doc_id", "text").count() === 0)
    assert(Dedup.minhashPairs(noDocs, "doc_id", "text",
      shingleSize = 3, numHashes = 12, bands = 4, threshold = 0.7).count() === 0)
    assert(Diff.sourceOverlapMatrix(noDocs, "source", "text").count() === 0)
    assert(Pack.packPlan(noDocs, "doc_id",
      org.apache.spark.sql.functions.size(
        Dedup.normalizedTokens(c("text"))), 4, 512).count() === 0)
    assert(Sample.stratifiedTopN(noDocs, "source", "doc_id", 5).count() === 0)
    assert(Splits.nearDupLeakage(
      noDocs.select(c("doc_id").as("id_a"), c("doc_id").as("id_b")),
      "id_a", "id_b").count() === 0)
    assert(TextStats.repetitionStats(noDocs, "doc_id", "text").count() === 0)
    // empty SCORED side and empty REFERENCE side of the bigram LM
    assert(TextStats.bigramLmScore(noDocs, "doc_id", "text",
      someDocs, "text").count() === 0)
    assert(TextStats.bigramLmScore(someDocs, "doc_id", "text",
      noDocs, "text").count() === 2) // unigram floor of an empty model
    // lambda == 1.0 is rejected: it erases the unigram floor, so an
    // unseen bigram would score -log(0) = Infinity
    intercept[IllegalArgumentException] {
      TextStats.bigramLmScore(someDocs, "doc_id", "text",
        someDocs, "text", lambda = 1.0)
    }
    val noEvents = Seq(("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("event_type", "ts", "value").where(c("value") < 0)
    assert(graft.streaming.EventStreams.tumbling(noEvents).count() === 0)
    assert(graft.streaming.EventStreams.typeMixDrift(noEvents, Seq("a" -> 1.0)).count() === 0)
  }

  test("ann paths tolerate empty frames (empty ingest/query tick)") {
    val vecs = (1L to 5L).map(i =>
      (i, Array.tabulate(8)(j => (i * 8 + j).toFloat))).toDF("vec_id", "embedding")
    val none = vecs.where(col("vec_id") < 0)
    assert(SimSearch.annLshTopKBatch(vecs, none,
      "vec_id", "embedding", k = 3).count() === 0)
    assert(SimSearch.annLshTopKBatch(none, vecs,
      "vec_id", "embedding", k = 3).count() === 0)
    assert(SimSearch.projectDims(none, "embedding", outDim = 4).count() === 0)
    assert(SimSearch.srpIndex(none, "embedding").count() === 0)
  }

  test("schema profile: nulls, distincts, ranges per column in one pass") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(2L), None),
      (Some(2L), Some("c")), (None, Some("a")))
      .toDF("k", "s")
    val rows = graft.ops.Profile.schemaReport(df, exactDistinct = true)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(rows("k") === ((4L, 1L, 2L, "1", "2")))
    assert(rows("s") === ((4L, 1L, 2L, "a", "c")))
    // approx path: same shape, cardinalities near-exact at this size
    val approx = graft.ops.Profile.schemaReport(df)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(approx("k") === 2L && approx("s") === 2L)
  }

  test("mixture solver: binding source at 1.0, proportions exact, no upsampling") {
    val avail = Map("web" -> 1000L, "code" -> 100L, "books" -> 50L, "junk" -> 7L)
    // want 60/20/20 web/code/books; books is binding (50/0.2 < others)
    val rates = Sample.ratesForMixture(avail,
      Map("web" -> 0.6, "code" -> 0.2, "books" -> 0.2))
    assert(rates("books") === 1.0)          // binding source fully used
    assert(rates("junk") === 0.0)           // unweighted source excluded
    assert(rates.values.forall(r => r >= 0.0 && r <= 1.0))
    // realized mixture matches the target proportions
    val realized = rates.map { case (g, r) => g -> avail(g) * r }
    assert(math.abs(realized("web") - 150.0) < 1e-9)  // 0.6/0.2 * 50
    assert(math.abs(realized("code") - 50.0) < 1e-9)
    intercept[IllegalArgumentException] {
      Sample.ratesForMixture(avail, Map("missing" -> 1.0))
    }
  }

  test("temperature rates: alpha=1 identity, rarest source binds, realized ∝ share^alpha") {
    val avail = Map("en" -> 1000L, "fr" -> 100L, "de" -> 10L)
    // alpha = 1 keeps the natural mixture: every rate 1.0
    val id = Sample.ratesForTemperature(avail, alpha = 1.0)
    assert(id.values.forall(r => math.abs(r - 1.0) < 1e-12))
    // alpha = 0.5 flattens: the rarest source keeps everything...
    val r = Sample.ratesForTemperature(avail, alpha = 0.5)
    assert(r("de") === 1.0)
    assert(r.values.forall(x => x > 0.0 && x <= 1.0))
    // ...and realized counts are proportional to sqrt-shares
    val w = avail.map { case (g, n) => g -> math.sqrt(n / 1110.0) }
    val realized = r.map { case (g, x) => g -> avail(g) * x }
    assert(math.abs(realized("en") / realized("de") - w("en") / w("de")) < 1e-9)
    assert(math.abs(realized("fr") / realized("de") - w("fr") / w("de")) < 1e-9)
    // head share shrinks toward uniform
    assert(realized("en") / realized.values.sum < 1000.0 / 1110.0)
    intercept[IllegalArgumentException] {
      Sample.ratesForTemperature(avail, alpha = 0.0)
    }
    // cross-engine contract: every rate is exactly representable at 12
    // decimals (pre-rounded), so an oracle replaying the arithmetic
    // with its own libm pow + round(x, 12) lands on the identical
    // byRates bucket cutoff — a raw pow product an ulp off a 10^4
    // boundary could otherwise flip n_kept between engines
    r.values.foreach { x =>
      assert(math.floor(x * 1e12 + 0.5) / 1e12 === x)
    }
  }

  test("curate lm gate has no opinion on zero-token docs") {
    val docs = Seq(
      (1L, "real content words in this document", "s"),
      (2L, "   ", "s")) // zero tokens: no unigramLogProb row exists
      .toDF("doc_id", "text", "source")
    val bench = Seq((9L, "unrelated benchmark text", "s"))
      .toDF("doc_id", "text", "source")
    val (_, report) = Curate.standard(docs, bench,
      minQuality = 0.0, maxDup2gramFrac = 1.0,
      maxAvgNegLogp = Some(1e9))
    // a non-binding cap must not drop the tokenless doc (anti-join on
    // cap-exceeders, not semi-join on scored passers)
    assert(report.counts("lm_gate") === report.counts("repetition"),
      report.stages.toString)
  }

  test("quantize digest: empty vector yields null digests, not fold seeds") {
    // DuckDB's list_sum/list_min/list_max of an empty list are NULL;
    // the fold seeds (0, 127, -127) must not leak out as fake extrema
    val vecs = Seq((1L, Array(2.0f, -4.0f)), (2L, Array.empty[Float]))
      .toDF("vec_id", "embedding")
    val rows = SimSearch.quantizeDigest(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r).toMap
    val full = rows(1L)
    assert(full.getLong(2) === (64L - 127L)) // q_sum of [64, -127]
    assert(full.getLong(3) === -127L && full.getLong(4) === 64L)
    val empty = rows(2L)
    assert(empty.isNullAt(1) && empty.isNullAt(2) &&
      empty.isNullAt(3) && empty.isNullAt(4))
  }

  test("connected components of an empty pair set are empty and converged") {
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val (labels, converged) = Dedup.componentsWithStatus(none)
    assert(converged)
    assert(labels.count() === 0L)
    assert(labels.columns.toSeq === Seq("node", "comp"))
    // and the drop composition is identity on a dup-free corpus
    val clean = Seq((1L, "alpha unrelated"), (2L, "beta different"))
      .toDF("doc_id", "text")
    assert(Dedup.dropNearDuplicates(clean, "doc_id", "text").count() === 2L)
  }

  test("connected components report non-convergence when maxIter is hit") {
    // a 6-node chain has diameter 5: one propagation round cannot
    // reach the fixpoint, and that must be signalled, not silent.
    // driverMaxPairs = 0 forces the distributed loop (the driver
    // union-find fast path has no iteration bound to hit)
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (_, convergedEarly) = Dedup.componentsWithStatus(chain, maxIter = 1,
      driverMaxPairs = 0L)
    assert(!convergedEarly)
    val (labels, ok) = Dedup.componentsWithStatus(chain, maxIter = 25,
      driverMaxPairs = 0L)
    assert(ok)
    assert(labels.collect().map(_.getLong(1)).forall(_ === 1L))
  }

  test("connected components: driver union-find ≡ distributed loop on random graphs") {
    // the guarded fast path must be label-identical to the min-label
    // propagation loop on arbitrary pair graphs — chains, cliques,
    // forests, self-pairs, duplicate pairs (seeded, reproducible)
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val n = 2 + rnd.nextInt(40)
      val pairs = (0 until (1 + rnd.nextInt(60))).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.toDF("id_a", "id_b")
      val viaDriver = Dedup.componentsOf(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaLoop = Dedup.componentsOf(pairs, driverMaxPairs = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaDriver === viaLoop)
    }
    // and the IntegerType id shape survives the long round-trip
    val intPairs = Seq((1, 2), (2, 3), (7, 8)).toDF("id_a", "id_b")
    val intComps = Dedup.componentsOf(intPairs)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(intComps === Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 8 -> 7))
  }

  test("jaccardPairsWithin maxDf cap plans as agg + anti-join, not a window") {
    // the cap exists to defuse hot-shingle skew; a `count(*) over
    // (__blk, __g)` window would funnel every posting of the hot gram
    // through ONE sorted task — assert the capped path has NO Window
    // node anywhere (the agg+broadcast-anti-join form collapses hot
    // keys map-side instead)
    val capped = Dedup.jaccardPairsWithin(docs, "doc_id", "text", "src",
      n = 1, threshold = 0.5, maxDf = 1000)
    val windows = capped.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty,
      capped.queryExecution.optimizedPlan.toString.take(2000))
  }

  test("curate is single-pass: each stage reads its predecessor's cache") {
    val n = 40
    val acc = spark.sparkContext.longAccumulator("curate-source-reads")
    val raw = (1 to n).map(i =>
      (i.toLong, s"document number $i carrying distinct content words $i", s"s${i % 4}"))
      .toDF("doc_id", "text", "source")
    val counting = org.apache.spark.sql.functions
      .udf { (s: String) => acc.add(1); s }.asNondeterministic()
    val tracked = raw.withColumn("text", counting(col("text")))
    val bench = Seq((999L, "benchmark text unrelated to the corpus", "s0"))
      .toDF("doc_id", "text", "source")
    val (out, report) = Curate.standard(tracked, bench,
      minQuality = 0.0, maxDup2gramFrac = 1.0)
    assert(out.count() === report.stages.last._2)
    out.unpersist()
    // ~10 counted stages over unpersisted lineage would re-derive the
    // source per stage (~8n evaluations); the persist-per-stage
    // contract keeps it at one evaluation per row (+ slack for the
    // initial fill)
    assert(acc.value <= 2L * n,
      s"source text evaluated ${acc.value} times for $n rows — lineage is being recomputed per stage")
    // and persistence must not change the report itself
    val (out2, report2) = Curate.standard(raw, bench,
      minQuality = 0.0, maxDup2gramFrac = 1.0)
    out2.unpersist()
    assert(report.stages === report2.stages)
  }

  test("dropSemanticDuplicates: chained cluster collapses to its min-id rep") {
    // 2-d unit vectors at angles 0, 2.2deg, 4.4deg: cos(2.2deg) ~ 0.9993
    // and cos(4.4deg) ~ 0.9971, so with threshold 0.999 A~B and B~C pair
    // but A~C does NOT — only the connected-components closure collapses
    // the chain. A far-away tight cluster keeps KMeans(k=2) cells stable
    // (chain in one cell, the rest in the other).
    def at(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val vecs = Seq(
      (1L, at(0.0)), (2L, at(2.2)), (3L, at(4.4)),
      (10L, at(90.0)), (11L, at(91.0)), (12L, at(89.0)))
      .toDF("vec_id", "embedding")
    val pairs = SimSearch.semanticDedupPairs(vecs, "vec_id", "embedding",
      threshold = 0.999, nlist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)) &&
      !pairs.contains((1L, 3L)), pairs.toString)
    val kept = SimSearch.dropSemanticDuplicates(vecs, "vec_id", "embedding",
      threshold = 0.999, nlist = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // the chain keeps exactly min-id 1; the 90deg cluster (~1deg apart,
    // cos ~ 0.99985) also collapses to its min id 10
    assert(kept === Set(1L, 10L), kept.toString)
  }

  test("dropSemanticDuplicates returns exactly the corpus with planted copies removed") {
    // chaotic-phase components (NOT cos(i*w+j): phased cosine rows have
    // cosine ~ cos(w*(i-i')) and can graze any threshold by accident)
    val base = (1L to 20L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 7919.0 + j * 104729.0).toFloat)))
    val copies = Seq(101L -> base(0)._2, 102L -> base(5)._2)
    val planted = (base ++ copies).toDF("vec_id", "embedding")
    val kept = SimSearch.dropSemanticDuplicates(planted, "vec_id", "embedding",
      threshold = 0.9995, nlist = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === (1L to 20L).toSet, kept.toString)
  }

  test("curate optional near-novelty and semantic stages wire in pipeline order") {
    val hist = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "s0"),
      (2L, "an entirely separate historical document about engines", "s0"))
      .toDF("doc_id", "text", "source")
    // fpp tightened: at the default 1e-3 this 12-key filter false-
    // positived on an organic ingest doc under one seed family —
    // near_novelty would drop 2 docs instead of the 1 planted copy
    val idx = Novelty.fitBandIndex(hist, "text", shingleSize = 2,
      numHashes = 12, bands = 6, fpp = 1e-9)
    def vec(seed: Long) =
      Array.tabulate(8)(j => math.cos(seed * 8 + j).toFloat)
    val ingest = Seq(
      // copy of hist doc 1 -> dropped at near_novelty. An identical
      // shingle set collides in EVERY band, so this drop is
      // deterministic under any seed family; an edited near-dup is only
      // probabilistically caught (P = 1-(1-J^r)^b — the corpus-level
      // q22/q48 contracts cover that recall), which would make this
      // unit test flaky across kernel changes.
      (10L, "the quick brown fox jumps over the lazy dog today", "s1", vec(10L)),
      (11L, "fresh content about distributed query processing", "s1", vec(11L)),
      (12L, "novel writing on streaming watermarks and state", "s2", vec(12L)),
      // semantic dup of 11 (identical embedding, different text)
      (13L, "different words but the very same embedding vector", "s2", vec(11L)))
      .toDF("doc_id", "text", "source", "embedding")
    val bench = Seq((999L, "held out benchmark prompt", "s0"))
      .toDF("doc_id", "text", "source")
    val (out, report) = Curate.standard(ingest, bench,
      minQuality = 0.0, maxDup2gramFrac = 1.0,
      bandIndex = Some(idx),
      semanticVecCol = Some("embedding"), semanticThreshold = 0.9995,
      semanticNlist = 2)
    val names = report.stages.map(_._1)
    assert(names === Seq("near_novelty", "quality", "repetition",
      "exact_dedup", "near_dedup", "semantic_dedup", "decontaminate",
      "split"), names.toString)
    // the near-dup ingest row dropped BEFORE the quality gate
    assert(report.counts("near_novelty") === 3L, report.stages.toString)
    // the semantic dup collapsed to its min-id representative
    assert(report.counts("semantic_dedup") ===
      report.counts("near_dedup") - 1L, report.stages.toString)
    val counts = report.stages.map(_._2)
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      report.stages.toString)
    val keptIds = out.select("doc_id").collect().map(_.getLong(0)).toSet
    out.unpersist()
    assert(keptIds === Set(11L, 12L), keptIds.toString)
  }

  test("annLshTopKBatch rejects mismatched embedding widths") {
    val corpus = (1L to 5L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, Array.tabulate(4)(j => math.cos(j).toFloat)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      SimSearch.annLshTopKBatch(corpus, queries, "vec_id", "embedding", k = 3)
    }
    // the IVF searches reject the same width drift on the driver: an
    // unchecked probe pick would serve every query k null-score rows
    val ivf = SimSearch.ivfFit(corpus, "vec_id", "embedding", nlist = 2)
    val e = intercept[IllegalArgumentException] {
      SimSearch.ivfSearchBatch(ivf, queries, "vec_id", "embedding", topK = 3)
    }
    assert(e.getMessage.contains("vector dim 4 != index dim 8"), e.getMessage)
    val pq = SimSearch.ivfPqFit(corpus, "vec_id", "embedding", nlist = 2,
      m = 2, k = 2)
    intercept[IllegalArgumentException] {
      SimSearch.ivfPqSearchBatch(pq, queries, "vec_id", "embedding", topK = 3)
    }
    intercept[IllegalArgumentException] {
      SimSearch.ivfPqSearch(pq, Array.tabulate(4)(j => math.cos(j)), topK = 3)
    }
  }

  test("span masking removes exactly the covered positions, keeps novel text") {
    // kernel semantics: overlapping hot spans union their coverage;
    // docs shorter than n pass through normalized; full coverage -> ""
    val hot = Set("a b c", "c d e")
    assert(SpanDedup.maskSpans("x a b c d e y", 3, hot) === "x y")
    assert(SpanDedup.maskSpans("A  B c", 3, Set("a b c")) === "")
    assert(SpanDedup.maskSpans("a b", 3, hot) === "a b")
    assert(SpanDedup.maskSpans("no hot spans here at all", 3, hot) ===
      "no hot spans here at all")
    // end-to-end: the 5-gram shared by docs 1/2 masks out of BOTH,
    // their distinct tails survive, and the unrelated doc is untouched
    val corpus = Seq(
      (1L, "shared license header words here plus alpha unique tail"),
      (2L, "shared license header words here plus beta ending"),
      (3L, "completely novel document with no repeats"))
      .toDF("doc_id", "text")
    val masked = SpanDedup.maskRepeatedSpans(corpus, "doc_id", "text",
      n = 5, minDocFreq = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // "shared license header words here plus" = 6 shared words -> two
    // overlapping hot 5-grams covering positions 0..5 in both docs
    assert(masked(1L) === "alpha unique tail", masked.toString)
    assert(masked(2L) === "beta ending", masked.toString)
    assert(masked(3L) === "completely novel document with no repeats")
    // repeatedSpans reports the census with doc frequencies
    val spans = SpanDedup.repeatedSpans(corpus, "doc_id", "text", 5, 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(spans.keySet === Set("shared license header words here",
      "license header words here plus"), spans.toString)
    assert(spans.values.forall(_ === 2L))
    // docs SHORTER than n contribute no pseudo-gram to the census
    // (shingleSet emits the whole short text as one sub-n gram, which
    // a span census must ignore) and pass through masking unchanged
    val short = Seq((1L, "tiny dup text"), (2L, "tiny dup text"))
      .toDF("doc_id", "text")
    assert(SpanDedup.repeatedSpans(short, "doc_id", "text", 5, 2)
      .count() === 0L)
    val shortMasked = SpanDedup.maskRepeatedSpans(short, "doc_id", "text", 5, 2)
      .collect().map(_.getString(1))
    assert(shortMasked.forall(_ === "tiny dup text"))
  }

  test("span index fit/apply equals the distributed mask; streamed equals batch") {
    import org.apache.spark.sql.streaming.Trigger
    val c = Seq(
      (1L, "shared license header words here plus alpha unique tail"),
      (2L, "shared license header words here plus beta ending"),
      (3L, "completely novel document with no repeats"))
      .toDF("doc_id", "text")
    val idx = SpanDedup.fitSpanIndex(c, "doc_id", "text", n = 5, minDocFreq = 2)
    assert(idx.hot === Set("shared license header words here",
      "license header words here plus"))
    val viaIndex = SpanDedup.maskWithIndex(c, idx, "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaJoin = SpanDedup.maskRepeatedSpans(c, "doc_id", "text", 5, 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaIndex === viaJoin)
    // save/load round-trip masks identically
    val idxDir = java.nio.file.Files.createTempDirectory("spanidx").toString
    SpanDedup.saveSpanIndex(spark, idx, idxDir)
    val loaded = SpanDedup.loadSpanIndex(spark, idxDir)
    assert(loaded === idx)
    val viaLoaded = SpanDedup.maskWithIndex(c, loaded, "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaLoaded === viaIndex)
    // the index applies map-only on a stream (no state, no join)
    val d = java.nio.file.Files.createTempDirectory("spanmask").toString
    c.write.mode("overwrite").parquet(s"$d/in")
    val q = SpanDedup.streamMask(spark, s"$d/in", idx, "text")
      .select("doc_id", "text")
      .writeStream.format("memory").queryName("masked_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("masked_stream")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed === viaJoin)
    // a census bigger than maxSpans fails fast instead of OOMing the driver
    intercept[IllegalArgumentException] {
      SpanDedup.fitSpanIndex(c, "doc_id", "text", 5, 2, maxSpans = 1)
    }
  }

  test("aboveGroupQuantile keeps rows at or above each group's own quantile") {
    val df = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0),
      ("b", 4L, 10.0), ("b", 5L, 20.0)).toDF("g", "id", "s")
    // median(a) = 2.0 -> keep ids 2, 3; median(b) = 15.0 (interpolated
    // between the two values) -> keep only id 5
    val kept = Sample.aboveGroupQuantile(df, "g", "s", 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L, 5L), kept.toString)
    intercept[IllegalArgumentException] {
      Sample.aboveGroupQuantile(df, "g", "s", 1.5)
    }
    // NULL group rows gate against their own quantile, not vanish
    val withNull = Seq((Option("a"), 1L, 1.0), (Option("a"), 2L, 2.0),
      (None, 6L, 1.0), (None, 7L, 5.0)).toDF("g", "id", "s")
    val keptN = Sample.aboveGroupQuantile(withNull, "g", "s", 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptN === Set(2L, 7L), keptN.toString) // null-median = 3.0
  }

  test("corpus digest is order- and partition-independent, content-sensitive") {
    val df = Seq((1L, "alpha", "s"), (2L, "beta", "s"), (3L, "gamma", "t"))
      .toDF("id", "text", "src")
    def digestOf(d: org.apache.spark.sql.DataFrame) =
      Profile.corpusDigest(d, "src", Seq("id", "text"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDecimal(2).toString))).toMap
    val base = digestOf(df)
    // any reordering/repartitioning digests identically
    assert(digestOf(df.orderBy(desc("id")).repartition(7)) === base)
    // one changed byte changes the group digest, leaves others alone
    val tweaked = digestOf(Seq((1L, "alphA", "s"), (2L, "beta", "s"),
      (3L, "gamma", "t")).toDF("id", "text", "src"))
    assert(tweaked("t") === base("t"))
    assert(tweaked("s")._2 !== base("s")._2)
  }

  test("collocation PMI matches the hand-computed value") {
    // corpus "a b a b" + "a b c": uni a:3 b:3 c:1 (N=7);
    // bigrams (a,b):3 (b,a):1 (b,c):1 (N=5); minCount=2 keeps (a,b):
    // PMI = ln((3/5) / ((3/7)*(3/7))) = ln(49*3/15) ~ 1.184
    val pmi = TextStats.collocationPmi(
      Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text"),
      "text", minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3)))
    assert(pmi.toSeq === Seq(("a", "b", 3L, 1.184)), pmi.toSeq.toString)
  }

  test("exactKeepBest keeps the highest-scored copy, ties toward min id") {
    // group {1,2,5} share one normalized text; give 2 the best score.
    // 3 and 4 are singleton groups and survive regardless of score.
    val scored = docs.withColumn("score",
      org.apache.spark.sql.functions.when(col("doc_id") === 2L, 9.0)
        .otherwise(1.0))
    val kept = Dedup.exactKeepBest(scored, "doc_id", "text", "score")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(2L, 3L, 4L))
    // all-ties: falls back to exact()'s min-id winner
    val tied = Dedup.exactKeepBest(docs.withColumn("score", lit(1.0)),
      "doc_id", "text", "score")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(tied.toSeq === Seq(1L, 3L, 4L))
  }

  test("oovRate: tokens outside the top-V vocabulary, per doc") {
    // corpus counts: aa x4 (docs 1,2), bb x2 (docs 1,3), cc x1 (doc 3)
    // V=2 keeps {aa, bb}; cc is the only OOV token.
    val df = Seq((1L, "aa aa bb"), (2L, "aa aa"), (3L, "bb cc"))
      .toDF("id", "text")
    val out = TextStats.oovRate(df, "id", "text", vocabSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(out.toSeq === Seq((1L, 3L, 0.0), (2L, 2L, 0.0), (3L, 2L, 0.5)))
    // vocab cut tie-break: equal counts resolve toward the smaller word
    val tiedDf = Seq((1L, "xx yy")).toDF("id", "text")
    val t = TextStats.oovRate(tiedDf, "id", "text", vocabSize = 1)
      .collect().map(r => r.getDouble(2))
    assert(t.toSeq === Seq(0.5)) // xx kept, yy oov
  }

  test("importanceWeights: target-like docs score above corpus-like docs") {
    val df = Seq(
      (1L, "alpha alpha beta", true),   // target
      (2L, "alpha beta beta", true),    // target
      (3L, "alpha beta", false),        // target-vocab doc, not target
      (4L, "gamma gamma delta", false)  // disjoint from target vocab
    ).toDF("id", "text", "tgt")
    val out = TextStats.importanceWeights(df, "id", "text", col("tgt"))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    // docs of target-heavy vocabulary must outrank the disjoint doc
    assert(out(1L) > out(4L) && out(3L) > out(4L))
    // doc 3 shares all tokens with the target model, so its ratio is
    // positive; doc 4's tokens never occur in the target (ct=0) so its
    // per-word term ln(1)-ln(c+1) < 0 pulls it negative
    assert(out(3L) > 0.0 && out(4L) < 0.0)
  }

  test("overlapMatrix: exact jaccard per source pair, zero pairs included") {
    val df = Seq(
      ("s1", "aa bb cc"), ("s1", "bb dd"),   // s1 = {aa,bb,cc,dd}
      ("s2", "bb cc"),                        // s2 = {bb,cc}
      ("s3", "zz")                            // s3 = {zz}, disjoint
    ).toDF("src", "text")
    val out = Profile.overlapMatrix(df, "src", "text")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out.size === 3) // full upper triangle: (s1,s2) (s1,s3) (s2,s3)
    assert(out(("s1", "s2")) === ((4L, 2L, 2L, 0.5)))  // {bb,cc} / {aa,bb,cc,dd}
    assert(out(("s1", "s3")) === ((4L, 1L, 0L, 0.0)))
    assert(out(("s2", "s3")) === ((2L, 1L, 0L, 0.0)))
  }

  test("vocabCoverage: cumulative instance coverage at each cut, ties to smaller word") {
    // instances: aa x4, bb x2, cc x1 (total 7); rank aa, bb, cc
    val df = Seq((1L, "aa aa bb"), (2L, "aa aa"), (3L, "bb cc"))
      .toDF("id", "text")
    val out = TextStats.vocabCoverage(df, "text", Seq(1, 2, 3))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(out.toSeq === Seq(
      (1, 1L, math.rint(4.0 / 7 * 10000) / 10000),
      (2, 2L, math.rint(6.0 / 7 * 10000) / 10000),
      (3, 3L, 1.0)))
    // V beyond the distinct-word count saturates at full coverage
    val sat = TextStats.vocabCoverage(df, "text", Seq(100))
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(sat.toSeq === Seq((3L, 1.0)))
  }

  test("topKPerGroup: k best per group with deterministic ties, short groups whole") {
    val df = Seq(
      ("a", 1L, 5.0), ("a", 2L, 9.0), ("a", 3L, 9.0), ("a", 4L, 1.0),
      ("b", 5L, 2.0)  // group smaller than k survives whole
    ).toDF("g", "id", "s")
    val out = Sample.topKPerGroup(df, "g", "s", "id", k = 2)
      .collect().map(r => (r.getString(0), r.getInt(3), r.getLong(1)))
      .sortBy(t => (t._1, t._2))
    // ties at 9.0 resolve toward the smaller id: 2 then 3; 1 drops out
    assert(out.toSeq === Seq(("a", 1, 2L), ("a", 2, 3L), ("b", 1, 5L)))
  }

  test("standardizeWithinGroup: per-group z, zero-variance group scores 0") {
    val df = Seq(
      ("a", 1.0), ("a", 3.0),          // mu=2, sd_pop=1
      ("b", 5.0), ("b", 5.0)           // sd=0 -> z=0
    ).toDF("g", "x")
    val out = Sample.standardizeWithinGroup(df, "g", "x")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq === Seq(
      ("a", 1.0, -1.0), ("a", 3.0, 1.0), ("b", 5.0, 0.0), ("b", 5.0, 0.0)))
  }

  test("winsorizeWithinGroup: clips into the exact per-group percentile band") {
    // group a: 1..10 -> p10 = 1.9, p90 = 9.1 (linear interpolation);
    // group b: constant -> band is degenerate, values unchanged
    val df = ((1 to 10).map(i => ("a", i.toDouble)) ++
      Seq(("b", 5.0), ("b", 5.0))).toDF("g", "x")
    val out = Sample.winsorizeWithinGroup(df, "g", "x", 0.10, 0.90)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    val a = out.filter(_._1 == "a").map(_._3)
    assert(a.head === 1.9 && a.last === 9.1)     // tails clipped
    assert(a(4) === 5.0)                          // interior untouched
    assert(out.filter(_._1 == "b").forall(t => t._3 === 5.0))
    // reserved-name and bounds guards
    intercept[IllegalArgumentException] {
      Sample.winsorizeWithinGroup(df, "g", "x", 0.9, 0.1)
    }
    intercept[IllegalArgumentException] {
      Sample.winsorizeWithinGroup(
        df.withColumn("x_winsorized", $"x"), "g", "x", 0.1, 0.9)
    }
  }

  test("curate keepBestByQuality: the exact-dedup stage keeps the best copy") {
    // docs 1 and 2 normalize to the same text (whitespace squeeze) but
    // score differently on the ORIGINAL: doc 2's extra whitespace
    // dilutes its punctuation ratio, so its quality is strictly higher
    val raw = Seq(
      (1L, "the, quick brown fox jumps over the lazy dog", "s0"),
      (2L, "the,   quick   brown   fox   jumps   over   the   lazy   dog", "s0"),
      (3L, "completely different content about spark engines here", "s1"))
      .toDF("doc_id", "text", "source")
    val bench = Seq((999L, "benchmark text unrelated entirely", "s0"))
      .toDF("doc_id", "text", "source")
    // min-id policy keeps doc 1; keep-best must keep doc 2 instead
    val (outBest, _) = Curate.standard(raw, bench,
      minQuality = 0.0, maxDup2gramFrac = 1.0, keepBestByQuality = true)
    val bestIds = outBest.select("doc_id").collect().map(_.getLong(0)).toSet
    outBest.unpersist()
    val (outMin, _) = Curate.standard(raw, bench,
      minQuality = 0.0, maxDup2gramFrac = 1.0)
    val minIds = outMin.select("doc_id").collect().map(_.getLong(0)).toSet
    outMin.unpersist()
    assert(minIds === Set(1L, 3L))
    assert(bestIds === Set(2L, 3L))
    // the helper column must not leak into the output
    assert(!outBest.columns.contains("__curate_q"))
  }

  test("standardizeWithinGroup: NULL group rows come back annotated, not dropped") {
    val df = Seq(
      (Some("a"), 1.0), (Some("a"), 3.0),
      (None, 10.0), (None, 14.0)   // null group: mu=12, sd_pop=2
    ).toDF("g", "x")
    val out = Sample.standardizeWithinGroup(df, "g", "x")
      .collect().map(r => (Option(r.getString(0)), r.getDouble(1),
        r.getDouble(2))).sortBy(t => (t._1.getOrElse(""), t._2))
    assert(out.length === 4) // null-group rows survive the stats join
    assert(out.toSeq === Seq(
      (None, 10.0, -1.0), (None, 14.0, 1.0),
      (Some("a"), 1.0, -1.0), (Some("a"), 3.0, 1.0)))
  }

  test("percentileRankByBucket: prefix-sum form == window percent_rank on the bucket domain") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col => c, round => rnd, percent_rank}
    // ties within a group, a single-row group, a NULL group, and
    // scores that quantize together at scale=10 (0.11 and 0.14 -> 1)
    val df = Seq(
      (1L, Some("en"), Some(0.11)), (2L, Some("en"), Some(0.14)),
      (3L, Some("en"), Some(0.5)), (4L, Some("en"), Some(0.5)),
      (5L, Some("en"), Some(0.9)),
      (6L, Some("de"), Some(0.7)),                    // single-row group
      (7L, None, Some(0.2)), (8L, None, Some(0.8)),   // NULL group
      (9L, Some("fr"), None)                          // NULL score
    ).toDF("id", "g", "s")
    val got = Sample.percentileRankByBucket(df, "g", "s", "pct", scale = 10)
      .select("id", "pct").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .sortBy(_._1)
    // reference: the window form over the identical bucket domain
    val w = Window.partitionBy(c("g"))
      .orderBy(rnd(c("s") * 10, 0).cast("long"))
    val exp = df.where(c("s").isNotNull)
      .withColumn("pct", rnd(percent_rank().over(w), 6))
      .select("id", "pct").collect()
      .map(r => (r.getLong(0), Some(r.getDouble(1)))).sortBy(_._1)
    assert(got.filter(_._2.isDefined).toSeq === exp.toSeq)
    // NULL score calibrates to NULL explicitly
    assert(got.find(_._1 == 9L).get._2 === None)
    // spot values: en buckets 1,1,5,5,9 -> below counts 0,0,2,2,4 of n=5
    val en = got.filter(t => Seq(1L, 2L, 3L, 4L, 5L).contains(t._1)).map(_._2.get)
    assert(en.toSeq === Seq(0.0, 0.0, 0.5, 0.5, 1.0))
    assert(got.find(_._1 == 6L).get._2 === Some(0.0)) // single-row group
    // randomized equivalence: three seeded fixtures with heavy ties,
    // skewed groups, and negative scores — bucketed == window form
    val rng = new scala.util.Random(12021)
    (1 to 3).foreach { trial =>
      val rows = (1 to 200).map { i =>
        (i.toLong, s"g${rng.nextInt(3)}",
          (rng.nextInt(21) - 5) / 10.0) // -0.5..1.5, 21 buckets at scale 10
      }
      val rdf = rows.toDF("id", "g", "s")
      val g = Sample.percentileRankByBucket(rdf, "g", "s", "pct", 10)
        .select("id", "pct").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      val wref = Window.partitionBy(c("g"))
        .orderBy(rnd(c("s") * 10, 0).cast("long"))
      val e = rdf.withColumn("pct", rnd(percent_rank().over(wref), 6))
        .select("id", "pct").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      assert(g.toSeq === e.toSeq, s"trial $trial diverged")
    }
    // no corpus-keyed window in the plan: the only Window node runs
    // over the aggregated bucket frame (its child is an Aggregate)
    val plan = Sample.percentileRankByBucket(df, "g", "s", "pct", scale = 10)
      .queryExecution.optimizedPlan
    plan.foreach {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window =>
        assert(wn.collectFirst {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }.nonEmpty, "window must sit above the bucket-count aggregate")
      case _ => ()
    }
  }

  test("qualityScore kernel == legacy column chain on the fixture corpus and edge strings") {
    import org.apache.spark.sql.functions.{col => c}
    // full fixture corpus: every doc's 3-decimal score identical
    // through the one-pass kernel and the 4-pass HOF/regex chain
    // (incl. Spark's exact BigDecimal(double) round semantics — the
    // fixture is known to contain rounding-boundary docs)
    val fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaKernel = fixture.select(c("doc_id"),
      TextStats.qualityScore(c("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaHof = fixture.select(c("doc_id"),
      KernelOracles.qualityScoreHof(c("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaKernel === viaHof)
    assert(viaKernel.nonEmpty)
    // edge strings: null (the legacy chain's contractual 0.6), empty,
    // whitespace-only, punct-only, single stop token, ASCII-only \s
    // class (U+00A0 is NOT a separator), multi-byte tokens, İ (whose
    // lowercase gains a code point), tab/CR separators
    val edges = Seq(null, "", "   ", "!!!", "the", "x",
      "a b c", "naïve café — 字符 test", "İ İSTANBUL the",
      "tabs\tand\rreturns\nsplit here", "the quick brown fox " * 10)
    val df = edges.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val k = df.select(c("id"), TextStats.qualityScore(c("t")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val h = df.select(c("id"), KernelOracles.qualityScoreHof(c("t")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(k === h, s"kernel=$k hof=$h")
    assert(k(0L) === 0.6) // the pinned NULL contract
  }

  test("compressionRatio: repetition separates, null/empty -> null, deterministic, overhead documented") {
    import org.apache.spark.sql.functions.{col => c}
    val prose = "the quick brown fox jumps over the lazy dog while " +
      "seventeen distinct words argue about entropy and style guides " +
      "in a moderately natural english paragraph of ordinary variety"
    val df = Seq(
      (1L, Some(prose)),
      (2L, Some(("ab" * 600))),          // pure repetition
      (3L, Some((prose + " ") * 8)),     // repeated prose
      (4L, Some("")), (5L, None),        // no-opinion contract
      (6L, Some("hi"))                   // overhead > raw on tiny text
    ).toDF("id", "t")
    val got = df.select(c("id"), TextStats.compressionRatio(c("t")).as("r"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(4L) === None && got(5L) === None)
    assert(got(2L).get < 0.05, s"pure repetition: ${got(2L)}")
    assert(got(3L).get < got(1L).get,
      "repeated prose must compress below the single copy")
    assert(got(1L).get > 0.2 && got(1L).get < 1.0)
    assert(got(6L).get > 1.0, "stream overhead dominates tiny text")
    // deterministic run-to-run (fixed JDK zlib, fixed level)
    val again = df.select(TextStats.compressionRatio(c("t")).as("r"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(again.toSeq === df.select(TextStats.compressionRatio(c("t")))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq)
    // the ThreadLocal-pooled Deflater (reset() between rows) is
    // bit-identical to a FRESH Deflater per string — the reference
    // below allocates one per call, exactly the pre-pool form; run
    // the pooled kernel twice per input so a dirty-reset bug (state
    // leaking from the previous, different string) would surface
    def fresh(s: String): Double = {
      val raw = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val d = new java.util.zip.Deflater(6)
      try {
        d.setInput(raw); d.finish()
        val buf = new Array[Byte](8192)
        var n = 0
        while (!d.finished()) n += d.deflate(buf, 0, buf.length)
        BigDecimal(n.toDouble / raw.length)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      } finally d.end()
    }
    val inputs = Seq(prose, "ab" * 600, (prose + " ") * 8, "hi",
      "Ünïcødé — mixed 字符 input with emoji ✨ and digits 0123456789")
    for (s <- inputs; _ <- 1 to 2)
      assert(TextStats.compressionRatioScalar(s) === fresh(s),
        s"pooled ratio diverged from fresh-Deflater reference on: $s")
  }

  test("lsh banding planner: S-curve value, default recovery, minimality, loud infeasibility") {
    // the textbook S-curve point: b=20, r=5, s=0.5
    assert(math.abs(Dedup.lshCollisionProb(0.5, 20, 5)
      - 0.4700507153168765) < 1e-12)
    // the library default (12 hashes, 4x3) IS the planner's answer at
    // its design point — planner and default cannot drift apart
    val p = Dedup.planBands(0.7, 0.8, 0.2, 0.07)
    assert((p.numHashes, p.bands, p.rowsPerBand) === ((12, 4, 3)))
    assert(p.recallAtThreshold >= 0.8 && p.probAtLowSim <= 0.07)
    // minimality: no smaller hash budget satisfies both constraints
    for (n <- 1 until 12; r <- 1 to n; if n % r == 0) {
      val b = n / r
      assert(!(Dedup.lshCollisionProb(0.7, b, r) >= 0.8 &&
        Dedup.lshCollisionProb(0.2, b, r) <= 0.07),
        s"smaller plan ${b}x$r should not satisfy the design point")
    }
    // an impossible ask fails loudly and names the closest plan
    val e = intercept[IllegalArgumentException] {
      Dedup.planBands(0.5, 0.999, 0.45, 0.001, maxHashes = 16)
    }
    assert(e.getMessage.contains("closest"))
    // guards
    intercept[IllegalArgumentException] { Dedup.planBands(0.7, 0.9, 0.8) }
    intercept[IllegalArgumentException] { Dedup.lshCollisionProb(1.5, 4, 3) }
  }

  test("percentileRankWithinGroup: distinct ranks via tiebreak; ties differ from the bucket form by contract") {
    val df = Seq(
      (1L, "en", 0.2), (2L, "en", 0.5), (3L, "en", 0.5), (4L, "en", 0.9),
      (5L, "de", 0.7)
    ).toDF("id", "g", "s")
    val got = Sample.percentileRankWithinGroup(df, "g", "s", "id")
      .collect().map(r => (r.getLong(0), r.getDouble(3))).sortBy(_._1)
    // en: total order (0.2,1) (0.5,2) (0.5,3) (0.9,4) -> 0, 1/3, 2/3, 1
    assert(got.toSeq === Seq((1L, 0.0), (2L, round6(1.0 / 3)),
      (3L, round6(2.0 / 3)), (4L, 1.0), (5L, 0.0)))
    // the bucket form gives the TIED rows the shared tie-min rank —
    // the documented contract difference between the two calibrators
    val bucketed = Sample.percentileRankByBucket(df, "g", "s", "pct", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).sortBy(_._1)
    assert(bucketed.find(_._1 == 2L).get._2 ===
      bucketed.find(_._1 == 3L).get._2)
  }

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("groupQuantilesByBucket: disc quantiles from bucket counts; ties, nulls, single rows") {
    val df = Seq(
      (Some("a"), Some(0.1)), (Some("a"), Some(0.2)),
      (Some("a"), Some(0.3)), (Some("a"), Some(0.4)),
      (Some("b"), Some(0.5)), (Some("b"), Some(0.5)), (Some("b"), Some(0.9)),
      (Some("c"), None),                       // all-NULL group vanishes
      (None, Some(0.7))                        // NULL group is a group
    ).toDF("g", "s")
    val got = Sample.groupQuantilesByBucket(df, "g", "s",
      Seq(0.25, 0.5, 0.75, 0.95), scale = 10)
      .collect().map(r => (Option(r.getString(0)), r.getDouble(1),
        r.getDouble(2)))
      .sortBy(t => (t._1.getOrElse(""), t._2))
    // a: n=4, ranks ceil(1,2,3,3.8)=(1,2,3,4) -> 0.1,0.2,0.3,0.4
    assert(got.filter(_._1 === Some("a")).map(t => (t._2, t._3)).toSeq ===
      Seq((0.25, 0.1), (0.5, 0.2), (0.75, 0.3), (0.95, 0.4)))
    // b: ties share a bucket; n=3, ranks ceil(.75,1.5,2.25,2.85) =
    // (1,2,3,3) -> values 0.5, 0.5 (cum 2 >= 2), 0.9, 0.9
    assert(got.filter(_._1 === Some("b")).map(_._3).toSeq ===
      Seq(0.5, 0.5, 0.9, 0.9))
    // all-NULL group absent; NULL group present with its own quantiles
    assert(!got.exists(_._1 === Some("c")))
    assert(got.filter(_._1 === None).map(_._3).toSeq ===
      Seq(0.7, 0.7, 0.7, 0.7))
    // guards
    intercept[IllegalArgumentException] {
      Sample.groupQuantilesByBucket(df, "g", "s", Seq(0.0))
    }
    intercept[IllegalArgumentException] {
      Sample.groupQuantilesByBucket(df.withColumn("q", lit(1)), "g", "s")
    }
  }

  test("containmentScores: ratio per doc, clean docs present at zero") {
    // 1-grams: doc 1 {x,y}, doc 2 {y,z}, doc 3 {p,q}; reference = {y,z}
    val corpus = Seq((1L, "x y"), (2L, "y z"), (3L, "p q")).toDF("id", "text")
    val ref = Seq((9L, "y z")).toDF("id", "text")
    val out = Decontaminate.containmentScores(corpus, ref, "id", "text", n = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, 2L, 1L, 0.5), (2L, 2L, 2L, 1.0), (3L, 2L, 0L, 0.0)))
  }

  test("reserved temp-column names are rejected, not silently corrupted") {
    val withKey = docs.withColumn("__key", lit(1))
    intercept[IllegalArgumentException] {
      Dedup.exact(withKey, "doc_id", "text")
    }
    val ts = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("k", "ts", "v")
    intercept[IllegalArgumentException] {
      RangeJoin.pairsWithin(ts.withColumn("__bin", lit(0L)), ts, "k", "ts",
        windowMicros = 1000L)
    }
    intercept[IllegalArgumentException] {
      AsofJoin.asof(ts, ts.withColumn("__p", lit(0)), "k", "ts", "v", "out")
    }
  }

  test("extractJson: typed fields, null for malformed JSON and missing paths") {
    val payloads = Seq(
      (1L, """{"k": 87}"""),
      (2L, """{"k": 5, "u": 42}"""),
      (3L, """{"k"""),        // truncated — malformed
      (4L, null: String))
      .toDF("id", "props")
    val out = Semistructured.extractJson(payloads, "props", Seq(
        Semistructured.JsonField("k", "$.k", "bigint"),
        Semistructured.JsonField("u", "$.u", "bigint")))
      .select("id", "k", "u").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, Some(87L), None),
      (2L, Some(5L), Some(42L)),
      (3L, None, None),
      (4L, None, None)))
    // map-only: no shuffle anywhere in the extraction plan
    val plan = planOf(Semistructured.extractJson(payloads, "props",
      Seq(Semistructured.JsonField("k", "$.k", "bigint"))))
    assert(!plan.contains("Exchange"), plan)
    // output-name collision fails loudly
    intercept[IllegalArgumentException] {
      Semistructured.extractJson(payloads, "props",
        Seq(Semistructured.JsonField("id", "$.k", "bigint")))
    }
  }

  test("jsonKeyCensus: per-key presence, int shape, distinct values; corrupt rows drop") {
    val payloads = Seq(
      (1L, """{"k": 87, "s": "x"}"""),
      (2L, """{"k": 87}"""),
      (3L, """{"k": -1, "s": "y"}"""),
      (4L, """{"k"""),        // malformed: contributes nothing
      (5L, null: String))
      .toDF("id", "props")
    val out = Semistructured.jsonKeyCensus(payloads, "props")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(out.toSeq === Seq(
      ("k", 3L, 3L, 2L),   // 87, 87, -1 — all int-shaped, 2 distinct
      ("s", 2L, 0L, 2L)))  // "x", "y" — none int-shaped
  }

  test("assignByCluster: near-dup pairs never straddle a split; singletons keyed by id") {
    // pairs 1-2 and 2-3 chain into one component {1,2,3}; 4 and 5 solo
    val corpus = (1L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Splits.assignByCluster(corpus, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    val byId = out.map(t => t._1 -> t).toMap
    // whole component shares cluster id 1 AND the split assigned to it
    assert(Seq(1L, 2L, 3L).map(byId(_)._2).forall(_ == 1L))
    assert(Seq(1L, 2L, 3L).map(byId(_)._3).distinct.size === 1)
    // singletons cluster to themselves, split by their own id
    assert(byId(4L)._2 === 4L && byId(5L)._2 === 5L)
    // the certificate: zero leakage under the cluster-keyed assignment
    val assigned = Splits.assignByCluster(corpus, "doc_id", pairs)
    val leaks = pairs
      .join(assigned.select(col("doc_id").as("id_a"),
        col("split").as("split_a")), "id_a")
      .join(assigned.select(col("doc_id").as("id_b"),
        col("split").as("split_b")), "id_b")
      .where(col("split_a") =!= col("split_b"))
    assert(leaks.count() === 0)
    // collision guard
    intercept[IllegalArgumentException] {
      Splits.assignByCluster(corpus.withColumn("split", lit("x")),
        "doc_id", pairs)
    }
  }

  test("kmvDistinct: exact under k, estimate within bounds above k, layout-invariant") {
    // exact path: fewer distinct values than k → the sketch IS the set
    val small = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("a", 3L))
      .toDF("g", "v")
    val exact = Sketch.kmvDistinct(small, "g", "v", k = 8).collect()
    assert(exact.length === 1)
    assert(exact.head.getLong(1) === 3L)        // n_kept
    assert(exact.head.getDouble(2) === 3.0)     // est_distinct, exact
    // estimation path: 500 distinct values, k=32 → (k-1)/u_k within a
    // loose 2x band (KMV relative error ~ 1/sqrt(k-2) ≈ 18%)
    val big = (1L to 500L).map(i => ("a", i)).toDF("g", "v")
    val est = Sketch.kmvDistinct(big, "g", "v", k = 32).collect().head
    assert(est.getLong(1) === 32L)
    assert(est.getDouble(2) > 250.0 && est.getDouble(2) < 1000.0,
      est.getDouble(2))
    // layout invariance: same result bit-for-bit across partitionings
    val re = Sketch.kmvDistinct(big.repartition(7), "g", "v", k = 32)
      .collect().head
    assert(re.getDouble(2) === est.getDouble(2))
    // nulls ignored, matching count(DISTINCT)
    val withNull = Seq(("a", Some(1L)), ("a", None), ("a", Some(2L)))
      .toDF("g", "v")
    assert(Sketch.kmvDistinct(withNull, "g", "v", k = 8)
      .collect().head.getLong(1) === 2L)
    // scale contract: the rank-k prune runs as WindowGroupLimit (each
    // map task forwards at most k rows per group to the exchange)
    val plan = planOf(Sketch.kmvDistinct(big, "g", "v", k = 32))
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    // reserved-name guard rejects a GROUP column named after an output
    // (previously exempted — it then produced a duplicate/ambiguous
    // column downstream instead of a loud failure)
    intercept[IllegalArgumentException] {
      Sketch.kmvDistinct(small.withColumnRenamed("g", "n_kept"),
        "n_kept", "v", k = 8)
    }
  }

  test("ledger: snapshot(A ∪ B) == merge(snapshot(A), snapshot(B)); report arithmetic") {
    import org.apache.spark.sql.functions.{col => c}
    val docs = ((1L to 40L).map(i => (i, "s1", s"text number ${i % 10}")) ++
      (41L to 50L).map(i => (i, "s2", s"unique text $i here")))
      .toDF("doc_id", "source", "text")
    val whole = Ledger.snapshot(docs, "source", "text", k = 8)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getSeq[Double](3)))).toMap
    val merged = Ledger.merge(
      Ledger.snapshot(docs.where(c("doc_id") % 2 === 0), "source", "text", 8),
      Ledger.snapshot(docs.where(c("doc_id") % 2 === 1), "source", "text", 8),
      "source", 8)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getSeq[Double](3)))).toMap
    assert(merged === whole)
    // report: s1 has 10 distinct texts over 40 rows -> dup_ratio 4.0
    // (k=8 < 10 -> estimation path; use exact k=16 for the hand value)
    val rep = Ledger.report(
      Ledger.snapshot(docs, "source", "text", k = 16), "source", k = 16)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(3), r.getDouble(4)))).toMap
    assert(rep("s1") === ((40L, 10.0, 4.0)))
    assert(rep("s2") === ((10L, 10.0, 1.0)))
  }

  test("c4 line filter: terminal punct, word floor, markers, reassembly, empty/null safe") {
    import org.apache.spark.sql.functions.{col => c}
    val docs = Seq(
      (1L, "A real sentence here.\nHome | About\nAnother good line!\nPlease enable JavaScript now.\nOk."),
      (2L, "no terminal punctuation at all\nstill none"),
      (3L, ""),
      (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val got = Lines.c4LineFilter(docs, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_lines_kept"), r.getAs[Long]("n_lines_dropped"),
          r.getAs[String]("clean_text")))).toMap
    // doc 1: kept = the two real sentences; dropped = nav stub (no
    // terminal punct), javascript marker line, "Ok." (< 3 words)
    assert(got(1L) === ((2L, 3L,
      "A real sentence here.\nAnother good line!")))
    assert(got(2L) === ((0L, 2L, "")))
    assert(got(3L) === ((0L, 0L, "")))
    assert(got(4L) === ((0L, 0L, "")))
  }

  test("confusable skeleton: homoglyph dups collapse, byte dedup can't see them") {
    import org.apache.spark.sql.functions.{col => c}
    val docs = Seq(
      (1L, "paypal secure login"),
      (2L, "pаypаl secure login"),   // Cyrillic а twice
      (3L, "ｐａｙｐａｌ secure login"), // fullwidth — wait: 'ｐ' maps? p is in fullwidthLetters ✓
      (4L, "different text entirely"))
      .toDF("doc_id", "text")
    // byte-exact dedup sees four distinct texts
    assert(Dedup.exact(docs, "doc_id", "text").count() === 4)
    // the skeleton collapses 1/2/3 to the min id
    val kept = Confusables.dropConfusableDuplicates(docs, "doc_id", "text")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 4L))
    // folded-char telemetry counts exactly the touched positions
    val folded = docs.select(c("doc_id"),
      Confusables.foldedCharCount(c("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(folded === Map(1L -> 0, 2L -> 2, 3L -> 6, 4L -> 0))
  }

  test("psi drift: hand-computed day pair, absent category smoothed not torn") {
    import org.apache.spark.sql.functions.{col => c}
    def ts(day: Int, i: Int) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(day * 86400L + i))
    // day0: a,a,a,b — day1: a,b,b,b; C=2 → psi = (2/3)·ln2 = 0.462098
    val ev = (Seq.fill(3)("a") ++ Seq("b")).zipWithIndex.map {
      case (t, i) => (ts(0, i), t) } ++
      (Seq("a") ++ Seq.fill(3)("b")).zipWithIndex.map {
        case (t, i) => (ts(1, i), t) }
    val df = ev.toDF("ts", "cat")
    val got = TimeSeries.psiByPeriod(df, "ts", "cat")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 4L, 0.462098)))
    // a category absent one day contributes its smoothed floor — psi
    // stays finite, no hole in the sum
    val gap = Seq((ts(0, 0), "a"), (ts(0, 1), "a"),
      (ts(1, 0), "b")).toDF("ts", "cat")
    val g = TimeSeries.psiByPeriod(gap, "ts", "cat").collect()
    assert(g.length === 1)
    assert(!g.head.isNullAt(2) && !g.head.getDouble(2).isNaN)
    assert(g.head.getDouble(2) > 0.0)
    // loud guard on a non-categorical column
    val wide = (1 to 50).map(i => (ts(0, i), s"u$i")).toDF("ts", "cat")
    intercept[IllegalArgumentException] {
      TimeSeries.psiByPeriod(wide, "ts", "cat", maxCategories = 10)
    }
  }

  test("hard negatives: same-label and null-label excluded, near-dup capped, floor applied") {
    import org.apache.spark.sql.functions.{col => c}
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val rows = Seq(
      (1L, v(1, 0, 0, 0), "en"),        // the query
      (10L, v(0.99, 0.1, 0, 0), "en"),  // same label: excluded
      (11L, v(0.9, 0.3, 0, 0), "fr"),   // hard negative
      (12L, v(1, 0, 0, 0), "fr"),       // cosine 1.0 > maxSim: capped
      (13L, v(0.8, 0.2, 0, 0), "de"),   // hard negative
      (14L, v(-1, 0, 0, 0), "fr"),      // cosine -1 < minSim: floored
      (15L, v(0.95, 0.05, 0, 0), null.asInstanceOf[String])) // unlabeled
      .toDF("id", "vec", "lang")
    val got = SimSearch.hardNegatives(
      rows.where(c("id") >= 10), rows.where(c("id") < 10),
      "id", "vec", "lang", m = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._2).toSet === Set(11L, 13L),
      s"got ${got.mkString(",")}")
    // ranked by cosine desc: 11 (0.9487) above 13 (0.9701)? recompute:
    // cos(q,11)=0.9/sqrt(0.9^2+0.3^2)=0.9487; cos(q,13)=0.8/sqrt(0.68)=0.9701
    assert(got.head._2 === 13L)
    // m truncates
    val one = SimSearch.hardNegatives(
      rows.where(c("id") >= 10), rows.where(c("id") < 10),
      "id", "vec", "lang", m = 1)
      .collect()
    assert(one.length === 1 && one.head.getLong(1) === 13L)
  }

  test("epoch plan: budget split, cap binds, fractional materialization is deterministic") {
    import org.apache.spark.sql.functions.{col => c}
    val avail = Map("a" -> 1000L, "b" -> 1000L)
    // budget 3000 at 2:1 → targets 2000/1000 → exactly 2.0 / 1.0 epochs
    val p = Sample.epochPlan(avail, Map("a" -> 2.0, "b" -> 1.0), 3000L)
    assert(p("a") === Sample.EpochSpec(2, 0.0))
    assert(p("b") === Sample.EpochSpec(1, 0.0))
    // an infeasible budget caps visibly instead of renormalizing
    val pc = Sample.epochPlan(avail, Map("a" -> 2.0, "b" -> 1.0), 30000L)
    assert(pc("a") === Sample.EpochSpec(4, 0.0))
    intercept[IllegalArgumentException] {
      Sample.epochPlan(avail, Map("missing" -> 1.0), 100L)
    }
    // materialization: full copies + deterministic fractional extras,
    // 1-based epoch index, zero-copy sources dropped (not [1,0] rows —
    // the descending-sequence trap)
    val df = ((1L to 100L).map(i => (i, "a")) ++
      (101L to 200L).map(i => (i, "b"))).toDF("id", "source")
    val plan = Map("a" -> Sample.EpochSpec(2, 0.5),
      "b" -> Sample.EpochSpec(0, 0.0))
    val mat = Sample.materializeEpochs(df, "source", "id", plan)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(!mat.exists(_._2 == "b"))
    assert(!mat.exists(_._3 == 0))
    val aRows = mat.filter(_._2 == "a")
    val extras = aRows.count(_._3 == 3)
    assert(aRows.length === 200 + extras)
    assert(extras > 20 && extras < 80, s"frac 0.5 kept $extras of 100")
    // every id appears in epochs 1..copies contiguously
    aRows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq === (1 to rs.length).toSeq)
    }
    // layout invariance
    val re = Sample.materializeEpochs(df.repartition(7), "source", "id", plan)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(re.toSet === mat.toSet)
    // collision guard
    intercept[IllegalArgumentException] {
      Sample.materializeEpochs(df.withColumn("epoch",
        org.apache.spark.sql.functions.lit(1)), "source", "id", plan)
    }
  }

  test("gopher rules: hand-checked flags per rule, zero-token fail contract") {
    import org.apache.spark.sql.functions.{col => c}
    val good = "the quick brown fox jumps over and over with great energy " +
      "that nobody can have or be close to of late" // 21 words, stops, alpha
    val docs = Seq(
      (1L, good),
      (2L, "• one\n• two\n• three"), // all bullet lines, few words
      (3L, good + "\nwait for it..."), // one of two lines ends ...
      (4L, "#### " + good), // symbol ratio pushed up
      (5L, "   "),
      (6L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val got = GopherRules.qualityFlags(docs, "id", "text", minWords = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getBoolean(8) === true)
    assert(got(1L).getLong(1) === 21L)
    assert(got(1L).getLong(7) >= 2L) // stop words present
    // doc 2: bullet_line_frac = 1.0 > 0.9 → fail
    assert(got(2L).getDouble(4) === 1.0)
    assert(got(2L).getBoolean(8) === false)
    // doc 3: ellipsis_line_frac = 0.5 > 0.3 → fail, and the '...' also
    // counts into the symbol ratio numerator
    assert(got(3L).getDouble(5) === 0.5)
    assert(got(3L).getBoolean(8) === false)
    // doc 4: 4 hashes + 22 words → ratio > 0.1 → fail
    assert(got(4L).getDouble(3) > 0.1)
    assert(got(4L).getBoolean(8) === false)
    // blank/null docs: zero words, ratios NULL, pass false (not null)
    Seq(5L, 6L).foreach { id =>
      assert(got(id).getLong(1) === 0L)
      assert(got(id).isNullAt(2))
      assert(got(id).getBoolean(8) === false)
    }
  }

  test("htmlToText: subtrees vanish, tags separate, entities decode, double-escape correct") {
    import org.apache.spark.sql.functions.{col => c}
    val cases = Seq(
      (1L, "<p>hello <b>world</b></p>", "hello world"),
      // script/style CONTENT must vanish, not just the tags
      (2L, "<script>var a = '<p>sneaky</p>';</script>text<style>p{}</style>", "text"),
      (3L, "a<!-- hidden <b>x</b> -->b", "a b"),
      // entities, incl. the double-escape: &amp;lt; is literal "&lt;"
      (4L, "x &amp; y &lt;z&gt; &quot;&#39; &amp;lt;", "x & y <z> \"' &lt;"),
      // tags become separators: adjacent cells don't fuse
      (5L, "<td>one</td><td>two</td>", "one two"),
      (6L, "<SCRIPT SRC=\"x.js\">ignored</SCRIPT>kept", "kept"),
      (7L, "", ""))
      .toDF("id", "html", "expected")
    val got = cases.select(c("id"), Web.htmlToText(c("html")).as("t"),
      c("expected")).collect()
    got.foreach(r => assert(r.getString(1) === r.getString(2),
      s"case ${r.getLong(0)}"))
  }

  test("url host + apex domain: credentials/ports stripped, multi-part suffixes, relative -> null") {
    import org.apache.spark.sql.functions.{col => c}
    val cases = Seq(
      ("https://www.example.com/p?q=1", "www.example.com", "example.com"),
      ("http://u:p@deep.sub.host.co.uk:8080/x", "deep.sub.host.co.uk", "host.co.uk"),
      ("https://example.com", "example.com", "example.com"),
      ("ftp://localhost/file", "localhost", "localhost"),
      ("HTTPS://MiXeD.CaSe.ORG/Z", "mixed.case.org", "case.org"),
      // protocol-relative URLs (crawled src/href attributes) carry an
      // authority — they must parse, not fall to the relative bucket
      ("//cdn.example.com/lib.js", "cdn.example.com", "example.com"),
      ("//u@plain.org:443/x", "plain.org", "plain.org"),
      ("/relative/path", null, null),
      ("not a url", null, null))
      .toDF("url", "eh", "ea")
    val got = cases.select(Web.host(c("url")).as("h"), c("eh"), c("ea"))
      .withColumn("a", Web.apexDomain(c("h")))
      .collect()
    got.foreach { r =>
      assert(Option(r.getString(0)) === Option(r.getString(1)), r.toString)
      assert(Option(r.getString(3)) === Option(r.getString(2)), r.toString)
    }
  }

  test("withApexDomain: broadcast-joined form == column form; user table extends") {
    import org.apache.spark.sql.functions.{col => c}
    val hosts = Seq("www.example.com", "deep.sub.host.co.uk", "example.com",
      "localhost", "a.b.web.zz", "x.web.zz", null)
      .zipWithIndex.map { case (h, i) => (i.toLong, h) }.toDF("i", "host")
    // default table: the two forms agree row for row
    val joined = Web.withApexDomain(hosts, "host", "apex")
      .orderBy("i").collect().map(r => Option(r.getString(2)))
    val column = hosts.select(c("i"), Web.apexDomain(c("host")).as("apex"))
      .orderBy("i").collect().map(r => Option(r.getString(1)))
    assert(joined.toSeq === column.toSeq)
    // extended table: web.zz becomes a multi-part suffix in both forms
    val ext = Web.DefaultMultiPartSuffixes :+ "web.zz"
    val je = Web.withApexDomain(hosts, "host", "apex", ext)
      .orderBy("i").collect().map(r => Option(r.getString(2)))
    val ce = hosts.select(c("i"),
      Web.apexDomain(c("host"), ext).as("apex"))
      .orderBy("i").collect().map(r => Option(r.getString(1)))
    assert(je.toSeq === ce.toSeq)
    assert(je(4) === Some("b.web.zz")) // three labels kept
    assert(je(5) === Some("x.web.zz")) // two labels pass through
    // reserved working-column names are rejected loudly
    intercept[IllegalArgumentException] {
      Web.withApexDomain(hosts.withColumn("__graft_psl",
        org.apache.spark.sql.functions.lit(1)), "host", "apex")
    }
  }

  test("misra-gries heavy hitters: exact vs full groupBy, layout-invariant, null-safe") {
    import org.apache.spark.sql.functions.{col => c}
    // zipf-ish stream: "a" 50, "b" 30, "c" 12, 20 singletons → n=112
    val values = Seq.fill(50)("a") ++ Seq.fill(30)("b") ++
      Seq.fill(12)("c") ++ (1 to 20).map(i => s"x$i") ++
      Seq(null.asInstanceOf[String])
    val df = values.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("i", "v")
    val got = Frequent.heavyHitters(df, "v", phi = 0.1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // > 11.2 occurrences: a (50), b (30), c (12); nulls excluded from n
    assert(got.toSeq === Seq(("a", 50L), ("b", 30L), ("c", 12L)))
    // exact == the full groupBy/having it replaces
    val full = df.where(c("v").isNotNull).groupBy("v")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .where(c("n") > 0.1 * 112).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(-_._2)
    assert(got.toSeq === full.toSeq)
    // layout invariance: partial MG buffers merge to a candidate
    // SUPERSET regardless of partitioning, so the exact pass agrees
    val re = Frequent.heavyHitters(df.repartition(13), "v", phi = 0.1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(re.toSeq === got.toSeq)
    // a phi no value reaches → empty, not an error
    assert(Frequent.heavyHitters(df, "v", phi = 0.6).count() === 0)
    intercept[IllegalArgumentException] {
      Frequent.heavyHitters(df, "v", phi = 1.0)
    }
  }

  test("unigram reference model: bounded deterministic fit, hand-checked scoring, null contract") {
    val ref = Seq((1L, "a a b c"), (2L, "a b")).toDF("id", "text")
    val m = TextStats.fitUnigramRef(ref, "text", vocabSize = 2)
    // counts a->3 b->2 c->1; top-2 by (count desc, word asc) = a, b;
    // total = 5 kept instances, vocab = 2 + 1 OOV bucket
    assert(m.counts === Map("a" -> 3L, "b" -> 2L))
    assert(m.total === 5L)
    assert(m.vocab === 3L)
    val docs = Seq((1L, "a c"), (2L, "   "), (3L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val got = TextStats.unigramRefScore(docs, "text", m, "s")
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    // p(a) = (3+1)/(5+3), p(c OOV) = (0+1)/(5+3); mean of -ln, half-up e3
    val expected = math.floor(
      (-math.log(4.0 / 8) - math.log(1.0 / 8)) / 2 * 1000 + 0.5) / 1000
    assert(got(1L) === Some(expected))
    // tokenless and null docs: NULL score (the gate's no-opinion case)
    assert(got(2L) === None)
    assert(got(3L) === None)
    intercept[IllegalArgumentException] {
      TextStats.fitUnigramRef(ref, "text", vocabSize = 0)
    }
  }

  test("benchmark gram set: cleanFlag keeps exactly decontaminate's survivors; fit guard fires") {
    import org.apache.spark.sql.functions.{col => c}
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // shares a 5-gram
      (2L, "totally different words over here indeed"),
      (3L, "tiny")) // whole-text pseudo-gram, shared
      .toDF("doc_id", "text")
    val bench = Seq(
      (9L, "beta gamma delta epsilon zeta eta"),
      (8L, "tiny")).toDF("doc_id", "text")
    val bg = Decontaminate.fitBenchGrams(bench, "text", 5)
    val viaFlag = Decontaminate.cleanFlag(corpus, "text", bg, "ok")
      .where(c("ok")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val viaJoin = Decontaminate.decontaminate(corpus, bench, "doc_id", "text", 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaFlag === Set(2L))
    assert(viaFlag === viaJoin)
    // a "benchmark" too big for the driver fails loudly
    intercept[IllegalArgumentException] {
      Decontaminate.fitBenchGrams(bench, "text", 5, maxGrams = 1)
    }
  }

  test("kmv UDAF == window form bit-identically; rollup total == whole-corpus state") {
    import org.apache.spark.sql.functions.{coalesce => co, col => c, lit, size => sz}
    val k = 16
    val df = ((1L to 300L).map(i => ("a", Some(i))) ++
      (1L to 10L).map(i => ("b", Some(i))) ++
      Seq(("a", None: Option[Long]))) // null value: ignored by both forms
      .toDF("g", "v")
    val viaUdaf = df.groupBy("g")
      .agg(KmvAggregator.kmvStateAgg(c("v"), k).as("kmv"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val viaWindow = Sketch.kmvState(df, "g", "v", k)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(viaUdaf === viaWindow) // exact doubles, both groups
    // layout invariance: partial buffers merge to the same state
    val re = df.repartition(7).groupBy("g")
      .agg(KmvAggregator.kmvStateAgg(c("v"), k).as("kmv"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(re === viaUdaf)
    // rollup composes: the total row equals sketching the whole frame
    // under one group — the merge of every per-group buffer
    val roll = df.rollup("g")
      .agg(KmvAggregator.kmvStateAgg(c("v"), k).as("kmv"))
      .select(co(c("g"), lit("ALL")).as("g"), c("kmv"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val whole = Sketch.kmvState(df.withColumn("g", lit("ALL")), "g", "v", k)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(roll("ALL") === whole("ALL"))
    assert(roll("a") === viaUdaf("a") && roll("b") === viaUdaf("b"))
    // estimate contract rides estimateFrom unchanged: exact under k
    val est = df.groupBy("g")
      .agg(KmvAggregator.kmvStateAgg(c("v"), k).as("kmv"))
      .select(c("g"), sz(c("kmv")).as("n"),
        Sketch.estimateFrom(c("kmv"), k).as("e"))
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(est("b") === ((10, 10.0)))
    assert(est("a")._1 === k)
  }

  test("kmv state merge is exact: merged overlapping halves == whole-corpus sketch") {
    val df = ((1L to 300L).map(i => ("a", i)) ++ (1L to 10L).map(i => ("b", i)))
      .toDF("g", "v")
    // overlapping halves: values 100-200 live in BOTH states — the
    // merge must dedupe them (set union), not double-count
    val h1 = df.where(col("v") <= 200L)
    val h2 = df.where(col("v") >= 100L)
    val merged = Sketch.kmvMergeStates(
      Sketch.kmvState(h1, "g", "v", 16),
      Sketch.kmvState(h2, "g", "v", 16), "g", 16)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val whole = Sketch.kmvState(df, "g", "v", 16)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(merged === whole)
    assert(merged("a").size === 16)
    assert(merged("b").size === 10) // under k: the state IS the set
    // estimateFrom agrees with kmvDistinct's est_distinct column
    val viaState = Sketch.kmvState(df, "g", "v", 16)
      .select(col("g"), Sketch.estimateFrom(col("kmv"), 16).as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val direct = Sketch.kmvDistinct(df, "g", "v", 16)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(viaState === direct)
    assert(viaState("b") === 10.0)
  }

  test("transcripts: ordered assembly, truncation, null items skipped but counted") {
    // shuffled input order must not matter: order is (ord, id)
    val ev = Seq(
      ("u1", 3L, 30L, "c"), ("u1", 1L, 10L, "a"), ("u1", 2L, 20L, "b"),
      ("u2", 1L, 10L, "x"), ("u2", 2L, 20L, null: String),
      ("u2", 3L, 30L, "z"))
      .toDF("u", "ord", "id", "item")
    val two = Assemble.transcripts(ev, "u", Seq("ord", "id"), "item",
      maxItems = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2),
        r.getString(3))).sortBy(_._1)
    assert(two.toSeq === Seq(
      ("u1", 3L, true, "a>b"),
      ("u2", 3L, true, "x")))   // null item ranks 2nd but is skipped
    val all = Assemble.transcripts(ev, "u", Seq("ord", "id"), "item",
      maxItems = 10)
      .collect().map(r => (r.getString(0), r.getBoolean(2), r.getString(3)))
      .sortBy(_._1)
    assert(all.toSeq === Seq(
      ("u1", false, "a>b>c"), ("u2", false, "x>z")))
    // layout invariance: repartitioned input assembles identically
    val re = Assemble.transcripts(ev.repartition(5), "u", Seq("ord", "id"),
      "item", maxItems = 2)
      .collect().map(r => (r.getString(0), r.getString(3))).sortBy(_._1)
    assert(re.toSeq === two.map(t => (t._1, t._4)).toSeq)
    // scale contract: the rank prune runs as WindowGroupLimit
    val plan = planOf(Assemble.transcripts(ev, "u", Seq("ord", "id"),
      "item", maxItems = 2))
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    // collision guard
    intercept[IllegalArgumentException] {
      Assemble.transcripts(ev.withColumn("transcript", lit("x")), "u",
        Seq("ord"), "item", maxItems = 2)
    }
  }

  test("transcripts: a NULL group key is assembled, not silently dropped") {
    val ev = Seq(
      (null: String, 1L, 10L, "a"), (null: String, 2L, 20L, "b"),
      ("u1", 1L, 10L, "x"))
      .toDF("u", "ord", "id", "item")
    val got = Assemble.transcripts(ev, "u", Seq("ord", "id"), "item",
      maxItems = 10)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getString(3))).sortBy(_._1)
    // the null-keyed group comes back as one assembled row (null-safe
    // join), with the same count/transcript contract as any group
    assert(got.toSeq === Seq(
      (None, 2L, "a>b"), (Some("u1"), 1L, "x")))
  }
}
