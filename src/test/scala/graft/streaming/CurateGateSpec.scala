package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkTestSession
import graft.ops.{Curate, Decontaminate, Novelty, TextStats}

/** The streaming ingest gate ([[graft.ops.Curate.streamingGate]]) is
  * the SAME transformation for batch and streaming inputs; this spec
  * closes the loop by actually running it as a file-source stream
  * (availableNow, append mode, no watermark, no state) with every fit
  * artifact active — static historical corpus (stream-static
  * anti-join), band index (broadcast Bloom probe), unigram reference
  * model, exact benchmark gram set — and asserting the admitted id
  * set equals the batch run over the same files. */
class CurateGateSpec extends AnyFunSuite with SparkTestSession {

  test("streamed ingest gate (availableNow) equals the batch gate, all artifacts active") {
    val src = java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet")
    val d = java.nio.file.Files.createTempDirectory("graft-gate-stream")
    java.nio.file.Files.copy(src, d.resolve(src.getFileName))
    val dir = d.toString

    val docs = spark.read.parquet(dir)
    val hist = docs.filter(col("doc_id") % 5 === 0)
    val bench = docs.filter(col("doc_id") % 101 === 0)
    val model = TextStats.fitUnigramRef(hist, "text", 4096)
    val grams = Decontaminate.fitBenchGrams(bench, "text", 5)
    val idx = Novelty.fitBandIndex(hist, "text", fpp = 1e-6)

    def gate(df: org.apache.spark.sql.DataFrame) =
      Curate.streamingGate(df,
        minQuality = 0.3, maxDup2gramFrac = 0.3,
        historicalCorpus = Some(hist), bandIndex = Some(idx),
        unigramRef = Some((model, 9.0)), benchGrams = Some(grams))

    val batch = gate(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(batch.nonEmpty, "fixture admits no documents — gate too tight")
    // the gate actually gates: the historical docs at least are
    // dropped by the exact-novelty stage
    assert(batch.size < docs.count())

    val streamedDf = gate(
      spark.readStream.schema(docs.schema).parquet(dir))
    assert(streamedDf.isStreaming)
    val q = EventStreams.runOnce(spark, streamedDf, "curate_gate_stream",
      OutputMode.Append())
    q.awaitTermination(120000)
    val streamed = spark.table("curate_gate_stream").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(streamed === batch)
  }

  test("streaming tail (foreachBatch): 3 micro-batches == 1 batch == Curate.standard prefix; replay idempotent") {
    import org.apache.spark.sql.{DataFrame, SaveMode}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "source", "text")
    val hist = docs.filter(col("doc_id") % 5 === 0)
    val input = docs.filter(col("doc_id") % 5 =!= 0)
    val bench = docs.filter(col("doc_id") % 101 === 0)
    val grams = Decontaminate.fitBenchGrams(bench, "text", 5)
    val maxId = input.agg(max("doc_id")).head().getLong(0)
    val cut1 = maxId / 3
    val cut2 = 2 * maxId / 3
    val batches = Seq(
      input.where(col("doc_id") <= cut1),
      input.where(col("doc_id") > cut1 && col("doc_id") <= cut2),
      input.where(col("doc_id") > cut2))

    def admitted(outDir: String): Set[Long] =
      spark.read.parquet(outDir).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    def tail(outDir: String) = Curate.streamingTail(spark, outDir,
      minQuality = 0.3, maxDup2gramFrac = 0.3,
      historicalCorpus = Some(hist), benchGrams = Some(grams))

    // streamed: three id-ordered micro-batches through the tail
    val d3 = java.nio.file.Files.createTempDirectory("graft-tail-3").toString
    val fn3 = tail(d3)
    batches.zipWithIndex.foreach { case (b, i) => fn3(b, i.toLong) }
    val streamed = admitted(d3)
    assert(streamed.nonEmpty)

    // one-batch run: same tail, all rows in micro-batch 0
    val d1 = java.nio.file.Files.createTempDirectory("graft-tail-1").toString
    tail(d1)(input, 0L)
    val oneBatch = admitted(d1)
    assert(streamed === oneBatch)

    // Curate.standard's equivalent stage prefix (novelty + quality +
    // repetition gates, exact dedup, near dedup, decontaminate; no LM
    // stage, no semantic stage) — the batch pipeline the stream chases.
    // standard decontaminates AFTER dedup where the gate runs it
    // BEFORE; both remove the same text-determined rows, so the id
    // sets agree (pinned here, on real data).
    val (out, _) = Curate.standard(input, bench,
      historicalCorpus = Some(hist))
    val std = out.select("doc_id").collect().map(_.getLong(0)).toSet
    out.unpersist()
    assert(streamed === std)

    // replay the LAST micro-batch (the only batch a foreachBatch
    // retry re-runs): its partition is recomputed against the earlier
    // partitions only and dynamically overwritten — admitted set
    // unchanged
    fn3(batches(2), 2L)
    assert(admitted(d3) === streamed)

    // plumbing: the tail actually runs as a foreachBatch sink
    val srcDir = java.nio.file.Files.createTempDirectory("graft-tail-src")
    batches.zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$srcDir/f$i.parquet")
      // file order drives batch order: pin strictly increasing mtimes
      java.nio.file.Files.walk(srcDir.resolve(s"f$i.parquet")).forEach(p =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L)))
    }
    val dS = java.nio.file.Files.createTempDirectory("graft-tail-s").toString
    val q = spark.readStream.schema(input.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*.parquet")
      .writeStream
      .foreachBatch(tail(dS))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-tail-ckpt").toString)
      .start()
    q.awaitTermination(180000)
    assert(admitted(dS) === streamed)
  }

  test("streaming tail durable state: cross-batch dedup never re-reads the admitted corpus") {
    import spark.implicits._
    val proseA = "the quick brown fox jumps over the lazy dog and then " +
      "discusses the merits of deterministic testing with a friend"
    val proseB = "seventeen sailors navigate uncharted waters while " +
      "charting constellations nobody has catalogued before tonight"
    val proseC = "a completely different essay concerning the economics " +
      "of medieval grain markets and their seasonal price cycles"
    val b0 = Seq((1L, "s", proseA), (2L, "s", proseB))
      .toDF("doc_id", "source", "text")
    // 11 = exact dup of doc 1 (key-frame path); 13 = NEAR dup of doc 1
    // (postings+shingles path: 3 appended words, J = 18/21 ≈ 0.86);
    // 12 = novel
    val b1 = Seq((11L, "s", proseA),
      (13L, "s", proseA + " indeed quite thoroughly"),
      (12L, "s", proseC)).toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-state-a")
      .toString
    val t = Curate.streamingTail(spark, dir,
      minQuality = 0.0, maxDup2gramFrac = 1.0)
    t(b0, 0L)
    // the three state frames landed beside outDir, batch-partitioned,
    // and the key frame's ids equal the admitted ids
    val sd = dir + "__state"
    val keys0 = spark.read.parquet(s"$sd/keys")
    assert(keys0.columns.toSet === Set("__id", "__nk", "__batch_id"))
    assert(keys0.select("__id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L))
    assert(spark.read.parquet(s"$sd/postings").select("__id")
      .distinct().collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // DELETE the admitted corpus data: only the narrow state remains.
    // If batch 1 still drops the exact AND near dups of doc 1, the
    // per-batch plan provably never read outDir's text
    val p0 = java.nio.file.Paths.get(dir, "__batch_id=0")
    java.nio.file.Files.walk(p0)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    t(b1, 1L)
    val admitted1 = spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(admitted1 === Set(12L),
      s"state-frame dedup broken after corpus deletion: $admitted1")
    // state accrued batch 1's admitted row
    assert(spark.read.parquet(s"$sd/keys").select("__id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 12L))
  }

  test("streaming tail: every job a batch runs carries its streamingTail[b=N] phase") {
    import spark.implicits._
    val proseA = "the quick brown fox jumps over the lazy dog and then " +
      "discusses the merits of deterministic testing with a friend"
    val proseB = "seventeen sailors navigate uncharted waters while " +
      "charting constellations nobody has catalogued before tonight"
    val proseC = "a completely different essay concerning the economics " +
      "of medieval grain markets and their seasonal price cycles"
    def vec(k: Int) = Array.tabulate(8)(i => if (i == k) 1.0f else 0.0f)
    // b1: 11 exact dup of 1, 13 near dup of 1, 14 a semantic dup of 2;
    // b2: 21 exact dup of 12, 22 near dup of 2
    val batches = Seq(
      Seq((1L, proseA, vec(0)), (2L, proseB, vec(1))),
      Seq((11L, proseA, vec(2)), (13L, proseA + " indeed quite thoroughly", vec(3)),
        (12L, proseC, vec(4)), (14L, "an unrelated short note on tea", vec(1))),
      Seq((21L, proseC, vec(5)), (22L, proseB + " again", vec(6))))
      .map(_.map { case (id, t, v) => (id, "s", t, v) }
        .toDF("doc_id", "source", "text", "vec"))
    val dir = java.nio.file.Files.createTempDirectory("graft-phases").toString
    val t = Curate.streamingTail(spark, dir, minQuality = 0.0,
      maxDup2gramFrac = 1.0, vecCol = Some("vec"))
    val label = """streamingTail\[b=(\d+)\] (\S+)""".r
    val phases = Set("perceptual", "exact", "near-pairs", "near-closure",
      "semantic", "land-output", "state-write")
    batches.zipWithIndex.foreach { case (b, i) =>
      val all = jobDescriptionsDuring { t(b, i.toLong) }
      val stray = all.filterNot {
        case label(n, phase) => n == i.toString && phases(phase)
        case _ => false
      }
      assert(stray.isEmpty, s"batch $i: jobs without a phase: $stray")
      assert(all.exists(_ == s"streamingTail[b=$i] exact"),
        s"batch $i ran no exact-phase job: $all")
    }
    // the caller's own description survives the tail
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
    assert(spark.read.parquet(dir).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 12L))
  }

  test("streaming tail: a batch admitting nothing writes no state and breaks nothing") {
    import spark.implicits._
    val proseA = "the quick brown fox jumps over the lazy dog and then " +
      "discusses the merits of deterministic testing with a friend"
    val proseB = "seventeen sailors navigate uncharted waters while " +
      "charting constellations nobody has catalogued before tonight"
    val b0 = Seq((1L, "s", proseA), (2L, "s", proseB))
      .toDF("doc_id", "source", "text")
    val b1 = Seq((11L, "s", proseA), (12L, "s", proseB))
      .toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-b")
      .toString
    // batch 0 is FULLY rejected (the historical-corpus gate is the
    // batch itself): no outDir partition, no state partitions — the
    // state read-back must not throw on the missing/file-less paths
    Curate.streamingTail(spark, dir, minQuality = 0.0,
      maxDup2gramFrac = 1.0, historicalCorpus = Some(b0))(b0, 0L)
    val sd = dir + "__state"
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(sd, "keys", "__batch_id=0")))
    // batch 1 (no gate) proceeds from the empty state: both docs admit
    // — a REJECTED doc's text is not corpus state (first-arrival
    // semantics count only admissions)
    Curate.streamingTail(spark, dir, minQuality = 0.0,
      maxDup2gramFrac = 1.0)(b1, 1L)
    assert(spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(11L, 12L))
    assert(spark.read.parquet(s"$sd/keys").select("__id")
      .collect().map(_.getLong(0)).toSet === Set(11L, 12L))
  }

  test("streaming tail bootstrap: a pre-state admitted corpus rebuilds the state once") {
    import spark.implicits._
    val proseA = "the quick brown fox jumps over the lazy dog and then " +
      "discusses the merits of deterministic testing with a friend"
    val proseB = "seventeen sailors navigate uncharted waters while " +
      "charting constellations nobody has catalogued before tonight"
    val proseC = "a completely different essay concerning the economics " +
      "of medieval grain markets and their seasonal price cycles"
    val b0 = Seq((1L, "s", proseA), (2L, "s", proseB))
      .toDF("doc_id", "source", "text")
    val b1 = Seq((11L, "s", proseA),
      (13L, "s", proseA + " indeed quite thoroughly"),
      (12L, "s", proseC)).toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-boot-a")
      .toString
    val sd = dir + "__state"
    val t = Curate.streamingTail(spark, dir,
      minQuality = 0.0, maxDup2gramFrac = 1.0)
    t(b0, 0L)
    // simulate a corpus admitted by a build without state frames
    val sdp = java.nio.file.Paths.get(sd)
    java.nio.file.Files.walk(sdp)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    t(b1, 1L)
    val admitted = spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(admitted === Set(1L, 2L, 12L),
      s"bootstrap-path dedup broken: $admitted")
    // the rebuilt key state covers BOTH batches, in their partitions
    val keys = spark.read.parquet(s"$sd/keys")
    assert(keys.select("__id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 12L))
    assert(keys.select("__batch_id").distinct()
      .collect().map(_.getInt(0)).toSet === Set(0, 1))
  }

  test("streaming tail: a destroyed state frame fails loudly instead of silently disabling near dedup") {
    import spark.implicits._
    val proseA = "the quick brown fox jumps over the lazy dog and then " +
      "discusses the merits of deterministic testing with a friend"
    val b0 = Seq((1L, "s", proseA)).toDF("doc_id", "source", "text")
    val b1 = Seq((11L, "s", proseA + " indeed quite thoroughly"))
      .toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-destroyed")
      .toString
    val sd = dir + "__state"
    val t = Curate.streamingTail(spark, dir, minQuality = 0.0,
      maxDup2gramFrac = 1.0)
    t(b0, 0L)
    // destroy ONLY the postings frame (keys survive): an empty
    // fallback here would admit near-dups of the whole corpus forever
    java.nio.file.Files.walk(java.nio.file.Paths.get(sd, "postings"))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    val e = intercept[IllegalStateException] { t(b1, 1L) }
    assert(e.getMessage.contains("state is corrupt"), e.getMessage)
  }

  test("streaming tail compaction: batches + compact + batches == one batch; " +
      "replay-safe; text-free; stale partitions healed") {
    import spark.implicits._
    val proseA = "the quick brown fox jumps over the lazy dog and then " +
      "discusses the merits of deterministic testing with a friend"
    val proseB = "seventeen sailors navigate uncharted waters while " +
      "charting constellations nobody has catalogued before tonight"
    val proseC = "a completely different essay concerning the economics " +
      "of medieval grain markets and their seasonal price cycles"
    val proseD = "yet another unrelated passage describing volcanic rock " +
      "formations observed along the northern coastline during spring"
    val b0 = Seq((1L, "s", proseA), (2L, "s", proseB))
      .toDF("doc_id", "source", "text")
    val b1 = Seq((11L, "s", proseC)).toDF("doc_id", "source", "text")
    // 21 exact-dup of 1; 22 NEAR dup of 1; 24 NEAR dup of 11 — all of
    // their witnesses live BELOW the compaction boundary; 23 novel
    val b2 = Seq((21L, "s", proseA),
      (22L, "s", proseA + " indeed quite thoroughly"),
      (23L, "s", proseD),
      (24L, "s", proseC + " indeed")
    ).toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-a")
      .toString
    val sd = dir + "__state"
    val t = Curate.streamingTail(spark, dir,
      minQuality = 0.0, maxDup2gramFrac = 1.0)
    t(b0, 0L); t(b1, 1L)
    // fold batches 0..1 into the bucketed base (clean-shutdown shape)
    assert(Curate.compactState(spark, sd, buckets = 4,
      compactAll = true) === Some(1L))
    assert(java.nio.file.Files.exists(paths(sd, "_compaction.meta")))
    assert(java.nio.file.Files.exists(paths(sd, "keys_base_v1")))
    // the folded partitions are gone from every frame
    for (f <- Seq("keys", "shingles", "postings"); b <- Seq(0, 1))
      assert(!java.nio.file.Files.exists(
        paths(sd, f, s"__batch_id=$b")), s"$f __batch_id=$b survived")
    // DELETE the admitted corpus text: if batch 2 still drops the
    // exact and near dups, the compacted state (not outDir) is
    // provably the dedup witness
    for (b <- Seq(0, 1)) {
      val p = paths(dir, s"__batch_id=$b")
      java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.delete(q))
    }
    t(b2, 2L)
    assert(spark.read.parquet(dir).select("doc_id")
      .where(col("doc_id") > 20).collect().map(_.getLong(0)).toSet
      === Set(23L), "cross-boundary dedup through the compacted base broken")
    // replay of the live batch stays idempotent across the boundary
    t(b2, 2L)
    assert(spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(23L))
    // one-batch equivalence (ids arrive in order, chains intact)
    val d1 = java.nio.file.Files.createTempDirectory("graft-compact-1")
      .toString
    Curate.streamingTail(spark, d1, minQuality = 0.0,
      maxDup2gramFrac = 1.0)(
      b0.unionByName(b1).unionByName(b2), 0L)
    assert(spark.read.parquet(d1).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 11L, 23L))
    // CRASH-WINDOW HEAL: plant a stale partition at/below the fold
    // boundary (as an interrupted post-commit cleanup would leave).
    // Reads must ignore it — its rows are already in the base — and
    // the next compaction must delete it.
    Seq((999L, Array[Byte](1, 2, 3))).toDF("__id", "__nk")
      .write.parquet(s"$sd/keys/__batch_id=0")
    val b3 = Seq((31L, "s", proseB + " indeed"))
      .toDF("doc_id", "source", "text")
    t(b3, 3L) // near-dup of doc 2 via the base; stale id 999 ignored
    assert(spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(23L))
    assert(Curate.compactState(spark, sd, buckets = 4,
      compactAll = true) === Some(2L))
    assert(!java.nio.file.Files.exists(
      paths(sd, "keys", "__batch_id=0")), "stale partition not healed")
  }

  test("streaming tail compactEvery: auto-fold, catalog re-registration, " +
      "Exchange-free base anti-join, params marker") {
    import spark.implicits._
    val proseA = "the quick brown fox jumps over the lazy dog and then " +
      "discusses the merits of deterministic testing with a friend"
    val proseB = "seventeen sailors navigate uncharted waters while " +
      "charting constellations nobody has catalogued before tonight"
    val proseC = "a completely different essay concerning the economics " +
      "of medieval grain markets and their seasonal price cycles"
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-b")
      .toString
    val sd = dir + "__state"
    def tail = Curate.streamingTail(spark, dir, minQuality = 0.0,
      maxDup2gramFrac = 1.0, compactEvery = Some(2))
    tail(Seq((1L, "s", proseA), (2L, "s", proseB))
      .toDF("doc_id", "source", "text"), 0L)
    tail(Seq((11L, "s", proseC)).toDF("doc_id", "source", "text"), 1L)
    // two uncompacted partitions at batch 2's start -> auto-fold 0..1
    tail(Seq((21L, "s", proseC)).toDF("doc_id", "source", "text"), 2L)
    val meta = paths(sd, "_compaction.meta")
    assert(java.nio.file.Files.exists(meta), "auto-compaction did not run")
    val manifest = java.nio.file.Files.readString(meta)
    assert(manifest.contains("upTo=1"), manifest)
    assert(spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 11L),
      "exact dup of a folded doc admitted")
    // SIMULATE A JVM RESTART: the in-memory catalog loses the base
    // tables; the manifest's stored DDL re-registers them on read
    "\\w+\\.table=(\\S+)".r.findAllMatchIn(manifest)
      .map(_.group(1)).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    tail(Seq((31L, "s", proseA)).toDF("doc_id", "source", "text"), 3L)
    assert(spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 11L),
      "dedup lost after catalog loss despite the durable manifest")
    // PLAN SHAPE: the base side of the exact-novelty anti-join is
    // Exchange-free — the bucketed scan satisfies the join's
    // distribution, only the O(batch) probe side shuffles (forced SMJ:
    // broadcast off)
    val keysTable = "keys\\.table=(\\S+)".r
      .findFirstMatchIn(manifest).get.group(1)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = Seq((99L, "s", proseA)).toDF("doc_id", "source", "text")
      val plan = graft.ops.Novelty.exactNovelVsKeys(
        probe, spark.table(keysTable), "text")
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert("Exchange".r.findAllMatchIn(plan).size === 1,
        s"expected exactly one Exchange (the probe side):\n${plan.take(3000)}")
      assert(plan.contains("Bucketed: true"), plan.take(3000))
      // the base is also WRITTEN one-file-per-bucket and sorted, but
      // Spark 3+ only trusts bucketed sort order under the legacy
      // listing conf (planning-time file listing) — so the default
      // plan re-sorts the base per task (cheap, partition-local),
      // while enabling the conf eliminates that Sort too. Pin both.
      val sortRe = """(?<!Merge)Sort \[""".r
      assert(sortRe.findAllMatchIn(plan).size === 2, plan.take(3000))
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      try {
        val planSorted = graft.ops.Novelty.exactNovelVsKeys(
          probe, spark.table(keysTable), "text")
          .queryExecution.executedPlan.toString
        assert(sortRe.findAllMatchIn(planSorted).size === 1,
          s"expected the base-side Sort eliminated:\n${planSorted.take(3000)}")
        assert("Exchange".r.findAllMatchIn(planSorted).size === 1)
      } finally spark.conf.unset(
        "spark.sql.legacy.bucketedTableScan.outputOrdering")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    // PARAMS MARKER: a state computed under different banding (a
    // marker written with numHashes=24) fails loudly
    plantStateParams(dir, "shingleSize=3\nnumHashes=24\nbands=4\n" +
      "percsigs=false\nsemvecs=false\nsembits=8")
    val e = intercept[IllegalStateException] {
      Curate.streamingTail(spark, dir, minQuality = 0.0,
        maxDup2gramFrac = 1.0)(
        Seq((41L, "s", proseB)).toDF("doc_id", "source", "text"), 4L)
    }
    assert(e.getMessage.contains("was computed under"), e.getMessage)
  }

  private def paths(parts: String*) =
    java.nio.file.Paths.get(parts.head, parts.tail: _*)

  /** Overwrites the `_state_params` marker of the state beside
    * `outDir` — a state written by a build with other parameters.
    * Written through the Hadoop FS so its checksum stays consistent. */
  private def plantStateParams(outDir: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"${outDir}__state/_state_params")
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  test("output folding: committed corpus partitions fold into one base; " +
      "replay-safe; crash window heals") {
    import spark.implicits._
    val proseA = "the quick brown fox jumps over the lazy dog and then " +
      "discusses the merits of deterministic testing with a friend"
    val proseB = "seventeen sailors navigate uncharted waters while " +
      "charting constellations nobody has catalogued before tonight"
    val proseC = "a completely different essay concerning the economics " +
      "of medieval grain markets and their seasonal price cycles"
    val proseD = "yet another unrelated passage describing volcanic rock " +
      "formations observed along the northern coastline during spring"
    val dir = java.nio.file.Files.createTempDirectory("graft-outfold")
      .toString
    val t = Curate.streamingTail(spark, dir,
      minQuality = 0.0, maxDup2gramFrac = 1.0)
    t(Seq((1L, "s", proseA), (2L, "s", proseB))
      .toDF("doc_id", "source", "text"), 0L)
    t(Seq((11L, "s", proseC)).toDF("doc_id", "source", "text"), 1L)
    t(Seq((21L, "s", proseD)).toDF("doc_id", "source", "text"), 2L)
    def admitted() = spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    def parts() = new java.io.File(dir).list()
      .filter(_.startsWith("__batch_id=")).sorted.toSeq
    assert(admitted() === Set(1L, 2L, 11L, 21L))
    // default keeps the highest live partition (a retry must be able
    // to overwrite it); batches 0..1 fold into base -2
    assert(Curate.compactOutput(spark, dir, numFiles = 2) === Some(-2L))
    assert(parts() === Seq("__batch_id=-2", "__batch_id=2"))
    assert(admitted() === Set(1L, 2L, 11L, 21L))
    // the replayable batch still overwrites its own partition cleanly
    t(Seq((21L, "s", proseD)).toDF("doc_id", "source", "text"), 2L)
    assert(admitted() === Set(1L, 2L, 11L, 21L))
    // next fold takes the old base AND batch 2 -> one base partition
    assert(Curate.compactOutput(spark, dir, numFiles = 2,
      compactAll = true) === Some(-3L))
    assert(parts() === Seq("__batch_id=-3"))
    assert(admitted() === Set(1L, 2L, 11L, 21L))
    // dedup against the folded corpus still works (state is intact;
    // batch 3 near-dups doc 1 and exactly-dups doc 11)
    t(Seq((31L, "s", proseA + " indeed"), (32L, "s", proseC))
      .toDF("doc_id", "source", "text"), 3L)
    assert(admitted() === Set(1L, 2L, 11L, 21L))
    // CRASH WINDOW: plant a duplicate source partition + a marker (as
    // a fold interrupted between rename and source deletes would
    // leave); the heal must delete the listed source, not the base
    spark.read.parquet(s"$dir/__batch_id=-3")
      .write.parquet(s"$dir/__batch_id=9")
    java.nio.file.Files.writeString(paths(dir, "_outfold.meta"),
      "base=-3\nsources=9")
    assert(admitted().size < spark.read.parquet(dir).count(),
      "fixture: the dup window must actually duplicate rows")
    assert(Curate.compactOutput(spark, dir) === None) // heal, nothing to fold
    // batch 3 admitted nothing (all dups) so it wrote no partition —
    // after the heal only the base remains
    assert(parts() === Seq("__batch_id=-3"))
    assert(admitted() === Set(1L, 2L, 11L, 21L))
  }

  test("tiered folds: minor folds rewrite only new batches; the major fold " +
      "merges; dedup holds at every step") {
    import spark.implicits._
    val proseA = "the quick brown fox jumps over the lazy dog and then " +
      "discusses the merits of deterministic testing with a friend"
    val proseB = "seventeen sailors navigate uncharted waters while " +
      "charting constellations nobody has catalogued before tonight"
    val proseC = "a completely different essay concerning the economics " +
      "of medieval grain markets and their seasonal price cycles"
    val proseD = "yet another unrelated passage describing volcanic rock " +
      "formations observed along the northern coastline during spring"
    val dir = java.nio.file.Files.createTempDirectory("graft-tiered")
      .toString
    val sd = dir + "__state"
    val t = Curate.streamingTail(spark, dir,
      minQuality = 0.0, maxDup2gramFrac = 1.0)
    def keyBaseDirs() = new java.io.File(sd).list()
      .filter(_.startsWith("keys_base_v")).sorted.toSeq
    // fold 1 (minor): tier v0
    t(Seq((1L, "s", proseA)).toDF("doc_id", "source", "text"), 0L)
    assert(Curate.compactState(spark, sd, buckets = 4, compactAll = true,
      maxBases = 2) === Some(0L))
    assert(keyBaseDirs() === Seq("keys_base_v0"))
    // fold 2 (minor): tier v1 ADDED — tier v0's files untouched (the
    // whole point: a minor fold never rewrites older tiers)
    val v0File = java.nio.file.Files.walk(paths(sd, "keys_base_v0"))
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get
    val v0Mtime = java.nio.file.Files.getLastModifiedTime(v0File)
    t(Seq((11L, "s", proseB)).toDF("doc_id", "source", "text"), 1L)
    assert(Curate.compactState(spark, sd, buckets = 4, compactAll = true,
      maxBases = 2) === Some(1L))
    assert(keyBaseDirs() === Seq("keys_base_v0", "keys_base_v1"))
    assert(java.nio.file.Files.getLastModifiedTime(v0File) === v0Mtime,
      "a minor fold rewrote an older tier")
    // dedup reads chain over BOTH tiers: exact dup of the v0 doc and
    // near dup of the v1 doc both drop
    t(Seq((21L, "s", proseA), (22L, "s", proseB + " indeed"),
      (23L, "s", proseC)).toDF("doc_id", "source", "text"), 2L)
    assert(spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 11L, 23L))
    // fold 3: 2 tiers + 1 would exceed maxBases=2 -> MAJOR merge
    assert(Curate.compactState(spark, sd, buckets = 4, compactAll = true,
      maxBases = 2) === Some(2L))
    assert(keyBaseDirs() === Seq("keys_base_v2"))
    val manifest = java.nio.file.Files.readString(
      paths(sd, "_compaction.meta"))
    assert(manifest.contains("tiers=1"), manifest)
    // dedup through the merged tier still covers every folded doc
    t(Seq((31L, "s", proseC), (32L, "s", proseD))
      .toDF("doc_id", "source", "text"), 3L)
    assert(spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 11L, 23L, 32L),
      "dedup lost a folded doc after the major merge")
  }

  test("compactState: a bucket-count change across folds re-bases cleanly") {
    import spark.implicits._
    val proseA = "the quick brown fox jumps over the lazy dog and then " +
      "discusses the merits of deterministic testing with a friend"
    val proseB = "seventeen sailors navigate uncharted waters while " +
      "charting constellations nobody has catalogued before tonight"
    val proseC = "a completely different essay concerning the economics " +
      "of medieval grain markets and their seasonal price cycles"
    val dir = java.nio.file.Files.createTempDirectory("graft-rebucket")
      .toString
    val sd = dir + "__state"
    val t = Curate.streamingTail(spark, dir,
      minQuality = 0.0, maxDup2gramFrac = 1.0)
    t(Seq((1L, "s", proseA)).toDF("doc_id", "source", "text"), 0L)
    assert(Curate.compactState(spark, sd, buckets = 4,
      compactAll = true) === Some(0L))
    t(Seq((11L, "s", proseB)).toDF("doc_id", "source", "text"), 1L)
    // the re-fold reads the 4-bucket base through ITS manifest entry
    // and writes the new base at 8 buckets — the manifest's bucket
    // count travels with the version, nothing is pinned globally
    assert(Curate.compactState(spark, sd, buckets = 8,
      compactAll = true) === Some(1L))
    val manifest = java.nio.file.Files.readString(
      paths(sd, "_compaction.meta"))
    assert(manifest.contains("buckets=8"), manifest)
    // dedup through the re-bucketed base: exact dup of doc 1 (folded
    // at 4 buckets, re-based at 8) and near dup of doc 11 both drop
    t(Seq((21L, "s", proseA), (22L, "s", proseB + " indeed"),
      (23L, "s", proseC)).toDF("doc_id", "source", "text"), 2L)
    assert(spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 11L, 23L),
      "dedup broke across a bucket-count change")
  }

  test("bootstrap from a FOLDED corpus: state rebuilds across base partitions") {
    import spark.implicits._
    val proseA = "the quick brown fox jumps over the lazy dog and then " +
      "discusses the merits of deterministic testing with a friend"
    val proseB = "seventeen sailors navigate uncharted waters while " +
      "charting constellations nobody has catalogued before tonight"
    val proseC = "a completely different essay concerning the economics " +
      "of medieval grain markets and their seasonal price cycles"
    val dir = java.nio.file.Files.createTempDirectory("graft-fold-boot")
      .toString
    val sd = dir + "__state"
    val t = Curate.streamingTail(spark, dir,
      minQuality = 0.0, maxDup2gramFrac = 1.0)
    t(Seq((1L, "s", proseA), (2L, "s", proseB))
      .toDF("doc_id", "source", "text"), 0L)
    t(Seq((11L, "s", proseC)).toDF("doc_id", "source", "text"), 1L)
    assert(Curate.compactOutput(spark, dir, numFiles = 1,
      compactAll = true) === Some(-2L))
    // an older-build corpus: folded output, NO state
    java.nio.file.Files.walk(java.nio.file.Paths.get(sd))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    // batch 2: bootstrap must rebuild the state from the BASE
    // partition (negative id) and then dedup against it — 21 is an
    // exact dup of folded doc 1, 22 a near dup of folded doc 11
    t(Seq((21L, "s", proseA),
      (22L, "s", proseC + " indeed")).toDF("doc_id", "source", "text"), 2L)
    assert(spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 11L),
      "bootstrap across a folded corpus broke cross-batch dedup")
    // the rebuilt keys cover the folded docs, carried in the base's
    // own partition id
    val keys = spark.read.parquet(s"$sd/keys")
    assert(keys.select("__id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 11L))
    assert(keys.select("__batch_id").distinct()
      .collect().map(_.getInt(0)).toSet === Set(-2))
  }

  test("streaming tail compactOutputEvery: auto-fold inside foreachBatch") {
    import spark.implicits._
    val proseA = "the quick brown fox jumps over the lazy dog and then " +
      "discusses the merits of deterministic testing with a friend"
    val proseB = "seventeen sailors navigate uncharted waters while " +
      "charting constellations nobody has catalogued before tonight"
    val proseC = "a completely different essay concerning the economics " +
      "of medieval grain markets and their seasonal price cycles"
    val dir = java.nio.file.Files.createTempDirectory("graft-outfold-auto")
      .toString
    val t = Curate.streamingTail(spark, dir, minQuality = 0.0,
      maxDup2gramFrac = 1.0, compactOutputEvery = Some(2))
    t(Seq((1L, "s", proseA)).toDF("doc_id", "source", "text"), 0L)
    t(Seq((11L, "s", proseB)).toDF("doc_id", "source", "text"), 1L)
    // batch 2 start: two committed output partitions -> auto-fold
    t(Seq((21L, "s", proseC)).toDF("doc_id", "source", "text"), 2L)
    val parts = new java.io.File(dir).list()
      .filter(_.startsWith("__batch_id=")).sorted.toSeq
    assert(parts === Seq("__batch_id=-2", "__batch_id=2"), parts)
    assert(spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 11L, 21L))
    // cross-batch dedup unaffected by the fold
    t(Seq((31L, "s", proseA)).toDF("doc_id", "source", "text"), 3L)
    assert(spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 11L, 21L))
  }

  // --- blobCol (durable perceptual-dedup state) fixtures: the image
  // helpers live in a static object (CurateBlobFixtures) so the udf
  // closure below never captures the (non-serializable) suite ---
  import CurateBlobFixtures.{ppm, png, bmp}
  private def rmTree(p: java.nio.file.Path): Unit =
    java.nio.file.Files.walk(p)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(q => java.nio.file.Files.delete(q))

  test("streaming tail blobCol: 3 micro-batches == 1 batch == Curate.standard; " +
      "percsigs durable; replay idempotent") {
    // real documents + a synthetic P6 blob keyed doc_id % 23 (docs
    // sharing a key carry byte-identical payloads); texts made UNIQUE
    // (uid suffix) and near-dedup passthrough (threshold > 1) so the
    // only dedup in play is the perceptual stage — the streamed ≡
    // batch ≡ standard equivalence is then exact, with no
    // chain-straddles-a-dropped-middle epsilon from the text stages
    val gen = udf((id: Long) => CurateBlobFixtures.ppm((id % 23).toInt))
    val input = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"),
        concat(col("text"), lit(" uid"), col("doc_id")).as("text"))
      .withColumn("blob", gen(col("doc_id")))
    val maxId = input.agg(max("doc_id")).head().getLong(0)
    val batches = Seq(
      input.where(col("doc_id") <= maxId / 3),
      input.where(col("doc_id") > maxId / 3 && col("doc_id") <= 2 * maxId / 3),
      input.where(col("doc_id") > 2 * maxId / 3))
    def tail(outDir: String) = Curate.streamingTail(spark, outDir,
      threshold = 1.01, blobCol = Some("blob"), blobMaxHamming = 0)
    def admitted(outDir: String): Set[Long] =
      spark.read.parquet(outDir).select("doc_id")
        .collect().map(_.getLong(0)).toSet

    val d3 = java.nio.file.Files.createTempDirectory("graft-blob-3").toString
    val fn3 = tail(d3)
    batches.zipWithIndex.foreach { case (b, i) => fn3(b, i.toLong) }
    val streamed = admitted(d3)
    assert(streamed.nonEmpty)
    // the perceptual stage actually dropped cross-batch dups
    assert(streamed.size < input.count())

    val d1 = java.nio.file.Files.createTempDirectory("graft-blob-1").toString
    tail(d1)(input, 0L)
    assert(admitted(d1) === streamed)

    val (out, report) = Curate.standard(input, input.limit(0),
      nearDupThreshold = 1.01, blobCol = Some("blob"), blobMaxHamming = 0)
    val std = out.select("doc_id").collect().map(_.getLong(0)).toSet
    out.unpersist()
    assert(streamed === std)
    assert(report.counts("perceptual_dedup") === std.size)

    // the percsigs state is durable, batch-partitioned, and covers
    // exactly the admitted rows (every P6 payload decodes)
    val sigs = spark.read.parquet(s"${d3}__state/percsigs")
    assert(sigs.columns.toSet ===
      Set("__id", "modality", "sig", "__batch_id"))
    assert(sigs.select("__id").collect().map(_.getLong(0)).toSet === streamed)

    // replaying the LAST micro-batch is idempotent (its partition is
    // recomputed against the earlier state only)
    fn3(batches(2), 2L)
    assert(admitted(d3) === streamed)
    assert(spark.read.parquet(s"${d3}__state/percsigs").select("__id")
      .collect().map(_.getLong(0)).toSet === streamed)
  }

  test("streaming tail blobCol: percsigs migration, corpus-deletion survival, marker guard") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-blob-mig")
      .toString
    val sd = dir + "__state"
    def doc(id: Long, blob: Array[Byte]) =
      (id, "s", s"completely unique prose number $id", blob)
    // batch 0 runs WITHOUT blobCol (the frame still carries the blob
    // column, as a corpus admitted by a blob-less config would)
    Curate.streamingTail(spark, dir, minQuality = 0.0,
      maxDup2gramFrac = 1.0, threshold = 1.01)(
      Seq(doc(1L, ppm(0)), doc(2L, ppm(1)))
        .toDF("doc_id", "source", "text", "blob"), 0L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(sd, "percsigs")))
    // UPGRADE: the first blobCol batch rebuilds percsigs from outDir
    // (one decode pass) and flips the marker — the cross-codec dup of
    // doc 1 must die through the MIGRATED state
    def bt = Curate.streamingTail(spark, dir, minQuality = 0.0,
      maxDup2gramFrac = 1.0, threshold = 1.01,
      blobCol = Some("blob"), blobMaxHamming = 0)
    bt(Seq(doc(11L, png(0)), doc(12L, ppm(7)))
      .toDF("doc_id", "source", "text", "blob"), 1L)
    def admittedIds = spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(admittedIds === Set(1L, 2L, 12L),
      s"migrated percsigs state did not drop the cross-codec dup: $admittedIds")
    assert(spark.read.parquet(s"$sd/percsigs").select("__id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 12L))
    // a DESTROYED percsigs dir rebuilds from outDir on the next batch
    // (the frame is a pure function of the admitted corpus' blobs)
    rmTree(java.nio.file.Paths.get(sd, "percsigs"))
    bt(Seq(doc(21L, bmp(1)), doc(22L, ppm(9)))
      .toDF("doc_id", "source", "text", "blob"), 2L)
    assert(admittedIds === Set(1L, 2L, 12L, 22L))
    // CORPUS-DELETION SURVIVAL: drop every admitted partition; a dup
    // of doc 12 must still die — through the narrow signature state,
    // never a corpus re-decode
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).forEach { p =>
      if (p.getFileName.toString.startsWith("__batch_id=")) rmTree(p)
    }
    bt(Seq(doc(31L, png(7))).toDF("doc_id", "source", "text", "blob"), 3L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "__batch_id=3")),
      "the perceptual dup was admitted after corpus deletion — the " +
        "state frame was not what dropped it")
    // MARKER GUARD: a state that tracks signatures refuses a blob-less
    // invocation (batches admitted without it would silently starve
    // every later perceptual check)
    val e = intercept[IllegalStateException] {
      Curate.streamingTail(spark, dir, minQuality = 0.0,
        maxDup2gramFrac = 1.0, threshold = 1.01)(
        Seq(doc(41L, ppm(3))).toDF("doc_id", "source", "text", "blob"), 4L)
    }
    assert(e.getMessage.contains("perceptual"), e.getMessage)
    // and with BOTH percsigs and the corpus gone, the rebuild fails
    // loudly instead of silently starting from empty coverage
    rmTree(java.nio.file.Paths.get(sd, "percsigs"))
    val e2 = intercept[IllegalStateException] {
      bt(Seq(doc(51L, ppm(4))).toDF("doc_id", "source", "text", "blob"), 5L)
    }
    assert(e2.getMessage.contains("rebuild"), e2.getMessage)
  }

  test("streaming tail blobCol: percsigs folds through compactEvery, dedup unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-blob-fold")
      .toString
    val sd = dir + "__state"
    def doc(id: Long, blob: Array[Byte]) =
      (id, "s", s"utterly distinct essay number $id", blob)
    def bt = Curate.streamingTail(spark, dir, minQuality = 0.0,
      maxDup2gramFrac = 1.0, threshold = 1.01,
      compactEvery = Some(2), blobCol = Some("blob"), blobMaxHamming = 0)
    val plan = Seq(
      (0L, doc(1L, ppm(0))), (1L, doc(11L, ppm(1))),
      (2L, doc(21L, png(0))), // dup of 1 — dropped
      (3L, doc(31L, ppm(2))),
      (4L, doc(41L, bmp(1)))) // dup of 11 — must die via the FOLDED base
    plan.foreach { case (bid, d) =>
      bt(Seq(d).toDF("doc_id", "source", "text", "blob"), bid)
    }
    assert(spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 11L, 31L))
    // the signature partitions folded into a negative-id base (the
    // output-fold recipe); total coverage is every admitted row
    val partIds = new java.io.File(sd, "percsigs").listFiles()
      .map(_.getName).filter(_.startsWith("__batch_id="))
      .map(_.stripPrefix("__batch_id=").toLong).toSeq
    assert(partIds.exists(_ < 0), s"no folded percsigs base: $partIds")
    assert(spark.read.parquet(s"$sd/percsigs").select("__id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 11L, 31L))
  }

  test("streaming tail vecCol: durable semantic state — streamed ≡ batch ≡ " +
      "standard, deletion survival, marker guards") {
    import spark.implicits._
    // 8 orthogonal one-hot base vectors (cross-class cosine exactly 0,
    // so the only semantic pairs are the identical copies): classes by
    // doc_id % 8, unique texts + near passthrough so the semantic
    // stage is the ONLY dedup in play — the streamed ≡ batch ≡
    // standard equivalence is then exact (the batch stage's SemDeDup
    // cells and the streaming stage's SRP buckets both contain every
    // identical pair)
    val gen = udf((id: Long) =>
      Array.tabulate(16)(i => if (i == (id % 8)) 1.0f else 0.0f))
    val input = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"),
        concat(lit("uniq text "), col("doc_id")).as("text"))
      .withColumn("vec", gen(col("doc_id")))
    val maxId = input.agg(max("doc_id")).head().getLong(0)
    val batches = Seq(
      input.where(col("doc_id") <= maxId / 3),
      input.where(col("doc_id") > maxId / 3 && col("doc_id") <= 2 * maxId / 3),
      input.where(col("doc_id") > 2 * maxId / 3))
    def tail(outDir: String) = Curate.streamingTail(spark, outDir,
      minQuality = 0.0, maxDup2gramFrac = 1.0, threshold = 1.01,
      vecCol = Some("vec"))
    def admitted(outDir: String): Set[Long] =
      spark.read.parquet(outDir).select("doc_id")
        .collect().map(_.getLong(0)).toSet

    val d3 = java.nio.file.Files.createTempDirectory("graft-sem-3").toString
    val fn3 = tail(d3)
    batches.zipWithIndex.foreach { case (b, i) => fn3(b, i.toLong) }
    val streamed = admitted(d3)
    assert(streamed === (0L to math.min(7L, maxId)).toSet.map((k: Long) =>
      // min id per class k: k itself unless 0 (ids start at 0? class
      // minima are just the smallest ids 0..7 when ids are dense)
      k), s"semantic first-arrival should keep the 8 class minima: $streamed")

    val d1 = java.nio.file.Files.createTempDirectory("graft-sem-1").toString
    tail(d1)(input, 0L)
    assert(admitted(d1) === streamed)

    val (out, _) = Curate.standard(input, input.limit(0),
      nearDupThreshold = 1.01, semanticVecCol = Some("vec"))
    val std = out.select("doc_id").collect().map(_.getLong(0)).toSet
    out.unpersist()
    assert(streamed === std)

    // durable SRP state covers exactly the admitted rows
    val sd = d3 + "__state"
    assert(spark.read.parquet(s"$sd/semvecs").select("__id")
      .collect().map(_.getLong(0)).toSet === streamed)
    // replay idempotence
    fn3(batches(2), 2L)
    assert(admitted(d3) === streamed)
    // CORPUS-DELETION SURVIVAL: a dup VECTOR with unique text must die
    // through the narrow state alone; a novel direction lands
    java.nio.file.Files.list(java.nio.file.Paths.get(d3)).forEach { p =>
      if (p.getFileName.toString.startsWith("__batch_id=")) rmTree(p)
    }
    def oneHot(k: Int): Array[Float] =
      Array.tabulate(16)(i => if (i == k) 1.0f else 0.0f)
    val extra = Seq(
      (maxId + 1, "s", s"uniq text ${maxId + 1}", oneHot(0)), // class-0 dup
      (maxId + 2, "s", s"uniq text ${maxId + 2}", oneHot(9))) // novel axis
      .toDF("doc_id", "source", "text", "vec")
    fn3(extra, 3L)
    val b3 = spark.read.parquet(s"$d3/__batch_id=3").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(b3 === Set(maxId + 2),
      s"semantic state did not survive corpus deletion: $b3")
    // MARKER GUARDS: a vec-less invocation of a tracking state throws,
    // and so does a different SRP bit width (stale buckets)
    val e = intercept[IllegalStateException] {
      Curate.streamingTail(spark, d3, minQuality = 0.0,
        maxDup2gramFrac = 1.0, threshold = 1.01)(extra, 4L)
    }
    assert(e.getMessage.contains("semantic"), e.getMessage)
    plantStateParams(d3, "shingleSize=3\nnumHashes=12\nbands=4\n" +
      "percsigs=false\nsemvecs=true\nsembits=12")
    val e2 = intercept[IllegalStateException] {
      Curate.streamingTail(spark, d3, minQuality = 0.0,
        maxDup2gramFrac = 1.0, threshold = 1.01,
        vecCol = Some("vec"))(extra, 4L)
    }
    assert(e2.getMessage.contains("sembits"), e2.getMessage)
    // UPGRADE path: a corpus admitted without vecCol rebuilds the
    // semantic state from outDir on the first vecCol batch
    val dU = java.nio.file.Files.createTempDirectory("graft-sem-up").toString
    Curate.streamingTail(spark, dU, minQuality = 0.0,
      maxDup2gramFrac = 1.0, threshold = 1.01)(batches(0), 0L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dU + "__state", "semvecs")))
    tail(dU)(extra, 1L) // maxId+1 duplicates class 0 — already admitted
    val upAdmitted = spark.read.parquet(dU).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(!upAdmitted.contains(maxId + 1) && upAdmitted.contains(maxId + 2),
      s"semvecs migration rebuild failed: $upAdmitted")
  }

  test("streaming tail crash boundary: keys lost, derived frames and marker " +
      "kept — the next batch restores the uninterrupted state") {
    // a state committed up to batch 1, then its keys frame (the commit
    // marker) lost while shingles/postings/semvecs and _state_params
    // stay: batch 2 must rebuild the missing frames and land exactly
    // what an uninterrupted run lands, leaving every frame identical
    // Gaussian vectors (distinct directions) except every 7th doc,
    // which repeats its predecessor's — semantic dups across batches
    val gen = udf { (id: Long) =>
      val r = new scala.util.Random(if (id % 7 == 0) id - 1 else id)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    // texts repeat with period 350, so batch 2's first ten docs are
    // exact dups of batch 0's
    val input = spark.range(0, 360).select(col("id").as("doc_id"),
      lit("s").as("source"),
      format_string("the quick brown fox %d jumps over the lazy dog and " +
        "rests in garden %d", col("id") % 50, col("id") % 7).as("text"))
      .withColumn("vec", gen(col("doc_id")))
    val maxId = 359L
    val batches = Seq(
      input.where(col("doc_id") <= maxId / 3),
      input.where(col("doc_id") > maxId / 3 && col("doc_id") <= 2 * maxId / 3),
      input.where(col("doc_id") > 2 * maxId / 3))
    def tail(outDir: String) = Curate.streamingTail(spark, outDir,
      minQuality = 0.0, maxDup2gramFrac = 1.0, vecCol = Some("vec"))
    def admitted(outDir: String): Set[Long] =
      spark.read.parquet(outDir).select("doc_id")
        .collect().map(_.getLong(0)).toSet

    val ref = java.nio.file.Files.createTempDirectory("graft-crash-ref").toString
    val fnRef = tail(ref)
    batches.zipWithIndex.foreach { case (b, i) => fnRef(b, i.toLong) }
    val cut = java.nio.file.Files.createTempDirectory("graft-crash-cut").toString
    val fnCut = tail(cut)
    fnCut(batches(0), 0L)
    fnCut(batches(1), 1L)
    rmTree(paths(cut + "__state", "keys"))
    fnCut(batches(2), 2L)

    val expected = admitted(ref)
    assert(expected.size < input.count(), "fixture drops nothing")
    assert(admitted(cut) === expected)
    // every frame, partition column included, row for row
    def digest(outDir: String, frame: String): (Long, BigDecimal) = {
      val f = spark.read.parquet(s"${outDir}__state/$frame")
      val r = f.agg(count(lit(1)),
        sum(graft.ops.Profile.rowDigest(f.columns.toSeq.map(col)))).head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }
    Seq("keys", "shingles", "postings", "semvecs").foreach { frame =>
      assert(digest(cut, frame) === digest(ref, frame), frame)
    }
    assert(java.nio.file.Files.readString(paths(cut + "__state", "_state_params")) ===
      java.nio.file.Files.readString(paths(ref + "__state", "_state_params")))
  }

  test("streaming tail blobCol + vecCol COMPOSE: both durable states, streamed ≡ standard") {
    import spark.implicits._
    // both modalities in one corpus, classes ALIGNED on doc_id % 11 so
    // the streamed ≡ standard equivalence is exact: with CROSSED keys
    // a blob classmate dropped by the SEMANTIC stage would not be in
    // the perceptual state to claim its class — the documented
    // first-arrival epsilon ("a doc whose only near-witness was itself
    // rejected stays") now spanning two modalities. Aligned keys keep
    // every cross-batch witness an admitted row; the vecCol/blobCol
    // suites above already pin each modality's own semantics.
    val genBlob = udf((id: Long) => CurateBlobFixtures.ppm((id % 11).toInt))
    val genVec = udf((id: Long) =>
      Array.tabulate(16)(i => if (i == (id % 11)) 1.0f else 0.0f))
    val input = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"),
        concat(lit("uniq text "), col("doc_id")).as("text"))
      .withColumn("blob", genBlob(col("doc_id")))
      .withColumn("vec", genVec(col("doc_id")))
    val maxId = input.agg(max("doc_id")).head().getLong(0)
    val batches = Seq(
      input.where(col("doc_id") <= maxId / 3),
      input.where(col("doc_id") > maxId / 3 && col("doc_id") <= 2 * maxId / 3),
      input.where(col("doc_id") > 2 * maxId / 3))
    val d = java.nio.file.Files.createTempDirectory("graft-both").toString
    val fn = Curate.streamingTail(spark, d,
      minQuality = 0.0, maxDup2gramFrac = 1.0, threshold = 1.01,
      blobCol = Some("blob"), blobMaxHamming = 0, vecCol = Some("vec"))
    batches.zipWithIndex.foreach { case (b, i) => fn(b, i.toLong) }
    val streamed = spark.read.parquet(d).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // nlist below the 11 distinct one-hots: MLlib KMeans aborts when
    // k exceeds the distinct-point count (a degenerate-fixture quirk,
    // not a corpus shape — real embeddings are all distinct)
    val (out, _) = Curate.standard(input, input.limit(0),
      nearDupThreshold = 1.01, blobCol = Some("blob"), blobMaxHamming = 0,
      semanticVecCol = Some("vec"), semanticNlist = 8)
    val std = out.select("doc_id").collect().map(_.getLong(0)).toSet
    out.unpersist()
    assert(streamed === std, s"composed streamed != standard: " +
      s"only-streamed=${streamed -- std} only-std=${std -- streamed}")
    // both durable frames landed, each covering exactly the admitted rows
    val sd = d + "__state"
    assert(spark.read.parquet(s"$sd/percsigs").select("__id")
      .collect().map(_.getLong(0)).toSet === streamed)
    assert(spark.read.parquet(s"$sd/semvecs").select("__id")
      .collect().map(_.getLong(0)).toSet === streamed)
    // replay idempotence with both states active
    fn(batches(2), 2L)
    assert(spark.read.parquet(d).select("doc_id")
      .collect().map(_.getLong(0)).toSet === streamed)
  }

  test("driver-side schemas: the output and every state frame, over a " +
      "folded base, read as Spark infers them") {
    import spark.implicits._
    val genBlob = udf((id: Long) => CurateBlobFixtures.ppm(id.toInt))
    val genVec = udf((id: Long) =>
      Array.tabulate(16)(i => if (i == id) 1.0f else 0.0f))
    def batch(ids: Long*) = ids
      .map(i => (i, "s", (0 until 12).map(j => s"w${i}t$j").mkString(" ")))
      .toDF("doc_id", "source", "text")
      .withColumn("blob", genBlob(col("doc_id")))
      .withColumn("vec", genVec(col("doc_id")))
    val d = java.nio.file.Files.createTempDirectory("graft-footer").toString
    val sd = d + "__state"
    val t = Curate.streamingTail(spark, d, minQuality = 0.0,
      maxDup2gramFrac = 1.0, blobCol = Some("blob"), vecCol = Some("vec"),
      compactOutputEvery = Some(2))
    try {
      t(batch(1L, 2L, 3L), 0L)
      t(batch(4L, 5L), 1L)
      t(batch(6L, 7L), 2L) // folds outputs 0..1 into base -2
      // a state lost beside a folded corpus: batch 3 rebuilds every
      // frame from the output, base partition -2 included
      rmTree(java.nio.file.Paths.get(sd))
      t(batch(8L, 9L), 3L)
      val frames = Seq("keys", "shingles", "postings", "percsigs", "semvecs")
      frames.foreach(f => assert(spark.read.parquet(s"$sd/$f")
        .where(col("__batch_id") < 0).count() > 0, f))
      // rows by value (blob bytes compared by content)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(_.toSeq.map {
          case b: Array[Byte] => b.toSeq
          case x => x
        }.toString).sorted.toSeq
      (d +: frames.map(f => s"$sd/$f")).foreach { dir =>
        val ours = graft.sources.ParquetMeta.readParquet(spark, dir)
        val inferred = spark.read.parquet(dir)
        assert(ours.schema === inferred.schema, dir)
        assert(rows(ours) === rows(inferred), dir)
      }
    } finally {
      rmTree(java.nio.file.Paths.get(d))
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(sd)))
        rmTree(java.nio.file.Paths.get(sd))
    }
  }

  test("misra-gries aggregate streams: Complete-mode candidates equal the batch pass") {
    // the UDAF is a TypedImperativeAggregate, so it runs as a normal
    // streaming aggregation — the heavy-hitter candidate sketch over
    // an unbounded source with O(k) state, exactly the monitoring
    // shape the operator exists for
    val src = java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet")
    val d = java.nio.file.Files.createTempDirectory("graft-mg-stream")
    java.nio.file.Files.copy(src, d.resolve(src.getFileName))
    val docs = spark.read.parquet(d.toString)
    def tokensOf(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(graft.ops.Dedup.normalizedTokens(col("text")))
        .as("token"))
    def mg(df: org.apache.spark.sql.DataFrame) =
      tokensOf(df).agg(
        graft.ops.Frequent.candidatesAgg(col("token"), 50).as("cand"))
    val batch = mg(docs).collect().head.getSeq[String](0)
    assert(batch.nonEmpty)
    val q = EventStreams.runOnce(spark,
      mg(spark.readStream.schema(docs.schema).parquet(d.toString)),
      "mg_stream", OutputMode.Complete())
    q.awaitTermination(120000)
    val streamed = spark.table("mg_stream")
      .collect().head.getSeq[String](0)
    // single micro-batch => identical update sequence => identical
    // candidate set (across many micro-batches the sets could differ
    // within the MG guarantee; availableNow over one file is one batch)
    assert(streamed === batch)
  }
}

/** Static image fixtures for the blobCol tail tests — a top-level
  * object so udf closures referencing them stay serializable. */
object CurateBlobFixtures extends Serializable {
  def rgbOf(k: Int, w: Int = 36, h: Int = 24): Array[Byte] = {
    val a = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val i = 3 * (y * w + x)
      a(i) = ((k * 43 + x * 11 + y * 5) % 256).toByte
      a(i + 1) = ((k * 19 + x * 3) % 256).toByte
      a(i + 2) = ((k * 31 + y * 7) % 256).toByte
    }
    a
  }
  def ppm(k: Int): Array[Byte] = graft.ops.Multimodal.encodePpm(36, 24, rgbOf(k))
  def png(k: Int): Array[Byte] = graft.ops.Multimodal.encodePng(36, 24, rgbOf(k))
  def bmp(k: Int): Array[Byte] = graft.ops.Multimodal.encodeBmp(36, 24, rgbOf(k))
}
