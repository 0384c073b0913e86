package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.cli.CurateCli
import graft.ops.Curate

/** `CurateCli --stream` with the semantic stage over parquet shards, one
  * shard per micro-batch, compacting the dedup state every two batches.
  * The shards plant exact, near-text and semantic copies of earlier docs
  * (within and across shards) and gate-failing docs. */
object CurateStream extends Workload {
  val name = "curate_stream"

  val Shards: Int = Layers.CurateBatches
  /** Docs one lifecycle streams. */
  def Docs: Int = Shards * PerShard
  val PerShard = 100
  val Dim = 32
  /** Compacting after every batch gives Shards - 1 compactions. */
  val CompactEvery = 1

  private def config(in: File, out: File) = CurateCli.Config(
    input = in.getPath, output = out.getPath, stream = true,
    semanticCol = Some("emb"), maxFilesPerTrigger = Some(1),
    compactEvery = Some(CompactEvery))

  /** The tail `CurateCli.runStream` builds for [[config]]. */
  private def tail(spark: SparkSession, out: File) = {
    val c = config(new File("."), out)
    Curate.streamingTail(spark, c.output, idCol = c.idCol, textCol = c.textCol,
      minQuality = c.minQuality, maxDup2gramFrac = c.maxDup2gram,
      threshold = c.nearThreshold, compactEvery = c.compactEvery,
      compactMaxBases = c.compactMaxBases,
      compactOutputEvery = c.compactOutputEvery, blobCol = c.blobCol,
      blobMaxHamming = c.blobMaxHamming, vecCol = c.semanticCol,
      semanticThreshold = c.semanticThreshold)
  }

  private def shardFile(in: File, i: Int) = new File(in, f"shard-$i%03d.parquet")

  /** Writes each shard as one parquet file, with modification times in
    * shard order so the file source reads them in that order. */
  private def writeShards(spark: SparkSession, shards: Seq[Seq[Gen.Doc]],
                          in: File, scratch: File): Unit = {
    import spark.implicits._
    in.mkdirs()
    val t0 = System.currentTimeMillis() - 3600 * 1000L
    shards.zipWithIndex.foreach { case (docs, i) =>
      val tmp = new File(scratch, s"shard-$i")
      docs.map(d => (d.id, d.text, d.source, d.emb.map(_.toFloat).toSeq))
        .toDF("doc_id", "text", "source", "emb")
        .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
      val dst = shardFile(in, i)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 10000L)
    }
    Disk.deleteRecursively(scratch)
  }

  /** A curation service start: the first set-up curates one small
    * shard, and every set-up then resumes the stream from its
    * checkpoint, which finds no new shard. */
  def warmUp(spark: SparkSession, dir: File): Unit = {
    val home = new File(dir.getParentFile, "warmup-curate")
    val in = new File(home, "in")
    if (!in.exists()) {
      val (shards, _) = Gen.curate(-1L, 1, 20, Dim)
      writeShards(spark, shards, in, new File(home, "tmp"))
    }
    CurateCli.run(config(in, new File(home, "out")), spark)
  }

  /** Admitted ids and texts of the output corpus, by batch. */
  private def output(spark: SparkSession, out: File): Seq[(Long, String, Int)] =
    spark.read.parquet(out.getPath)
      .select(col("doc_id"), col("text"), col("__batch_id").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq

  def run(spark: SparkSession, dir: File, seed: Long, seconds: Double,
          tracer: Option[Tracer]): Outcome = {
    val log = new OpLog
    val progress = new Progress(spark)
    val batchS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val quality = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val detail = scala.collection.mutable.ArrayBuffer.empty[String]
    val finals = scala.collection.mutable.ArrayBuffer.empty[Final]
    val traced = scala.collection.mutable.ArrayBuffer.empty[(Span, Seq[BatchProgress])]
    var measured = 0.0
    var lifecycle = 0

    def oneLifecycle(t: Option[Tracer]): Unit = {
      val (shards, planted) = Gen.curate(Gen.subSeed(seed, lifecycle), Shards,
        PerShard, Dim)
      val d = new File(dir, s"lifecycle-$lifecycle")
      val in = new File(d, "in")
      val out = new File(d, "out")
      val state = new File(d, "out__state")
      writeShards(spark, shards, in, new File(d, "tmp"))
      Gen.write(new File(d, "truth.tsv"), Gen.curateTruth(planted))
      val op = s"lifecycle-$lifecycle"
      lifecycle += 1
      val seenBefore = progress.batches.length
      val kind = if (t.isDefined) "stream.traced" else "stream"
      log.op(kind) {
        t match {
          case None => CurateCli.run(config(in, out), spark)
          case Some(tr) => tracedStream(spark, tr, in, out, state, op, detail)
        }
      }(true).foreach(measured += _)
      val batches = progress.batches.drop(seenBefore)
      if (t.isEmpty)
        batchS ++= batches.map(_.durationMs.getOrElse("triggerExecution", 0L) / 1000.0)
      else t.foreach(tr => traced += ((tr.allSpans.filter(s =>
        s.name == "cli.stream" && s.opId == op).last, batches)))
      val rows = output(spark, out)
      val inputIds = planted.map(_.id).toSet
      log.check(s"$kind.output") {
        val ids = rows.map(_._1)
        ids.forall(inputIds.contains) && ids.distinct.length == ids.length &&
          rows.map(_._2).distinct.length == rows.length &&
          // batch i read shard i, which the replay below relies on
          rows.forall { case (id, _, b) => planted(id.toInt).shard == b } &&
          batches.length == Shards
      }
      val kept = rows.map(_._1).toSet
      val drops = planted.filter(_.drop)
      val keeps = planted.filterNot(_.drop)
      val recall = drops.count(p => !kept.contains(p.id)).toDouble / drops.length
      val keepRate = keeps.count(p => kept.contains(p.id)).toDouble / keeps.length
      quality += ((recall, keepRate))
      val (stateBytes, stateFiles) = Disk.census(state)
      finals += Final(stateBytes, stateFiles, rows.length, planted.length - rows.length)
      detail += s"{\"census\": {\"op\": ${Stats.jsonString(op)}, \"batch\": \"end\", " +
        s"\"state_bytes\": $stateBytes, \"state_files\": $stateFiles, " +
        s"\"admitted_rows\": ${rows.length}, \"input_rows\": ${planted.length}}}"
      // replaying the last batch id must leave the output as it was
      // (once per run: the traced lifecycle runs the same tail)
      if (t.isEmpty) {
        val before = rows.map(_._1).sorted
        log.op("replay") {
          tail(spark, out)(spark.read.parquet(shardFile(in, Shards - 1).getPath),
            (Shards - 1).toLong)
        } {
          output(spark, out).map(_._1).sorted == before
        }
      }
    }

    while (lifecycle < 1 || measured < seconds) {
      oneLifecycle(None)
      tracer.foreach(t => oneLifecycle(Some(t)))
    }
    progress.close()

    val streamS = log.seconds("stream")
    val rowsPerS = if (streamS.isEmpty) Double.NaN else Docs / Stats.median(streamS)
    val batchP50 = if (batchS.isEmpty) Double.NaN else Stats.median(batchS.toSeq)
    val recall = Stats.median(quality.map(_._1).toSeq)
    val keepRate = Stats.median(quality.map(_._2).toSeq)
    val e2e = Seq(Metric("rows_per_s", rowsPerS, "rows/s"),
      Metric("op_median_s", batchP50, "s"),
      Metric("quality", recall * keepRate, "ratio"))
    val named = Seq(Metric("rows_per_s", rowsPerS, "rows/s"),
      Metric("batch_p50_s", batchP50, "s"),
      Metric("drop_recall", recall, "ratio"),
      Metric("false_drop_rate", 1.0 - keepRate, "ratio"),
      Metric("batches", batchS.length.toDouble, "count"))
    val layers = tracer.toSeq.flatMap(t => layerMetrics(t, traced.toSeq, streamS,
      log.seconds("replay"), finals.toSeq))
    Outcome(log.all, e2e, named, layers, detail.toSeq,
      traced.map(r => Seq(r._1)).toSeq, streamS)
  }

  /** `CurateCli.runStream`'s steps as layer calls: the schema read, then
    * the file stream whose foreachBatch runs the curate tail inside one
    * span per batch and takes a state census after it. */
  private def tracedStream(spark: SparkSession, t: Tracer, in: File, out: File,
                           state: File, op: String,
                           detail: scala.collection.mutable.Buffer[String]): Unit =
    t.span("cli.stream", op) {
      val schema = t.span("sources.schema", op) { spark.read.parquet(in.getPath).schema }
      val f = tail(spark, out)
      t.span("streaming.query", op) {
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(in.getPath)
          .writeStream
          .foreachBatch { (df: DataFrame, id: Long) =>
            t.span("ops.curate.batch", s"$op/b$id") { f(df, id) }
            val (bytes, files) = Disk.census(state)
            detail.synchronized {
              detail += s"{\"census\": {\"op\": ${Stats.jsonString(op)}, " +
                s"\"batch\": $id, \"state_bytes\": $bytes, \"state_files\": $files}}"
            }
            ()
          }
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", out.getPath + "__checkpoint")
          .start()
          .awaitTermination()
      }
    }

  /** State census and row counts at the end of one lifecycle. */
  private final case class Final(stateBytes: Long, stateFiles: Long,
                                 admitted: Int, dropped: Int)

  private def layerMetrics(t: Tracer, traced: Seq[(Span, Seq[BatchProgress])],
                           untracedS: Seq[Double], replayS: Seq[Double],
                           finals: Seq[Final]): Seq[Metric] = {
    val spans = t.allSpans
    val roots = traced.map(_._1)
    val batchSpans = spans.filter(_.name == "ops.curate.batch")
    def perBatch(i: Int) = batchSpans.filter(_.opId.endsWith(s"/b$i")).map(_.seconds)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val progress = traced.flatMap(_._2)
    def dur(key: String) = med(progress.map(_.durationMs.getOrElse(key, 0L) / 1000.0))
    val layerSum = med(roots.map(r => spans.filter(_.parent == r.id).map(_.seconds).sum))
    (0 until Shards).map(i => Layers.m(s"ops.curate.batch_s.b$i", med(perBatch(i)))) ++
      Seq(
        Layers.m("ops.curate.batch_jobs", med(batchSpans.map(s => t.counts(s).jobs.toDouble))),
        Layers.m("ops.curate.batch_driver_gap_s", med(batchSpans.map(t.driverGapSeconds))),
        Layers.m("ops.curate.batch_input_bytes",
          med(batchSpans.map(s => t.counts(s).inputBytes.toDouble))),
        Layers.m("ops.curate.replay_s", med(replayS)),
        Layers.m("ops.curate.state_bytes", med(finals.map(_.stateBytes.toDouble))),
        Layers.m("ops.curate.state_files", med(finals.map(_.stateFiles.toDouble))),
        Layers.m("ops.curate.admitted_rows", med(finals.map(_.admitted.toDouble))),
        Layers.m("ops.curate.dropped_rows", med(finals.map(_.dropped.toDouble))),
        Layers.m("streaming.add_batch_s", dur("addBatch")),
        Layers.m("streaming.get_batch_s", dur("getBatch")),
        Layers.m("streaming.wal_commit_s", dur("walCommit")),
        Layers.m("cli.overhead_s", med(untracedS) - layerSum))
  }
}
