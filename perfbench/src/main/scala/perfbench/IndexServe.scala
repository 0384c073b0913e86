package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.cli.IndexCli
import graft.ops.SimSearch
import graft.sources.FormatIO

/** `IndexCli` over clustered vectors: `fit`, appends with `--batch-id`
  * (the last one replayed), a closed loop of single-query `search`
  * calls, then one `search-batch` over a query frame. */
object IndexServe extends Workload {
  val name = "index_serve"

  val Corpus = 4000
  val Dim = 32
  val Clusters = 24
  val Appends = 2
  val AppendRows = 400
  val K = 10
  val NProbe = 4
  /** Untimed searches first: the first few of a run are up to twice as
    * slow while JIT compilation catches up. */
  val WarmInSearches = 8
  /** Timed single searches at least: the median needs ten samples
    * beyond it. A traced run, which reports no end-to-end metric, times
    * fewer in each of its two lifecycles. */
  val MinSearches = 24
  val TracedSearches = 10
  /** Query ids drawn; the closed loop stops early when time is up. */
  val MaxSearches = 200
  val BatchQueries = 24
  /** Single-search queries that the query frame repeats. */
  val Shared = 8

  /** The traced lifecycle's index directory; its spans' op ids start
    * with this name. */
  private val TracedIndex = "index-traced"

  /** Vectors indexed by one lifecycle. */
  val Indexed: Int = Corpus + Appends * AppendRows

  private final case class Inputs(dir: File, corpusRows: Int, appendRows: Int,
                                  corpus: File, appends: Seq[File],
                                  queryFrame: File, queryIds: IndexedSeq[Long],
                                  frameIds: IndexedSeq[Long],
                                  vectors: Map[Long, Array[Double]])

  private def writeVectors(spark: SparkSession, ids: Seq[Long],
                           vecs: Seq[Array[Double]], f: File, parts: Int): Unit = {
    import spark.implicits._
    ids.zip(vecs.map(_.toSeq)).toDF("vec_id", "embedding")
      .repartition(parts).write.mode("overwrite").parquet(f.getPath)
  }

  private def inputs(spark: SparkSession, dir: File, seed: Long, corpus: Int,
                     appends: Int, appendRows: Int, searches: Int): Inputs = {
    val centres = Gen.centres(Gen.subSeed(seed, 0), Clusters, Dim)
    val base = Gen.vectors(Gen.subSeed(seed, 1), centres, corpus, 0L)
    val batches = (0 until appends).map(b => Gen.vectors(Gen.subSeed(seed, 2 + b),
      centres, appendRows, corpus.toLong + b * appendRows))
    val corpusF = new File(dir, "corpus.parquet")
    writeVectors(spark, base.ids, base.vecs, corpusF, 4)
    Gen.write(new File(dir, "truth.tsv"),
      (base +: batches).map(Gen.vectorTruth).mkString)
    val appendFs = batches.zipWithIndex.map { case (b, i) =>
      val f = new File(dir, s"append-$i.parquet")
      writeVectors(spark, b.ids, b.vecs, f, 1)
      f
    }
    val r = new java.util.SplittableRandom(Gen.subSeed(seed, 99))
    val picks = mutable.LinkedHashSet.empty[Long]
    while (picks.size < searches + BatchQueries - Shared)
      picks += r.nextInt(corpus).toLong
    val queryIds = picks.take(searches).toIndexedSeq
    val frameIds = queryIds.take(Shared) ++ picks.drop(searches).toIndexedSeq
    val vectors = (base +: batches).flatMap(v => v.ids.zip(v.vecs)).toMap
    val frameF = new File(dir, "queries.parquet")
    writeVectors(spark, frameIds, frameIds.map(vectors), frameF, 1)
    Inputs(dir, corpus, appendRows, corpusF, appendFs, frameF, queryIds,
      frameIds, vectors)
  }

  private def cfg(verb: String, index: File) =
    IndexCli.Config(verb = verb, index = index.getPath, k = K, nprobe = NProbe)

  /** A serving start: the first set-up fits a small index, and every
    * set-up then serves one search from it, as a restarted server would
    * from its persisted index. */
  def warmUp(spark: SparkSession, dir: File): Unit = {
    val home = new File(dir.getParentFile, "warmup-index")
    val index = new File(home, "index")
    if (!index.exists()) {
      val in = inputs(spark, home, -1L, 300, 0, 0, 1)
      IndexCli.run(cfg("fit", index).copy(input = in.corpus.getPath), spark)
    }
    IndexCli.run(cfg("search", index).copy(queryId = 0L,
      output = new File(dir, "search").getPath), spark)
  }

  /** Search-batch result ids per query, in rank order: cosine
    * descending, then id. */
  private def readBatch(spark: SparkSession, f: File): Map[Long, Seq[Long]] =
    spark.read.parquet(f.getPath).select(col("query_id"), col("vec_id"), col("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      .groupBy(_._1).map { case (k, rs) =>
        k -> rs.sortBy(x => (-x._3, x._2)).map(_._2) }

  /** Single-search outputs by query id, each in rank order. */
  private def readSearches(spark: SparkSession, outs: Seq[(Long, File)])
      : Map[Long, Seq[Long]] = {
    val byPath = outs.map { case (q, f) => f.getName -> q }.toMap
    spark.read.parquet(outs.map(_._2.getPath): _*)
      .select(org.apache.spark.sql.functions.input_file_name(), col("vec_id"),
        col("cosine"))
      .collect().map(r => (new File(new java.net.URI(r.getString(0)).getPath)
        .getParentFile.getName, r.getLong(1), r.getDouble(2))).toSeq
      .groupBy(_._1).map { case (dir, rs) =>
        byPath(dir) -> rs.sortBy(x => (-x._3, x._2)).map(_._2) }
  }

  private def assignedRows(spark: SparkSession, index: File): Long =
    spark.read.parquet(new File(index, "assigned").getPath).count()

  /** Exact cosine top-k over every indexed vector but the query. */
  private def exactTopK(in: Inputs, q: Long): Set[Long] = {
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val qv = in.vectors(q)
    val qn = norm(qv)
    in.vectors.iterator.filter(_._1 != q).map { case (id, v) =>
      var dot = 0.0
      var i = 0
      while (i < v.length) { dot += v(i) * qv(i); i += 1 }
      (id, dot / (qn * norm(v)))
    }.toSeq.sortBy(x => (-x._2, x._1)).take(K).map(_._1).toSet
  }

  /** One lifecycle. Untraced, each verb is one `IndexCli.run` call;
    * traced, each verb runs as the layer calls `IndexCli.run` makes, one
    * span per layer, with the index census taken after each write.
    * Returns the single-search results by query. */
  private def lifecycle(spark: SparkSession, in: Inputs, index: File, log: OpLog,
                        t: Option[Tracer], seconds: Double, minSearches: Int,
                        detail: mutable.Buffer[String]): Map[Long, Seq[Long]] = {
    val sfx = if (t.isDefined) ".traced" else ""
    val op = index.getName
    val known = in.vectors.keySet
    val indexed = in.corpusRows + in.appends.length * in.appendRows
    def census(after: String): Unit = {
      val (bytes, files) = Disk.census(index)
      detail += s"{\"census\": {\"op\": ${Stats.jsonString(op)}, \"after\": " +
        s"${Stats.jsonString(after)}, \"index_bytes\": $bytes, \"index_files\": $files}}"
    }
    def call(c: IndexCli.Config)(traced: Tracer => Unit): Unit = t match {
      case None => IndexCli.run(c, spark)
      case Some(tr) => traced(tr)
    }
    var measured = 0.0
    def timed(kind: String)(body: => Unit)(check: => Boolean): Unit =
      log.op(kind + sfx)(body)(check).foreach(measured += _)

    val fit = cfg("fit", index).copy(input = in.corpus.getPath)
    timed("fit") {
      call(fit) { tr => tr.span("cli.fit", op) {
        val df = FormatIO.loadFile(None, fit.input, spark).get._1
        val idx = tr.span("ops.simsearch.fit", op) {
          val idx = SimSearch.ivfFit(df, fit.idCol, fit.vecCol, fit.nlist,
            fit.seed, fit.sampleFraction)
          SimSearch.ivfSave(idx, fit.index)
          idx
        }
        tr.span("ops.simsearch.baseline", op) {
          SimSearch.ivfBaselineSave(spark,
            SimSearch.ivfBaselineOf(spark, idx.centers, df, fit.vecCol), fit.index)
        }
      } }
    }(assignedRows(spark, index) == in.corpusRows)
    census("fit")
    def append(i: Int, layer: String): Unit = {
      val c = cfg("append", index).copy(input = in.appends(i).getPath,
        batchId = Some(i.toLong))
      call(c) { tr => tr.span("cli.append", s"$op/b$i") {
        val df = FormatIO.loadFile(None, c.input, spark).get._1
        tr.span(layer, s"$op/b$i") {
          SimSearch.ivfAppend(spark, c.index, df, c.idCol, c.vecCol, c.batchId)
        }
      } }
    }
    in.appends.indices.foreach { i =>
      timed("append")(append(i, "ops.simsearch.append"))(
        assignedRows(spark, index) == in.corpusRows + (i + 1) * in.appendRows)
      census(s"append-$i")
    }
    timed("append_replay")(append(in.appends.length - 1,
      "ops.simsearch.append_replay"))(assignedRows(spark, index) == indexed)
    census("append_replay")

    val outs = mutable.LinkedHashMap.empty[Long, File]
    var n = 0
    while (n < in.queryIds.length &&
        (n < WarmInSearches + minSearches || measured < seconds)) {
      val q = in.queryIds(n)
      val out = new File(in.dir, s"$op-search-$n")
      val c = cfg("search", index).copy(output = out.getPath, queryId = q)
      n += 1
      timed(if (n <= WarmInSearches) "search.warm-in" else "search") {
        call(c) { tr => tr.span("cli.search", s"$op/q$q") {
          val idx = tr.span("ops.simsearch.load", s"$op/q$q") {
            SimSearch.ivfLoad(spark, c.index, c.idCol, c.vecCol)
          }
          tr.span("ops.simsearch.search", s"$op/q$q") {
            SimSearch.ivfSearch(idx, c.queryId, c.k, c.nprobe)
              .write.mode("overwrite").parquet(c.output)
          }
        } }
      }(true)
      outs(q) = out
    }
    // the searches' outputs are checked together after the loop: one
    // read instead of one per search keeps the run short
    val results = readSearches(spark, outs.toSeq)
    outs.keys.foreach { q =>
      log.check("search.output" + sfx) {
        val ids = results.getOrElse(q, Nil)
        ids.length == K && ids.distinct.length == K && !ids.contains(q) &&
          ids.forall(known.contains)
      }
    }
    val batchOut = new File(in.dir, s"$op-search-batch")
    val sb = cfg("search-batch", index).copy(input = in.queryFrame.getPath,
      output = batchOut.getPath)
    timed("search_batch") {
      call(sb) { tr => tr.span("cli.search_batch", op) {
        val queries = FormatIO.loadFile(None, sb.input, spark).get._1
        tr.span("ops.simsearch.search_batch", op) {
          SimSearch.ivfSearchBatch(SimSearch.ivfLoad(spark, sb.index, sb.idCol,
            sb.vecCol), queries, sb.idCol, sb.vecCol, sb.k, sb.nprobe)
            .write.mode("overwrite").parquet(sb.output)
        }
      } }
    } {
      // search-batch must rank every query as single search does
      val batch = readBatch(spark, batchOut)
      in.frameIds.forall(q => batch.get(q).exists(_.length == K)) &&
        results.forall { case (q, ids) => batch.get(q).forall(_ == ids) }
    }
    results
  }

  def run(spark: SparkSession, dir: File, seed: Long, seconds: Double,
          tracer: Option[Tracer]): Outcome = {
    val log = new OpLog
    val detail = mutable.ArrayBuffer.empty[String]
    val in = inputs(spark, new File(dir, "inputs"), seed, Corpus, Appends,
      AppendRows, MaxSearches)
    val index = new File(dir, "index")
    Main.mark("inputs")
    val timedSearches = if (tracer.isDefined) TracedSearches else MinSearches
    val results = lifecycle(spark, in, index, log, None, seconds, timedSearches, detail)
    val recall = if (results.isEmpty) Double.NaN else results.toSeq.map {
      case (q, ids) => ids.count(exactTopK(in, q).contains).toDouble / K
    }.sum / results.size
    Main.mark("lifecycle")
    val (indexBytes, indexFiles) = Disk.census(index)
    val untracedOps = log.all.map(_.seconds).sum
    tracer.foreach(t => lifecycle(spark, in, new File(dir, TracedIndex), log,
      Some(t), 0.0, results.size - WarmInSearches, detail))

    def med(kind: String) = {
      val xs = log.seconds(kind)
      if (xs.isEmpty) Double.NaN else Stats.median(xs)
    }
    val search = log.seconds("search")
    val ingest = (in.corpusRows + in.appends.length * in.appendRows) /
      (med("fit") + log.seconds("append").sum)
    val qps = BatchQueries / med("search_batch")
    val e2e = Seq(Metric("rows_per_s", ingest, "rows/s"),
      Metric("op_median_s", med("search"), "s"), Metric("quality", recall, "ratio"))
    val named = Seq(Metric("fit_s", med("fit"), "s"),
      Metric("append_s", med("append"), "s"),
      Metric("search_p50_s", med("search"), "s")) ++
      Stats.percentile(search, 0.9).map(Metric("search_p90_s", _, "s")).toSeq ++
      Seq(Metric("searches", search.length.toDouble, "count"),
        Metric("search_batch_qps", qps, "queries/s"),
        Metric("recall_at_10", recall, "ratio"),
        Metric("index_rows_per_s", ingest, "rows/s"))
    val layers = tracer.toSeq.flatMap { t =>
      val spans = t.allSpans
      def medSpan(name: String) = Layers.medianSeconds(spans, name)
      def medCount(name: String, f: Counts => Double) = {
        val xs = spans.filter(_.name == name).map(s => f(t.counts(s)))
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      val searches = spans.filter(_.name == "cli.search")
      Seq(
        Layers.m("ops.simsearch.fit_s", medSpan("ops.simsearch.fit")),
        Layers.m("ops.simsearch.baseline_s", medSpan("ops.simsearch.baseline")),
        Layers.m("ops.simsearch.append_s", medSpan("ops.simsearch.append")),
        Layers.m("ops.simsearch.append_replay_s", medSpan("ops.simsearch.append_replay")),
        Layers.m("ops.simsearch.load_s", medSpan("ops.simsearch.load")),
        Layers.m("ops.simsearch.search_s", medSpan("ops.simsearch.search")),
        Layers.m("ops.simsearch.search_jobs", medCount("cli.search", _.jobs.toDouble)),
        Layers.m("ops.simsearch.search_driver_gap_s",
          Stats.median(searches.map(t.driverGapSeconds))),
        Layers.m("ops.simsearch.search_batch_s", medSpan("ops.simsearch.search_batch")),
        Layers.m("ops.simsearch.search_batch_shuffle_bytes",
          medCount("ops.simsearch.search_batch", _.shuffleWriteBytes.toDouble)),
        Layers.m("ops.simsearch.index_bytes", indexBytes.toDouble),
        Layers.m("ops.simsearch.index_files", indexFiles.toDouble),
        Layers.m("cli.overhead_s", med("search") -
          medSpan("ops.simsearch.load") - medSpan("ops.simsearch.search")))
    }
    Outcome(log.all, e2e, named, layers, detail.toSeq,
      tracer.toSeq.map(_.allSpans.filter(s => s.parent == -1 &&
        s.opId.startsWith(TracedIndex))),
      Seq(untracedOps))
  }
}
