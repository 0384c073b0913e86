package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.cli.SentimentCli
import graft.schema.Detection
import graft.sources.FormatIO
import graft.text.TextClean
import graft.wordscore.WordScore

/** `SentimentCli` scoring with the default word-score method: CSV
  * dialect sniffing, text-column detection, clean and stem, word-score,
  * CSV write. Each pass scores a fresh CSV whose glued hashtags and
  * misspellings are tail tokens no earlier pass carried; a run's passes
  * together carry more of them than the word-score fuzzy cache holds
  * (131,072 entries), so the tail streams through the cache while the
  * Zipf head must stay in it. */
object SentimentScore extends Workload {
  val name = "sentiment_score"

  val Tweets = 5000
  val Hashtags = 7
  val MisspellEvery = 8
  /** Untimed passes first: JIT compilation still speeds up the first
    * passes of a run by a third. */
  val WarmIn = 1
  /** Timed passes at least, whatever `seconds` says: the median needs
    * them, and with the warm-in passes they overflow the fuzzy cache. */
  val MinPasses = 4

  private def config(csv: File, out: File) = SentimentCli.Config(
    inputs = Seq(csv.getPath), output = Some(out.getPath))

  /** Part files per input: one file is one partition, and the
    * benchmark runs the scorer on every core. */
  val Parts = 4

  /** Writes the pass as a directory of CSV part files, the layout a
    * Spark job that exported the tweets leaves behind. */
  private def writePass(p: Gen.SentimentPass, dir: File): File = {
    val csv = new File(dir, "tweets.csv")
    val per = (p.tweets.length + Parts - 1) / Parts
    p.tweets.grouped(per).zipWithIndex.foreach { case (ts, i) =>
      Gen.write(new File(csv, f"part-$i%05d.csv"), Gen.sentimentCsv(p.copy(tweets = ts)))
    }
    Gen.write(new File(dir, "truth.tsv"), Gen.sentimentTruth(p))
    csv
  }

  def warmUp(spark: SparkSession, dir: File): Unit = {
    val p = Gen.sentimentPass(-1L, 2000, 2, MisspellEvery, 0L)
    val csv = writePass(p, dir)
    SentimentCli.run(config(csv, new File(dir, "out")), spark)
  }

  /** Checks the scored CSV against the pass; returns (ok, agreement):
    * one row per input row, every id once, every score in [-1, 1], and
    * the share of polar tweets whose score has the planted sign. */
  private def check(spark: SparkSession, out: File,
                    p: Gen.SentimentPass): (Boolean, Double) = {
    val rows = spark.read.option("header", "true").csv(out.getPath)
      .select(col("_c1"), col("computed")).collect()
      .map(r => (r.getString(0).toLong, r.getString(1).toDouble))
    val byId = rows.toMap
    val ids = p.tweets.map(_.id)
    val ok = rows.length == p.tweets.length && byId.size == rows.length &&
      ids.forall(byId.contains) &&
      rows.forall { case (_, s) => s >= -1.0 && s <= 1.0 }
    val polar = p.tweets.filter(_.polarity != 0)
    val agree = polar.count(t => byId.get(t.id).exists(s => math.signum(s) == t.polarity))
    (ok, agree.toDouble / math.max(1, polar.length))
  }

  /** The CLI's scoring chain, one public layer call per span, each
    * layer's output materialised inside its span. */
  private def traced(spark: SparkSession, t: Tracer, csv: File, out: File,
                     op: String): Unit = t.span("cli.score", op) {
    val (data, dtype) = t.span("sources.sniff", op) {
      FormatIO.loadFile(None, csv.getPath, spark).get
    }
    val textCol = t.span("schema.detect", op) {
      Detection.detectTextColumn(data, 100).get
    }
    val cleaned = t.span("text.clean", op) {
      val c = TextClean.cleanSource(data, textCol, SentimentCli.OutputColumn,
        stem = true).persist(StorageLevel.MEMORY_AND_DISK)
      c.count()
      c
    }
    val scored = t.span("wordscore.score", op) {
      val s = WordScore.score(cleaned, SentimentCli.OutputColumn, "computed")
        .persist(StorageLevel.MEMORY_AND_DISK)
      s.count()
      s
    }
    val data2 = scored.drop(SentimentCli.OutputColumn)
    t.span("cli.display", op) { data2.select(col(textCol), col("computed")).take(10) }
    t.span("sources.write", op) { FormatIO.save(dtype, data2, out.getPath, overwrite = true) }
    scored.unpersist()
    cleaned.unpersist()
  }

  def run(spark: SparkSession, dir: File, seed: Long, seconds: Double,
          tracer: Option[Tracer]): Outcome = {
    val log = new OpLog
    val agreements = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tails = scala.collection.mutable.ArrayBuffer.empty[Int]
    var measured = 0.0
    var pass = 0
    // each pass gets fresh inputs: a traced pass must not find its tail
    // already cached by the untraced pass before it
    def nextPass(): (Gen.SentimentPass, File, File) = {
      val p = Gen.sentimentPass(Gen.subSeed(seed, pass), Tweets, Hashtags,
        MisspellEvery, pass.toLong * Tweets)
      val d = new File(dir, s"pass-$pass")
      pass += 1
      tails += p.tailTokens
      (p, writePass(p, d), new File(d, "out"))
    }
    (0 until WarmIn).foreach { _ =>
      val (p, csv, out) = nextPass()
      log.op("score.warm-in")(SentimentCli.run(config(csv, out), spark))(
        check(spark, out, p)._1)
    }
    while (log.seconds("score").length < MinPasses || measured < seconds) {
      val (p, csv, out) = nextPass()
      log.op("score") {
        SentimentCli.run(config(csv, out), spark)
      } {
        val (ok, agree) = check(spark, out, p)
        agreements += agree
        ok
      }.foreach(measured += _)
      tracer.foreach { t =>
        val (p2, csv2, out2) = nextPass()
        log.op("score.traced") {
          traced(spark, t, csv2, out2, s"pass-${pass - 1}")
        } {
          check(spark, out2, p2)._1
        }.foreach(measured += _)
      }
    }
    val passS = log.seconds("score")
    val rowsPerS = if (passS.isEmpty) Double.NaN else Tweets * passS.length / passS.sum
    val opMedian = if (passS.isEmpty) Double.NaN else Stats.median(passS)
    val agreement = if (agreements.isEmpty) Double.NaN else Stats.median(agreements.toSeq)
    val e2e = Seq(Metric("rows_per_s", rowsPerS, "rows/s"),
      Metric("op_median_s", opMedian, "s"), Metric("quality", agreement, "ratio"))
    val named = Seq(Metric("rows_per_s", rowsPerS, "rows/s"),
      Metric("polarity_agreement", agreement, "ratio"),
      Metric("passes", passS.length.toDouble, "count"))
    val layers = tracer.toSeq.flatMap { t =>
      t.drain()
      val spans = t.allSpans
      val roots = spans.filter(_.name == "cli.score")
      def sum(name: String, f: Counts => Double): Double = Stats.median(
        spans.filter(_.name == name).map(s => f(t.counts(s))))
      val tail = Stats.median(tails.toSeq.map(_.toDouble))
      val scoreCpu = sum("wordscore.score", _.cpuNs / 1e9)
      val layerSum = Stats.median(roots.map(r =>
        spans.filter(_.parent == r.id).map(_.seconds).sum))
      Seq(
        Layers.m("sources.sniff_s", Layers.medianSeconds(spans, "sources.sniff")),
        Layers.m("sources.write_s", Layers.medianSeconds(spans, "sources.write")),
        Layers.m("sources.write_bytes", sum("sources.write", _.outputBytes.toDouble)),
        Layers.m("schema.detect_s", Layers.medianSeconds(spans, "schema.detect")),
        Layers.m("schema.detect_jobs", sum("schema.detect", _.jobs.toDouble)),
        Layers.m("text.clean_s", Layers.medianSeconds(spans, "text.clean")),
        Layers.m("text.clean_cpu_s", sum("text.clean", _.cpuNs / 1e9)),
        Layers.m("wordscore.score_s", Layers.medianSeconds(spans, "wordscore.score")),
        Layers.m("wordscore.score_cpu_s", scoreCpu),
        Layers.m("wordscore.tail_tokens", tail),
        Layers.m("wordscore.cpu_us_per_tail_token", scoreCpu * 1e6 / tail),
        Layers.m("cli.overhead_s", Stats.median(passS) - layerSum))
    }
    Outcome(log.all, e2e, named, layers,
      agreements.map(a => s"{\"polarity_agreement\": ${Stats.jsonNumber(a)}}").toSeq,
      tracer.toSeq.flatMap(_.allSpans.filter(_.name == "cli.score").map(Seq(_))), passS)
  }
}
