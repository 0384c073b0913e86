package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Format registry: load/save json/csv/text/parquet with CSV dialect
 * sniffing — capability parity with the reference's `IO`
 * (`/root/reference/src/main/scala-2.11/ch/uzh/sentiment/utils/IO.scala:8-71`),
 * on native Spark readers (the reference used `com.databricks.spark.csv`).
 *
 * Intended-semantics fixes (SURVEY.md §2.1, quirks Q1/Q3/Q12):
 *  - Q1: the reference's delimiter sniffer compares `Char == String`
 *    (always false), so it always returns ",". Ours implements the
 *    intended rule: a candidate delimiter wins when the first two lines
 *    agree on a non-zero occurrence count; candidates are tried in the
 *    reference's order (`, | : \t`), falling back to ";".
 *  - Q3: the reference's header sniff compares the schema of two rows of
 *    the same DataFrame (always equal => always header). Ours checks
 *    whether the first line's fields fail to type-match the second
 *    line's (a numeric column with a non-numeric first value => header).
 *  - Q12: the reference's loader tags parquet as "par" which its own
 *    `save` never matches (MatchError). We use one canonical tag set.
 *
 * Scale notes: sniffing reads exactly two lines on the driver, with no
 * Spark job (no full pass); everything else is the built-in readers,
 * which keep pushdown/pruning intact.
 */
object FormatIO {

  val Formats: Set[String] = Set("json", "csv", "txt", "parquet")

  /** A sniffed CSV dialect: delimiter, header flag and quote char. */
  case class CsvDialect(delimiter: String, header: Boolean, quote: Option[String])

  /** Sniff `path`'s CSV dialect from its first two lines, handed to the
    * pure kernels [[delimiterOf]], [[headerOf]] and [[escapeOf]].
    *
    * The lines are read on the driver, with no Spark job, and they are
    * the two lines `spark.read.text(path).limit(2)` returns. The scan
    * over `path` (a file, a directory or a glob) orders its file splits
    * by size, largest first, not by name, and packs them into
    * partitions in that order; `limit(2)` reads the partitions in
    * order. So the lines come from the largest file, then, if it has
    * fewer than two lines, from the next in that order. The splits are
    * taken from the planned scan itself and read with the scan's own
    * line reader (Hadoop `LineRecordReader`, which decompresses `.gz`
    * through the codec factory). */
  def sniffCsv(path: String, spark: SparkSession): CsvDialect = {
    val lines = firstLines(spark.read.text(path), 2)
    val delim = delimiterOf(lines)
    CsvDialect(delim, headerOf(lines, delim), escapeOf(lines, delim))
  }

  /** The first `n` lines of a `text` scan, in its partition order. */
  private def firstLines(text: DataFrame, n: Int): Array[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFileLinesReader}
    val scan = text.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(sys.error("not a file scan: " + text.queryExecution.executedPlan))
    val conf = text.sparkSession.sessionState.newHadoopConf()
    val files = scan.inputRDD.partitions.iterator.flatMap {
      case p: FilePartition => p.files.iterator
      case other => sys.error("unexpected scan partition " + other)
    }
    val out = Array.newBuilder[String]
    var got = 0
    while (got < n && files.hasNext) {
      val reader = new HadoopFileLinesReader(files.next(), conf)
      try while (got < n && reader.hasNext) {
        val t = reader.next()
        out += new String(t.getBytes, 0, t.getLength, java.nio.charset.StandardCharsets.UTF_8)
        got += 1
      } finally reader.close()
    }
    out.result()
  }

  /** Intended S5 semantics (the pure kernel of [[sniffCsv]]'s
    * delimiter, exposed for property testing): pick the first of
    * `, | : \t` whose count is equal and non-zero across the first two
    * lines; else ";". */
  private[sources] def delimiterOf(lines: Array[String]): String = {
    if (lines.length < 2) return ","
    val (l1, l2) = (lines(0), lines(1))
    val candidates = Seq(',', '|', ':', '\t')
    candidates
      .find(c => l1.count(_ == c) > 0 && l1.count(_ == c) == l2.count(_ == c))
      .map(_.toString)
      .getOrElse(";")
  }

  /** S6: quote char is `"` or `'` iff the longest multi-word field of
    * the second line starts with it (reference algorithm, kept). */
  private[sources] def escapeOf(lines: Array[String], delim: String): Option[String] = {
    if (lines.length < 2) return None
    val parts = lines(1).split(java.util.regex.Pattern.quote(delim))
      .filter(_.split(" ").length > 3)
    if (parts.isEmpty) None
    else parts.maxBy(_.length).headOption match {
      case Some('"')  => Some("\"")
      case Some('\'') => Some("'")
      case _          => None
    }
  }

  private def looksNumeric(s: String): Boolean =
    s.nonEmpty && scala.util.Try(s.trim.toDouble).isSuccess

  /** Intended S7 semantics: the first line is a header iff some field
    * that is numeric on line 2 is non-numeric on line 1. */
  private[sources] def headerOf(lines: Array[String], delim: String): Boolean = {
    if (lines.length < 2) return false
    val q = java.util.regex.Pattern.quote(delim)
    val f1 = lines(0).split(q)
    val f2 = lines(1).split(q)
    f1.zip(f2).exists { case (a, b) => looksNumeric(b) && !looksNumeric(a) }
  }

  /** CSV load with a KNOWN dialect — the entry point for callers that
    * already ran [[sniffCsv]] (or know the dialect out of band), so
    * the two-line probe is not re-run per file. `load("csv")`
    * is sniff-then-this. */
  def loadCsvWithDialect(path: String, spark: SparkSession, delim: String,
                         header: Boolean, quote: Option[String]): DataFrame = {
    val base = spark.read
      .option("delimiter", delim)
      .option("header", header)
      .option("inferSchema", "true")
    quote match {
      case Some(q) => base.option("quote", q).option("escape", q).csv(path)
      case None    => base.csv(path)
    }
  }

  /** CSV load with a QUARANTINE channel — the corrupt-row-safe ingest
    * contract for typed feeds: parse against an EXPLICIT schema in
    * PERMISSIVE mode with a corrupt-record column, and return
    * (good, quarantined) — good rows fully typed with the marker
    * dropped, quarantined rows as (raw_line) for the dead-letter
    * sink. A malformed row (wrong arity, untypeable value) never
    * crashes the load (FAILFAST) and never silently becomes nulls
    * (plain PERMISSIVE): it lands, whole, where an operator can
    * count, alert on, and replay it. Both frames are map-side views
    * of ONE scan definition — no extra pass is forced; a caller that
    * materializes both pays the scan twice unless it persists
    * upstream (the usual two-branch trade, as q168).
    *
    * Spark contract notes baked in: the corrupt column must be
    * declared in the schema (Spark drops it otherwise), and rows
    * where only TYPE COERCION failed keep nulls in the failed fields
    * AND carry the raw line — this quarantines them too (the strict
    * reading: a row is good only when every declared field parsed). */
  def loadCsvQuarantine(spark: SparkSession, path: String,
                        schema: org.apache.spark.sql.types.StructType,
                        delim: String = ",", header: Boolean = true)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, from_csv, lit}
    require(!schema.fieldNames.contains("__graft_corrupt"),
      "schema may not declare __graft_corrupt (the quarantine marker)")
    // text source + from_csv, NOT the csv source: Spark disallows
    // queries whose referenced columns are only the internal corrupt
    // record column (exactly what the quarantine side is), and the
    // text route keeps the raw line first-class for the dead-letter
    // sink anyway
    val raw = spark.read.text(path)
    val body =
      if (!header) raw
      else {
        // the header is dropped POSITIONALLY, per file: exactly the
        // first line of every input file goes, nothing else — a data
        // row byte-identical to the header survives, and a sharded
        // feed (directory / glob of part files, each with its own
        // header) loads whole. Mechanism: the hidden `_metadata`
        // file-source column carries (file_path, file_block_start);
        // within a scan partition the rows of one block are contiguous
        // and in file order, and the text reader's line-boundary
        // contract means the first row of the block starting at byte 0
        // IS the file's first line. One narrow mapPartitions pass
        // detects block changes — no shuffle, no driver reads, no
        // content guessing. (This pass is the one non-codegen stage of
        // the load; ingest-bounded, not a hot path.)
        import spark.implicits._
        spark.read.text(path)
          .select(col("value"),
            col("_metadata.file_path").as("__f"),
            col("_metadata.file_block_start").as("__b"))
          .as[(String, String, Long)]
          .mapPartitions { it =>
            var prevF: String = null
            var prevB: Long = -1L
            it.flatMap { case (v, f, b) =>
              val blockStart = (f != prevF) || (b != prevB)
              prevF = f; prevB = b
              if (blockStart && b == 0L) None // the file's first line
              else Some(v)
            }
          }.toDF("value")
      }
    val withMarker = schema
      .add("__graft_corrupt", org.apache.spark.sql.types.StringType)
    val opts = Map(
      "delimiter" -> delim,
      "mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> "__graft_corrupt")
    val parsed = body.withColumn("__p",
      from_csv(col("value"), withMarker, opts))
    val good = parsed.where(col("__p.__graft_corrupt").isNull)
      .select(schema.fieldNames.map(f => col(s"__p.$f").as(f)).toSeq: _*)
    val bad = parsed.where(col("__p.__graft_corrupt").isNotNull)
      .select(col("value").as("raw_line"))
    (good, bad)
  }

  /** S1-S4 + sniffing: load `path` as `format`, returning the DataFrame
    * and the canonical format tag (usable directly by [[save]]). */
  def load(format: String, path: String, spark: SparkSession): Option[(DataFrame, String)] =
    format.toLowerCase match {
      case "json" => Some((spark.read.json(path), "json"))
      case "csv" =>
        val d = sniffCsv(path, spark)
        Some((loadCsvWithDialect(path, spark, d.delimiter, d.header, d.quote), "csv"))
      case "txt" | "text" => Some((spark.read.text(path), "txt"))
      case "parquet" | "par" => Some((spark.read.parquet(path), "parquet"))
      case "orc" => Some((spark.read.orc(path), "orc"))
      // WET crawl shards enter the same pipelines as any other corpus:
      // valid records only (the is_valid channel is readWet's concern;
      // a curation CLI run maps --id-col url --text-col payload)
      case "wet" =>
        Some((Warc.readWet(path = path, spark = spark)
          .where(org.apache.spark.sql.functions.col("is_valid"))
          .drop("is_valid"), "wet"))
      // RAW crawl output (the upstream of WET): response records with
      // the HTTP message split — payload is the bare body, ready for
      // Web.htmlToText; request/warcinfo records are skipped (count
      // them via Warc.readWarcRecords when the accounting matters)
      case "warc" =>
        Some((Warc.readWarcResponses(spark, path), "warc"))
      case _ => None
    }

  /** S8: extension-based dispatch (reference substring match kept).
    * `.wet` is matched BEFORE `.warc`: real CommonCrawl WET shards are
    * named `*.warc.wet.gz` — they contain both substrings, and routing
    * them to the response reader would silently return an empty frame
    * (conversion records carry no HTTP message). The more specific
    * derived format wins; a raw `*.warc.gz` crawl still matches
    * `.warc` because it never contains `.wet`. */
  def loadFromPath(path: String, spark: SparkSession): Option[(DataFrame, String)] =
    path.toLowerCase match {
      case p if p.contains(".json") => load("json", path, spark)
      case p if p.contains(".txt")  => load("txt", path, spark)
      case p if p.contains(".csv")  => load("csv", path, spark)
      case p if p.contains(".par")  => load("parquet", path, spark)
      case p if p.contains(".orc")  => load("orc", path, spark)
      case p if p.contains(".wet")  => load("wet", path, spark)
      case p if p.contains(".warc") => load("warc", path, spark)
      case _ => None
    }

  /** Reference `loadFile`: explicit type wins over extension dispatch. */
  def loadFile(fileType: Option[String], path: String,
               spark: SparkSession): Option[(DataFrame, String)] =
    fileType match {
      case Some(t) => load(t, path, spark)
      case None    => loadFromPath(path, spark)
    }

  /** S11: format-preserving sink; the tag set matches [[load]] (Q12
    * fixed). `overwrite` maps to the reference's output-path cleanup
    * (S13) without driver-side recursive deletes. */
  def save(fileType: String, df: DataFrame, output: String,
           overwrite: Boolean = false): Unit = {
    fileType.toLowerCase match {
      case "json" | "csv" | "parquet" | "par" | "txt" | "text" | "orc"
        | "wet" | "warc" =>
      case other => throw new IllegalArgumentException(s"unknown format: $other")
    }
    // the text sink only accepts a single string column; a scored txt
    // input (value + computed...) would otherwise crash the
    // format-preserving save — collapse to tab-separated lines
    val out =
      if (Set("txt", "text").contains(fileType.toLowerCase) && df.columns.length > 1)
        df.select(org.apache.spark.sql.functions.concat_ws("\t",
          df.columns.map(c => org.apache.spark.sql.functions.col(c).cast("string")).toSeq: _*)
          .as("value"))
      else df
    val w = if (overwrite) out.write.mode("overwrite") else out.write
    fileType.toLowerCase match {
      case "json" => w.json(output)
      case "csv" => w.option("header", true).csv(output)
      case "txt" | "text" => w.text(output)
      case "parquet" | "par" => w.parquet(output)
      case "orc" => w.orc(output)
      case "wet" | "warc" =>
        // format-preserving sink for crawl frames: requires the WET
        // column contract (url + payload) rather than guessing; the
        // overwrite flag threads through like every other format
        // (overwrite=false on an existing path errors, never clobbers).
        // A frame carrying the raw-response columns (the load("warc")
        // shape) round-trips as response records; anything else lands
        // as WET conversion records.
        require(df.columns.contains("url") && df.columns.contains("payload"),
          s"wet sink needs url+payload columns, got ${df.columns.mkString(",")}")
        if (df.columns.contains("http_status") &&
            df.columns.contains("http_content_type"))
          Warc.writeWarcResponses(df, "url", "http_status",
            "http_content_type", "payload", output, overwrite = overwrite)
        else
          Warc.writeWet(df, "url", "payload", output, overwrite = overwrite)
    }
  }

  /** S12: word-list sink — one text file per category. */
  def saveWordList(words: Seq[String], dest: String, spark: SparkSession): Unit = {
    import spark.implicits._
    words.toDF("value").coalesce(1).write.mode("overwrite").text(dest)
  }
}
