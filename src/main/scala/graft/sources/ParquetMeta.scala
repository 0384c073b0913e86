package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Parquet FOOTER census — row-group statistics read from file
 * metadata only, zero data pages touched. This is the information
 * every skipping decision at 100 TB runs on (predicate pushdown
 * prunes row groups by exactly these min/max; compaction and z-order
 * planning ask "how selective WOULD the layout be"), surfaced as a
 * DataFrame so layout tooling (`ops/Layout`, `ops/ZOrder`) can reason
 * about it instead of re-scanning data.
 *
 * Scale shape: the file list parallelizes across the cluster and each
 * task opens only footers (a few KB at the file tail) — a census of a
 * million-file table costs a million metadata reads and no scan. The
 * stats themselves are exact for the fixed-width types (integral,
 * DATE, TIMESTAMP — parquet writes untruncated min/max for them),
 * which is what lets q185/q189 hold the footer numbers to a DuckDB
 * replay of the DATA — a census that disagrees with its own data
 * pages is a red oracle row. String/binary stats are BOUNDS (writers
 * may truncate long values); the skipping rule stays sound on bounds.
 *
 * The same footers also serve reads that should cost no Spark job:
 * [[readParquet]] takes a table's schema from one footer on the
 * driver instead of Spark's inference job, and [[driverRows]] reads a
 * small side table on the driver.
 */
object ParquetMeta {

  /** Per-row-group footer stats for one column: integral types land
    * in (col_min, col_max) as longs; UTF8-annotated binary in
    * (col_min_str, col_max_str) — these are BOUNDS, not necessarily
    * exact values (parquet writers may truncate long binary stats to
    * a prefix lower bound / incremented-prefix upper bound, and drop
    * them entirely past the serialization cap — absent stats surface
    * as nulls, never fabricated; the skipping rule below is sound on
    * bounds); DATE-annotated int32 in (col_min_date, col_max_date);
    * TIMESTAMP-annotated int64 (MILLIS/MICROS/NANOS) in (col_min_ts,
    * col_max_ts) — UTC-adjusted values decode as instants, NTZ
    * (local-semantics) values are anchored in the session timezone so
    * they display exactly as written under any session zone (see
    * [[tsOf]]). Unsupported types (int96, float, unannotated
    * binary) stay honest nulls across the board. Output: (file,
    * rg_idx, n_rows, col_min, col_max, col_min_str, col_max_str,
    * col_min_date, col_max_date, col_min_ts, col_max_ts, col_nulls,
    * compressed_bytes, total_bytes). Metadata only; one map stage
    * over the file list. */
  def rowGroupStats(spark: SparkSession, path: String,
                    column: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val files = {
      val it = fs.listFiles(root, true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet"))
          b += f.getPath.toString
      }
      b.result()
    }
    require(files.nonEmpty, s"no parquet files under $path")
    // the DRIVER's Hadoop conf rides a broadcast to the tasks, so
    // credentialed object stores / custom filesystems work without a
    // deployment-side workaround (SerializableHadoopConf)
    val bcConf = SerializableHadoopConf.broadcast(spark)
    // NTZ decode anchor (see tsOf): the session zone is resolved
    // DRIVER-side once and rides the closure — Spark's TimestampType
    // formats instants in this zone, so anchoring an NTZ local value
    // here makes it display as written under ANY session timezone
    val sessionZone = spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID)
    spark.createDataset(files)
      .repartition(math.min(files.size, 64))
      .mapPartitions { it =>
        val taskConf = bcConf.value.value
        it.flatMap { file =>
          val p = new Path(file)
          val reader = open(p.getFileSystem(taskConf).getFileStatus(p),
            taskConf)
          try {
            val footer = reader.getFooter
            val blocks = footer.getBlocks
            (0 until blocks.size()).map { i =>
              val b = blocks.get(i)
              var mn: Option[Long] = None; var mx: Option[Long] = None
              var smn: Option[String] = None; var smx: Option[String] = None
              var dmn: Option[java.sql.Date] = None
              var dmx: Option[java.sql.Date] = None
              var tmn: Option[java.sql.Timestamp] = None
              var tmx: Option[java.sql.Timestamp] = None
              var nulls: Option[Long] = None
              val cols = b.getColumns
              var c = 0
              while (c < cols.size()) {
                val cc = cols.get(c)
                if (cc.getPath.toDotString == column) {
                  val st = cc.getStatistics
                  if (st != null && !st.isEmpty) {
                    if (st.isNumNullsSet) nulls = Some(st.getNumNulls)
                    val ann = cc.getPrimitiveType.getLogicalTypeAnnotation
                    if (st.hasNonNullValue) (st.genericGetMin, st.genericGetMax) match {
                      case (a: java.lang.Long, z: java.lang.Long) =>
                        ann match {
                          case t: org.apache.parquet.schema
                              .LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                            tmn = Some(tsOf(a.longValue, t.getUnit,
                              t.isAdjustedToUTC, sessionZone))
                            tmx = Some(tsOf(z.longValue, t.getUnit,
                              t.isAdjustedToUTC, sessionZone))
                          case _ =>
                            mn = Some(a.longValue); mx = Some(z.longValue)
                        }
                      case (a: java.lang.Integer, z: java.lang.Integer) =>
                        ann match {
                          case _: org.apache.parquet.schema
                              .LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
                            dmn = Some(dateOf(a.intValue))
                            dmx = Some(dateOf(z.intValue))
                          case _ =>
                            mn = Some(a.longValue); mx = Some(z.longValue)
                        }
                      case (a: org.apache.parquet.io.api.Binary,
                            z: org.apache.parquet.io.api.Binary)
                          if ann.isInstanceOf[org.apache.parquet.schema
                            .LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                        smn = Some(a.toStringUsingUTF8)
                        smx = Some(z.toStringUsingUTF8)
                      case _ => () // int96/float/raw binary: honest nulls
                    }
                  }
                }
                c += 1
              }
              (file, i, b.getRowCount, mn, mx, smn, smx, dmn, dmx,
                tmn, tmx, nulls, b.getCompressedSize, b.getTotalByteSize)
            }
          } finally reader.close()
        }
      }
      .toDF("file", "rg_idx", "n_rows", "col_min", "col_max",
        "col_min_str", "col_max_str", "col_min_date", "col_max_date",
        "col_min_ts", "col_max_ts",
        "col_nulls", "compressed_bytes", "total_bytes")
  }

  /** Epoch-days (parquet DATE) → java.sql.Date, timezone-proof via
    * LocalDate (a raw `new Date(days*86400000)` would shift across
    * the JVM default zone). */
  private def dateOf(days: Int): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.toLong))

  /** Parquet TIMESTAMP int64 in its declared unit → java.sql.Timestamp
    * (floorDiv/floorMod so pre-epoch values keep exact sub-second
    * parts), honoring the annotation's `isAdjustedToUTC` flag:
    *
    *  - adjusted (instant semantics): the int64 counts units since the
    *    UTC epoch — decode directly, exactly as before.
    *  - NTZ (local semantics — what pandas/pyarrow write for naive
    *    datetimes): the same arithmetic yields a LOCAL wall-clock
    *    value, not an instant. Decoding it as UTC would shift the
    *    displayed value by the session-zone offset whenever the
    *    session timezone isn't UTC. Instead the local datetime is
    *    ANCHORED in the session zone (`sessionZone`, resolved
    *    driver-side), so Spark's TimestampType — which formats in that
    *    same zone — renders the value exactly as the writer recorded
    *    it, under any session timezone. */
  private[sources] def tsOf(v: Long,
                   unit: org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit,
                   adjustedToUtc: Boolean, sessionZone: String)
      : java.sql.Timestamp = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    val (sec, nanos) = unit match {
      case TimeUnit.MILLIS =>
        (Math.floorDiv(v, 1000L), Math.floorMod(v, 1000L) * 1000000L)
      case TimeUnit.MICROS =>
        (Math.floorDiv(v, 1000000L), Math.floorMod(v, 1000000L) * 1000L)
      case TimeUnit.NANOS =>
        (Math.floorDiv(v, 1000000000L), Math.floorMod(v, 1000000000L))
    }
    if (adjustedToUtc) {
      val ts = new java.sql.Timestamp(sec * 1000L)
      ts.setNanos(nanos.toInt)
      ts
    } else {
      val local = java.time.LocalDateTime.ofEpochSecond(
        sec, nanos.toInt, java.time.ZoneOffset.UTC)
      java.sql.Timestamp.from(
        local.atZone(java.time.ZoneId.of(sessionZone)).toInstant)
    }
  }

  /** Footer-based skipping report for a range probe `[lo, hi]` on the
    * census column: per row group, whether predicate pushdown WOULD
    * skip it (min > hi or max < lo — the parquet reader's own rule).
    * Pure column arithmetic over [[rowGroupStats]] output. */
  def skippingReport(stats: DataFrame, lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    stats.withColumn("skippable",
      col("col_min").isNotNull && col("col_max").isNotNull &&
        (col("col_min") > hi || col("col_max") < lo))
  }

  /** [[skippingReport]] for a STRING range probe (text-keyed layouts —
    * the common crawl-corpus case). Sound even on truncated stats:
    * the footer's string min/max are lower/upper BOUNDS, so
    * `min > hi || max < lo` never skips a group that could match. */
  def skippingReportString(stats: DataFrame, lo: String,
                           hi: String): DataFrame = {
    import org.apache.spark.sql.functions._
    stats.withColumn("skippable",
      col("col_min_str").isNotNull && col("col_max_str").isNotNull &&
        (col("col_min_str") > hi || col("col_max_str") < lo))
  }

  /** `spark.read.parquet(dir)` without its schema-inference job.
    * Without a schema Spark runs a one-task job to read ONE footer;
    * this reads the same footer on the driver and hands its schema
    * to `spark.read.schema` — partition columns are still discovered
    * from the paths, so the frame, its schema (nullability, field
    * metadata, partition columns) and its plan equal the inferred
    * read's. Spark's pick is mirrored exactly: under its hidden-file
    * rule ([[hidden]]), a `_common_metadata` summary, else
    * `_metadata`, else the first data file by path; decoded from the
    * `org.apache.spark.sql.parquet.row.metadata` key, else converted
    * under the session's parquet settings
    * (`ParquetFileFormat.readSchemaFromFooter`). A path with no data
    * file, or a session with schema merging on, takes the plain read
    * and its errors. */
  def readParquet(spark: SparkSession, dir: String): DataFrame =
    footerSchema(spark, dir) match {
      case Some(schema) => spark.read.schema(schema).parquet(dir)
      case None => spark.read.parquet(dir)
    }

  private def footerSchema(spark: SparkSession,
                           dir: String): Option[StructType] = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.conf
    val hc = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(hc)
    if (conf.isParquetSchemaMergingEnabled || !fs.exists(root)) None
    else {
      val files = leafFiles(fs, fs.getFileStatus(root))
      def named(n: String) = files.find(_.getPath.getName == n)
      named("_common_metadata").orElse(named("_metadata"))
        .orElse(files.find(f => !isSummary(f))).map { f =>
          // the converter SchemaMergeUtils' footer job builds
          val converter = new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation =
              conf.parquetReaderRespectUnknownTypeAnnotation)
          val reader = open(f, hc)
          try ParquetFileFormat.readSchemaFromFooter(
            new org.apache.parquet.hadoop.Footer(f.getPath, reader.getFooter),
            converter)
          finally reader.close()
        }
    }
  }

  /** Every record of a small UNPARTITIONED parquet table under `dir`,
    * read on the driver as parquet-hadoop example `Group`s (files in
    * path order, records in file order) — no Spark job. For side
    * tables of a few thousand rows (index centers, `_kind` markers,
    * drift baselines), whose Spark read would cost a schema job plus
    * a collect job. A missing table throws; a partitioned one is
    * refused (the records would lack their partition values). */
  def driverRows(spark: SparkSession, dir: String): Seq[Group] = {
    val hc = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(hc)
    if (!fs.exists(root))
      throw new java.io.FileNotFoundException(s"no parquet table at $dir")
    val rootStatus = fs.getFileStatus(root)
    val files = leafFiles(fs, rootStatus).filterNot(isSummary)
    require(rootStatus.isFile ||
        files.forall(_.getPath.getParent == rootStatus.getPath),
      s"driverRows: $dir is partitioned; read it with Spark")
    files.flatMap { f =>
      val reader = open(f, hc)
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val io = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(schema)
        val rows = Vector.newBuilder[Group]
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val records = io.getRecordReader(pages, new org.apache.parquet
            .example.data.simple.convert.GroupRecordConverter(schema))
          var i = 0L
          while (i < pages.getRowCount) { rows += records.read(); i += 1 }
          pages = reader.readNextRowGroup()
        }
        rows.result()
      } finally reader.close()
    }
  }

  /** A parquet reader over `f` whose read options come from `hc`.
    * The options must be built from a LOADED configuration: parquet's
    * no-conf default builds a fresh Hadoop `Configuration` and parses
    * its XML resources, about 14 ms per open on a 4-core host. */
  private def open(f: FileStatus, hc: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, hc),
      org.apache.parquet.HadoopReadOptions.builder(hc, f.getPath).build())

  /** The files under `s` that Spark's file index lists, sorted by
    * path string (the order its schema inference picks from). */
  private def leafFiles(fs: FileSystem, s: FileStatus): Seq[FileStatus] = {
    def walk(s: FileStatus): Seq[FileStatus] =
      if (s.isFile) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => hidden(c.getPath.getName)).flatMap(walk)
    walk(s).sortBy(_.getPath.toString)
  }

  /** Spark's hidden-file rule (`HadoopFSUtils.shouldFilterOutPathName`):
    * names starting with `_` (except partition dirs, which hold `=`)
    * or `.`, and in-flight `._COPYING_` copies — but never the
    * `_common_metadata`/`_metadata` summaries. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  private def isSummary(f: FileStatus): Boolean = {
    val n = f.getPath.getName
    n == "_common_metadata" || n == "_metadata"
  }
}
