package graft.state

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.sources.ParquetMeta

/**
 * The durable-state core: how a batch-partitioned directory is laid
 * out and committed. The streaming curation tail
 * ([[graft.ops.Curate.streamingTail]], its state frames, output and
 * folds) and the persisted ANN indexes ([[graft.ops.SimSearch]]'s
 * cell layouts, append ledger and `_kind` markers) share it, as do
 * the tokenizer models ([[graft.ops.TokenizerStore]]).
 *
 * LAYOUT: a batch's rows live in a `__batch_id=<id>` partition of
 * their table, optionally under leading partition columns (an index
 * keeps `__cell=<c>/__batch_id=<id>`). Small metadata lives in
 * CONTROL FILES beside the data: `key=value` text, replaced
 * atomically (temp + rename-overwrite — atomic on POSIX and HDFS), so
 * a reader sees the old content or the new, never a partial or an
 * absent file. Names starting with `_` or `.` are invisible to
 * Spark's partition discovery, which is why every control file,
 * marker and staging dir is named that way.
 *
 * REPLAY SAFETY (the standard exactly-once recipe for idempotent
 * sinks): a batch writes its partitions by DYNAMIC partition
 * overwrite, so a retry rewrites its own partial files instead of
 * doubling them, and a batch's reads EXCLUDE its own partition, so a
 * retry is a from-scratch recompute of exactly that batch. Readers
 * of a folded table also exclude every id at or below the fold
 * boundary (`above`), which the fold's own base supersedes.
 *
 * The APPLIED LEDGER records which batch ids a table has taken: an
 * entry is the directory `applied/__batch_id=<id>`, created on the
 * driver after the batch's data commits (no Spark job). Ledgers
 * written as a one-row parquet partition at that path by earlier
 * builds are read the same way — the probe is the path's existence.
 *
 * The `_kind` MARKER names what a model or index dir holds (a
 * one-row parquet table with a `kind` column), so a load of the
 * wrong family fails loudly instead of decoding silently wrong; it
 * is read on the driver, with no Spark job.
 */
object State {

  /** The batch partition column. */
  val BatchCol = "__batch_id"

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fsOf(spark, p).exists(p)
  }

  def mkdirs(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    fsOf(spark, p).mkdirs(p)
  }

  /** Delete each path, recursively; an absent path is no error. */
  def delete(spark: SparkSession, paths: String*): Unit =
    paths.foreach { s => val p = new Path(s); fsOf(spark, p).delete(p, true) }

  // ----- control files ----------------------------------------------

  /** Write control file `name` under `dir` ATOMICALLY: the content
    * goes to `.<name>.tmp`, then a rename-overwrite replaces `name`. */
  def writeControl(spark: SparkSession, dir: String, name: String,
                   content: String): Unit = {
    val dirPath = new Path(dir)
    val fs = fsOf(spark, dirPath)
    fs.mkdirs(dirPath)
    val tmp = new Path(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(dirPath.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new Path(dir, name),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The content of control file `name` under `dir`; None when absent. */
  def readControl(spark: SparkSession, dir: String,
                  name: String): Option[String] = {
    val p = new Path(dir, name)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  /** The `key=value` lines of a control file's text; a value keeps
    * every `=` after the first (a column DDL may hold some). */
  def keyValues(text: String): Map[String, String] =
    text.linesIterator.filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); (k, v) }.toMap

  // ----- batch partitions -------------------------------------------

  def batchPath(dir: String, batchId: Long): String =
    s"$dir/$BatchCol=$batchId"

  /** The batch ids partitioned under `dir` (empty when it is absent);
    * control files, markers and staging dirs are not batches. */
  def batchIds(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(s"$BatchCol="))
      .map(_.stripPrefix(s"$BatchCol=").toLong)
  }

  def hasBatch(spark: SparkSession, dir: String, batchId: Long): Boolean =
    exists(spark, batchPath(dir, batchId))

  def dropBatches(spark: SparkSession, dir: String, ids: Seq[Long]): Unit =
    delete(spark, ids.map(batchPath(dir, _)): _*)

  /** Commit the directory `staged` as batch `batchId` of `dir` by one
    * atomic rename; fails loudly when the rename does (a partition of
    * that id already exists, say). */
  def commitBatch(spark: SparkSession, staged: String, dir: String,
                  batchId: Long): Unit = {
    val from = new Path(staged)
    if (!fsOf(spark, from).rename(from, new Path(batchPath(dir, batchId))))
      throw new java.io.IOException(
        s"staging rename of $staged into $BatchCol=$batchId failed")
  }

  /** THE batch-excluding read: the rows of every batch under `dir`
    * except `batchId`'s own and those at or below `above` (a fold
    * boundary), or None when `dir` holds no batch partition at all.
    * The existence check is explicit, not a catch: swallowing the read
    * error would also hide schema drift or foreign files. With
    * `tagged`, each row keeps its [[BatchCol]]. */
  def readExcluding(spark: SparkSession, dir: String, batchId: Long,
                    above: Long = Long.MinValue,
                    tagged: Boolean = false): Option[DataFrame] =
    if (batchIds(spark, dir).isEmpty) None
    else {
      val others = col(BatchCol) =!= lit(batchId)
      val rows = ParquetMeta.readParquet(spark, dir).where(
        if (above == Long.MinValue) others
        else others && col(BatchCol) > lit(above))
      Some(if (tagged) rows else rows.drop(BatchCol))
    }

  /** The rows of exactly the batches `ids` under `dir`. */
  def readBatches(spark: SparkSession, dir: String,
                  ids: Seq[Long]): DataFrame =
    ParquetMeta.readParquet(spark, dir)
      .where(col(BatchCol).isin(ids: _*)).drop(BatchCol)

  /** Write `df` as batch `batchId` of `dir`, under the `leading`
    * partition columns. `Overwrite` replaces only the partitions this
    * batch writes (dynamic partition overwrite — the replay-safe
    * write); `Append` adds files beside what is there. */
  def writeBatch(df: DataFrame, dir: String, batchId: Long,
                 leading: Seq[String] = Nil,
                 mode: SaveMode = SaveMode.Overwrite): Unit =
    writeTagged(df.withColumn(BatchCol, lit(batchId)), dir, leading, mode)

  /** [[writeBatch]] for rows that carry their own [[BatchCol]] (a
    * rebuild re-landing many batches in one write). */
  def writeTagged(df: DataFrame, dir: String, leading: Seq[String] = Nil,
                  mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.partitionBy(leading :+ BatchCol: _*).mode(mode)
    (if (mode == SaveMode.Overwrite) w.option("partitionOverwriteMode",
      "dynamic") else w).parquet(dir)
  }

  /** Replace the WHOLE table under `dir` with `df` as batch `batchId`
    * (a save of a new version: every earlier batch goes). */
  def replaceWithBatch(df: DataFrame, dir: String, batchId: Long,
                       leading: Seq[String] = Nil): Unit =
    df.withColumn(BatchCol, lit(batchId)).write.mode(SaveMode.Overwrite)
      .partitionBy(leading :+ BatchCol: _*).parquet(dir)

  // ----- applied-batch ledger ---------------------------------------

  private def ledger(dir: String) = s"$dir/applied"

  /** Has batch `batchId` been recorded as applied to `dir`? */
  def applied(spark: SparkSession, dir: String, batchId: Long): Boolean =
    hasBatch(spark, ledger(dir), batchId)

  /** Record batch `batchId` as applied to `dir`: one directory created
    * on the driver. Call it only after the batch's data committed. */
  def recordApplied(spark: SparkSession, dir: String, batchId: Long): Unit = {
    val p = new Path(batchPath(ledger(dir), batchId))
    if (!fsOf(spark, p).mkdirs(p)) throw new java.io.IOException(
      s"could not record batch $batchId in the ledger at ${ledger(dir)}")
  }

  /** Forget every applied batch of `dir` (a new version takes batch
    * ids afresh). */
  def clearLedger(spark: SparkSession, dir: String): Unit =
    delete(spark, ledger(dir))

  // ----- the _kind marker -------------------------------------------

  def writeKind(spark: SparkSession, dir: String, kind: String): Unit = {
    import spark.implicits._
    Seq(kind).toDF("kind").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_kind")
  }

  /** The `_kind` marker of `dir`, read on the driver; None when the
    * dir has none. */
  def kindOf(spark: SparkSession, dir: String): Option[String] =
    if (!exists(spark, s"$dir/_kind")) None
    else Some(ParquetMeta.driverRows(spark, s"$dir/_kind").head
      .getString("kind", 0))
}
