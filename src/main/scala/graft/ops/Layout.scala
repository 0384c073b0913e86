package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/**
 * Physical-layout operators for shuffle management at scale:
 * bucketing for co-located joins, and salting for skewed keys.
 * Extension surface (the reference runs Spark defaults everywhere,
 * SURVEY.md §4).
 *
 * Why this matters at 100 TB: a fact-fact equi-join shuffles both
 * sides every query. Bucketing pre-partitions the data ON DISK by the
 * join key, so repeated joins on that key skip the exchange entirely
 * (plan shows no Exchange on the bucketed sides). Salting splits a hot
 * key across `saltFactor` sub-keys so one executor doesn't serialize
 * the whole skewed partition — AQE's skew-join handles moderate skew
 * automatically, salting is for the pathological tail.
 */
object Layout {

  /** Write `df` as a bucketed+sorted table (requires a table catalog;
    * bucket layout is what lets later same-key joins skip their
    * shuffles). With `path` set the table is EXTERNAL — data lands at
    * the given location instead of the session warehouse, so callers
    * (e.g. the q92 round-trip query) can bucket into a temp dir they
    * own and clean up. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, path: String = ""): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
    (if (path.nonEmpty) w.option("path", path) else w).saveAsTable(table)
  }

  /**
   * Skew-safe equi-join: explode the SMALL side `saltFactor` times and
   * salt the big side's key with a deterministic hash-derived salt in
   * [0, saltFactor). Each hot key spreads over `saltFactor` reduce
   * partitions. Results are identical to a plain equi-join on `key`.
   */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltFactor: Int): DataFrame = {
    require(saltFactor > 0)
    // deterministic per-row salt derived from the full row hash
    val bigSalted = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(col).toSeq: _*), lit(saltFactor)).cast("int"))
    val smallExploded = small.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    bigSalted.join(smallExploded, Seq(key, "__salt")).drop("__salt")
  }

  /** Pre-partition two frames identically so a subsequent join reuses
    * the partitioning (one shuffle each, reused across downstream
    * same-key operations instead of re-shuffling per join). */
  def copartition(a: DataFrame, b: DataFrame, key: String,
                  partitions: Int): (DataFrame, DataFrame) =
    (a.repartition(partitions, col(key)), b.repartition(partitions, col(key)))

  /**
   * Key-skew diagnostic: the top-k keys by row count with each key's
   * corpus share and its skew ratio (count / mean count over ALL
   * keys) — the decision input for [[saltedJoin]] vs AQE skew handling
   * vs plain hash join (a skew ratio near 1 means salting only adds
   * overhead; 100+ means one reducer serializes the key).
   *
   * Plan shape: one partial+final hash aggregate over the input (the
   * only pass that sees full rows), then the global mean is a scalar
   * aggregate over the (small) per-key counts crossed back in as a
   * broadcast literal — nothing wide ever collects to one partition.
   */
  def keySkewReport(df: DataFrame, keyCol: String, k: Int = 10): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n_rows"))
    val stats = counts.agg(
      sum(col("n_rows")).as("__total"),
      count(lit(1)).as("__nkeys"))
    counts.crossJoin(broadcast(stats))
      .select(col(keyCol), col("n_rows"),
        round(col("n_rows") / col("__total"), 4).as("share"),
        // multiply in double: long x long wraps at ~1e12 rows x ~1e7
        // keys — exactly the scale this diagnostic targets — and a
        // wrapped negative "skew" on the hottest key defeats the point
        round(col("n_rows").cast("double") * col("__nkeys") / col("__total"), 4)
          .as("skew"))
      // asc_nulls_last: Spark sorts NULL keys first ascending, DuckDB
      // last — a null key tying at the top-k boundary must not flip
      // the cross-engine compare
      .orderBy(desc("n_rows"), col(keyCol).asc_nulls_last)
      .limit(k)
  }

  /** Small-file compaction plan: pack a file inventory into target-size
    * bins, per table partition, in deterministic file-name order — the
    * lakehouse `OPTIMIZE`/bin-packing shape. A file lands in bin
    * `floor(exclusive-prefix-bytes / targetBytes)`, so bins fill
    * sequentially and a file larger than the target gets a bin of its
    * own (plus spillover, the standard behavior).
    *
    * The input is a file INVENTORY (one metadata row per file), so the
    * per-partition window is metadata-sized — millions of files is
    * still trivial next to the data they describe. Returns the
    * inventory with a `bin` column appended.
    */
  def compactionBins(files: DataFrame, partCol: String, fileCol: String,
                     bytesCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(partCol).orderBy(fileCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = coalesce(sum(col(bytesCol)).over(w), lit(0L))
    // exact integer division (the ZOrder.quantized contract): values
    // stay below 2^53 for any real inventory, so the IEEE quotient of
    // the pmod-adjusted numerator is the exact integer result
    val bin = ((cum - pmod(cum, lit(targetBytes))) / targetBytes)
      .cast("long")
    files.withColumn("bin", bin)
  }

  /** Per-bin summary of [[compactionBins]]: file count, total bytes,
    * and the name range each merged output would cover. */
  def compactionPlan(files: DataFrame, partCol: String, fileCol: String,
                     bytesCol: String, targetBytes: Long): DataFrame =
    compactionBins(files, partCol, fileCol, bytesCol, targetBytes)
      .groupBy(col(partCol), col("bin"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(col(bytesCol)).as("bytes"),
        min(col(fileCol)).as("first_file"),
        max(col(fileCol)).as("last_file"))
      .orderBy(partCol, "bin")

  /** Adjacent-pair same-group rate of a layout: within each training
    * file (`fileCol`), read rows in `orderCol` order and count how
    * often consecutive rows share `groupCol` — the decorrelation
    * diagnostic that says whether a "shuffled" training order actually
    * decorrelated sources (compare against the independence baseline
    * Σ share² from [[Queries]]' q124, and against the raw layout). One
    * lag window PARTITIONED BY file — boundaries between files are
    * deliberately not pairs (a reader never sees them adjacent). */
  def adjacencyRate(df: DataFrame, groupCol: String, fileCol: String,
                    orderCol: String, label: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!df.columns.contains("__prev"),
      "input column __prev collides with adjacencyRate's temp name")
    val w = Window.partitionBy(col(fileCol)).orderBy(col(orderCol).asc)
    df.withColumn("__prev", lag(col(groupCol), 1).over(w))
      .where(col("__prev").isNotNull)
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col(groupCol) === col("__prev"), 1L).otherwise(0L))
          .as("n_same"))
      .select(lit(label).as("layout"), col("n_pairs"), col("n_same"),
        round(col("n_same") / (col("n_pairs") * lit(1.0)), 4).as("rate"))
  }
}
