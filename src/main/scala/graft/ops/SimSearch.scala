package graft.ops

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._

import graft.sources.ParquetMeta
import graft.state.State

/**
 * Similarity search over an embedding column (`Array[Float]`) —
 * extension surface for LLM-data pipelines.
 *
 * Two paths:
 *  - [[cosineTopK]]: brute-force cosine top-k — the exact baseline.
 *    One narrow map stage (higher-order zip_with/aggregate, codegen) +
 *    a top-k sort of scores only. At 100 TB this is the *per-partition
 *    scan* building block: TakeOrderedAndProject keeps only k rows per
 *    partition, so nothing but (id, score) pairs ever shuffles.
 *  - [[annLshTopK]]: random-hyperplane (SRP) LSH bucketing — the scale
 *    path. Signature bits come from seeded hyperplanes, candidates are
 *    the query's bucket plus single-bit-flip probes, reranked exactly.
 *    Recall/latency tunable by (bits, probes); the bucket join is an
 *    equi-join on the bucket key, never a cartesian.
 */
object SimSearch {

  /** Dot product of two double-array columns, per row. `zip_with` and
    * `aggregate` are higher-order functions, evaluated interpreted
    * (`CodegenFallback`) inside the generated stage. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Embedding width from the first row with a non-null vector; 0 for
    * an empty frame (callers then return empty results instead of
    * throwing — an empty ingest/query tick is a legitimate input). */
  private def dimOf(df: DataFrame, vecCol: String): Int =
    df.where(col(vecCol).isNotNull).select(size(col(vecCol)))
      .head(1).headOption.map(_.getInt(0)).getOrElse(0)

  /** Multi-probe bucket set: the own bucket plus every single-bit
    * flip — THE probe policy, shared by every SRP path (and mirrored
    * by the SQL oracle generators; change all together). */
  private def multiProbe(bucket: Column, bits: Int): Column =
    array((0 to bits).map {
      case 0 => bucket
      case i => bucket.bitwiseXOR(lit(1 << (i - 1)))
    }: _*)

  // ---------------------------------------------------------------
  // The ranked-serving core every top-k search shares: prune to the
  // candidate rows, score them with one Score, rank ONCE — rankTop
  // for a single query, rankPerQuery for a query set.
  // ---------------------------------------------------------------

  /** A search's score column: its name, rounding and rank direction.
    * Scores are rounded BEFORE ranking, so the id-ascending tie-break
    * sees the same values the SQL oracles compute. */
  private final case class Score(name: String, digits: Int,
                                 descending: Boolean) {
    def of(raw: Column): Column = round(raw, digits).as(name)
    def order: Column = if (descending) desc(name) else asc(name)
  }

  /** Cosine similarity: 4 decimals, highest first. */
  private val CosineScore = Score("cosine", 4, descending = true)

  /** ADC approximate squared L2: 6 decimals, smallest first. */
  private val AdcScore = Score("adc_dist", 6, descending = false)

  /** [[CosineScore]] of each row's `vecCol` against the query `q`. */
  private def cosineTo(vecCol: String, q: Column): Column =
    CosineScore.of(cosine(asDouble(col(vecCol)), q))

  /** The single-query rank step: the `k` best-scored rows of
    * `scored`, ties by id ascending. ORDER BY + LIMIT compiles to
    * TakeOrderedAndProject, so only k rows per partition move. */
  private def rankTop(scored: DataFrame, idCol: String, score: Score,
                      k: Int): DataFrame =
    scored.orderBy(score.order, col(idCol)).limit(k)

  /** The per-query rank step: per `__qid`, the `k` best-scored rows
    * of `scored`, ties by id ascending (a row_number window over the
    * narrow scored rows), as (query_id, idCol, score). */
  private def rankPerQuery(scored: DataFrame, idCol: String, score: Score,
                           k: Int): DataFrame = {
    val w = Window.partitionBy(col("__qid")).orderBy(score.order, col(idCol))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("__qid").as("query_id"), col(idCol), col(score.name))
  }

  /**
   * Exact cosine top-k neighbors of the row with `queryId`
   * ([[rankTop]] of [[CosineScore]]). The query vector travels as a
   * one-row broadcast (no shuffle of the corpus).
   */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
                 queryId: Long, k: Int): DataFrame = {
    val q = df.where(col(idCol) === queryId)
      .select(asDouble(col(vecCol)).as("__q"))
    rankTop(df.where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), cosineTo(vecCol, col("__q"))),
      idCol, CosineScore, k)
  }

  /** Deterministic random hyperplanes: `bits` x `dim`, seeded. */
  private[ops] def hyperplanes(bits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits, dim)(rnd.nextGaussian())
  }

  /** SRP bucket id of a vector: sign bit per hyperplane. */
  private[ops] def srpBucket(v: Seq[Float], planes: Array[Array[Double]]): Int = {
    var bucket = 0
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      var s = 0.0
      var i = 0
      val n = math.min(p.length, v.length)
      while (i < n) { s += p(i) * v(i); i += 1 }
      if (s > 0) bucket |= (1 << b)
      b += 1
    }
    bucket
  }

  def srpBucketUdf(bits: Int, dim: Int, seed: Long): UserDefinedFunction = {
    val planes = hyperplanes(bits, dim, seed)
    udf((v: Seq[Float]) => if (v == null) 0 else srpBucket(v, planes))
  }

  /**
   * ANN top-k: SRP-bucket the corpus (one map stage; bucketing can be
   * precomputed and persisted in production), then rerank only the
   * candidates in the query's bucket or one bit-flip away (multi-probe,
   * `1+bits` buckets). Exact rerank uses the same cosine expressions.
   */
  def annLshTopK(df: DataFrame, idCol: String, vecCol: String,
                 queryId: Long, k: Int, bits: Int = 8,
                 seed: Long = 42L): DataFrame = {
    // derive the embedding width from the data (a hardcoded dim would
    // silently bucket 768-dim vectors by their first components only)
    val dim = dimOf(df, vecCol)
    val bucketOf = srpBucketUdf(bits, dim, seed)
    val bucketed = df.withColumn("__bucket", bucketOf(col(vecCol)))
    val qRow = bucketed.where(col(idCol) === queryId)
      .select(asDouble(col(vecCol)).as("__q"), col("__bucket").as("__qb"))
    val probes = qRow.select(col("__q"),
      explode(multiProbe(col("__qb"), bits)).as("__bucket"))
    rankTop(bucketed.where(col(idCol) =!= queryId)
      .join(broadcast(probes), Seq("__bucket"))
      .select(col(idCol), cosineTo(vecCol, col("__q"))),
      idCol, CosineScore, k)
  }

  /** SRP bucket index of a corpus: the fit-once artifact behind
    * [[annLshTopKBatch]]. At scale this is computed when a batch lands
    * and written bucketed/partitioned by `__bucket`, so query-time
    * probes prune at the file level and the corpus never re-buckets. */
  def srpIndex(df: DataFrame, vecCol: String, bits: Int = 8,
               seed: Long = 42L): DataFrame = {
    require(!df.columns.contains("__bucket"),
      "input column __bucket collides with srpIndex's reserved name")
    val dim = dimOf(df, vecCol)
    df.withColumn("__bucket", srpBucketUdf(bits, dim, seed)(col(vecCol)))
  }

  /**
   * Batch ANN: every row of `queries` gets its cosine top-k from the
   * corpus via one bucket equi-join — the production serving shape,
   * amortizing the index over the whole query set instead of launching
   * a job per query ([[annLshTopK]] is the single-query form).
   *
   * Plan shape: the corpus side is [[srpIndex]] output (precomputable;
   * with a bucketed layout only the query side moves); the query set —
   * small relative to the corpus by definition — is exploded into
   * `1+bits` multi-probe rows and broadcast, so the bucket join never
   * shuffles the corpus ([[srpProbeJoin]]); the per-query rerank
   * shuffles only narrow (qid, id, cosine) rows for [[rankPerQuery]].
   * Query and corpus ids must be disjoint (one id namespace).
   */
  def annLshTopKBatch(corpus: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      bits: Int = 8, seed: Long = 42L): DataFrame =
    rankPerQuery(srpProbeJoin(corpus, queries, idCol, vecCol, bits, seed,
      "annLshTopKBatch's")
      .select(col("__qid"), col(idCol), cosineTo(vecCol, col("__q"))),
      idCol, CosineScore, k)

  /** The SRP probe side of the batch searches: the corpus bucketed
    * into `__bucket`, joined with the query set exploded into
    * (`__qid`, `__q`, each `carry` column under its alias,
    * `__bucket`) [[multiProbe]] rows and broadcast. ONE hyperplane
    * matrix buckets both sides, derived from the corpus width:
    * sniffing dim per side would bucket the two frames with DIFFERENT
    * plane matrices if their widths disagree, and the join would
    * silently return near-empty garbage instead of failing. Width 0
    * is an empty side (a legitimate empty ingest/query tick -> empty
    * result); only a genuine width disagreement is an error. `op`
    * names the caller in the reserved-name error. */
  private def srpProbeJoin(corpus: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String, bits: Int,
                           seed: Long, op: String,
                           carry: Seq[(String, String)] = Nil): DataFrame = {
    require(!corpus.columns.contains("__bucket") &&
      !queries.columns.contains("__bucket"),
      s"input column __bucket collides with $op reserved name")
    val dim = dimOf(corpus, vecCol)
    val qDim = dimOf(queries, vecCol)
    require(qDim == 0 || dim == 0 || qDim == dim,
      s"query embedding width $qDim != corpus width $dim")
    val bucketOf = srpBucketUdf(bits, dim, seed)
    val probes = queries.withColumn("__bucket", bucketOf(col(vecCol)))
      .select((Seq(col(idCol).as("__qid"), asDouble(col(vecCol)).as("__q")) ++
        carry.map { case (c, a) => col(c).as(a) } :+
        col("__bucket").as("__qb")): _*)
      .select((Seq(col("__qid"), col("__q")) ++ carry.map(c => col(c._2)) :+
        explode(multiProbe(col("__qb"), bits)).as("__bucket")): _*)
    corpus.withColumn("__bucket", bucketOf(col(vecCol)))
      .join(broadcast(probes), Seq("__bucket"))
  }

  /**
   * Hard-negative mining for contrastive training: per query, the `m`
   * most-similar corpus items with a DIFFERENT label — the negatives
   * that actually move an embedding model (random negatives are too
   * easy). Similarity is capped above by `maxSim` (an item nearly
   * identical to the query is likelier a mislabeled POSITIVE than a
   * useful negative — the standard false-negative guard) and floored
   * by `minSim`; both bounds compare on the rounded [[CosineScore]]
   * the ranking uses, so the gate is cross-engine exact.
   *
   * Same scale shape as [[annLshTopKBatch]] ([[srpProbeJoin]], then
   * [[rankPerQuery]] over narrow rows); the label rides each side's
   * row, so the mismatch filter applies at candidate time — filtering
   * AFTER a label-blind top-k would starve queries whose
   * neighborhoods are same-label.
   */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, m: Int,
                    bits: Int = 8, seed: Long = 42L,
                    minSim: Double = 0.0,
                    maxSim: Double = 0.999): DataFrame = {
    require(m > 0, "m must be positive")
    require(minSim < maxSim, "need minSim < maxSim")
    val scored = srpProbeJoin(corpus, queries, idCol, vecCol, bits, seed,
      "hardNegatives'", Seq(labelCol -> "__ql"))
      // null-safe inequality: an unlabeled item is NOT a certified
      // negative for anything — both nulls and label matches drop
      .where(!(col(labelCol) <=> col("__ql")) &&
        col(labelCol).isNotNull && col("__ql").isNotNull)
      .select(col("__qid"), col(idCol), cosineTo(vecCol, col("__q")))
      .where(col("cosine") >= minSim && col("cosine") <= maxSim)
    rankPerQuery(scored, idCol, CosineScore, m)
  }

  /** DuckDB oracle for [[hardNegatives]]: [[annLshBatchOracleSql]]'s
    * replay plus the label join (`labelTable`/`labelId`/`labelCol`),
    * the null-safe mismatch rule, and the rounded-cosine band. */
  def hardNegativesOracleSql(table: String, idCol: String, vecCol: String,
                             labelTable: String, labelId: String,
                             labelCol: String,
                             queryPred: String, corpusPred: String,
                             m: Int, bits: Int, dim: Int, seed: Long,
                             minSim: Double, maxSim: Double): String = {
    val planes = hyperplanes(bits, dim, seed)
    val planeRows = planes.zipWithIndex.map { case (p, b) =>
      s"($b, [${p.mkString(",")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""WITH planes(b, p) AS (VALUES
       |    $planeRows),
       |emb AS (SELECT e.$idCol AS vid, CAST(e.$vecCol AS DOUBLE[]) AS v,
       |               l.$labelCol AS lab
       |        FROM $table e JOIN $labelTable l ON l.$labelId = e.$idCol),
       |sig AS (
       |  SELECT e.vid,
       |         CAST(sum(CASE WHEN list_dot_product(pl.p, e.v) > 0
       |                       THEN 1 << pl.b ELSE 0 END) AS INT) AS bucket
       |  FROM emb e CROSS JOIN planes pl GROUP BY e.vid),
       |probes AS (
       |  SELECT vid AS qid, bucket FROM sig WHERE $queryPred
       |  UNION
       |  SELECT vid AS qid, xor(bucket, 1 << f.i)
       |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${bits - 1})) AS i) f
       |  WHERE $queryPred),
       |cand AS (
       |  SELECT p.qid, s.vid
       |  FROM sig s JOIN probes p ON s.bucket = p.bucket
       |  WHERE $corpusPred),
       |scored AS (
       |  SELECT c.qid, c.vid,
       |         round(list_dot_product(e.v, q.v) /
       |               (sqrt(list_dot_product(e.v, e.v)) *
       |                sqrt(list_dot_product(q.v, q.v))), 4) AS cosine
       |  FROM cand c
       |  JOIN emb e ON e.vid = c.vid
       |  JOIN emb q ON q.vid = c.qid
       |  WHERE e.lab IS NOT NULL AND q.lab IS NOT NULL
       |    AND e.lab <> q.lab),
       |ranked AS (
       |  SELECT qid, vid, cosine,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY cosine DESC, vid) AS rn
       |  FROM scored WHERE cosine >= $minSim AND cosine <= $maxSim)
       |SELECT qid AS query_id, vid AS $idCol, cosine
       |FROM ranked WHERE rn <= $m
       |ORDER BY query_id, cosine DESC, $idCol""".stripMargin
  }

  /**
   * DuckDB oracle for [[annLshTopKBatch]]: the [[annLshOracleSql]]
   * replay generalized to a query SET — signatures for both sides,
   * per-query multi-probe, and a row_number window for the per-query
   * top-k. `queryPred` / `corpusPred` are SQL predicates over the CTE
   * alias `vid` (the id column) selecting the two disjoint sides,
   * e.g. "vid < 5" / "vid >= 5".
   */
  def annLshBatchOracleSql(table: String, idCol: String, vecCol: String,
                           queryPred: String, corpusPred: String, k: Int,
                           bits: Int, dim: Int, seed: Long): String = {
    val planes = hyperplanes(bits, dim, seed)
    val planeRows = planes.zipWithIndex.map { case (p, b) =>
      s"($b, [${p.mkString(",")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""WITH planes(b, p) AS (VALUES
       |    $planeRows),
       |emb AS (SELECT $idCol AS vid, CAST($vecCol AS DOUBLE[]) AS v
       |        FROM $table),
       |sig AS (
       |  SELECT e.vid,
       |         CAST(sum(CASE WHEN list_dot_product(pl.p, e.v) > 0
       |                       THEN 1 << pl.b ELSE 0 END) AS INT) AS bucket
       |  FROM emb e CROSS JOIN planes pl GROUP BY e.vid),
       |probes AS (
       |  SELECT vid AS qid, bucket FROM sig WHERE $queryPred
       |  UNION
       |  SELECT vid AS qid, xor(bucket, 1 << f.i)
       |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${bits - 1})) AS i) f
       |  WHERE $queryPred),
       |cand AS (
       |  SELECT p.qid, s.vid
       |  FROM sig s JOIN probes p ON s.bucket = p.bucket
       |  WHERE $corpusPred),
       |scored AS (
       |  SELECT c.qid, c.vid,
       |         round(list_dot_product(e.v, q.v) /
       |               (sqrt(list_dot_product(e.v, e.v)) *
       |                sqrt(list_dot_product(q.v, q.v))), 4) AS cosine
       |  FROM cand c
       |  JOIN emb e ON e.vid = c.vid
       |  JOIN emb q ON q.vid = c.qid),
       |ranked AS (
       |  SELECT qid, vid, cosine,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY cosine DESC, vid) AS rn
       |  FROM scored)
       |SELECT qid AS query_id, vid AS $idCol, cosine
       |FROM ranked WHERE rn <= $k
       |ORDER BY query_id, cosine DESC, $idCol""".stripMargin
  }

  /**
   * DuckDB oracle for [[annLshTopK]]: replays the WHOLE SRP pipeline —
   * bucket signatures, multi-probe candidate set, exact-cosine rerank —
   * in SQL, so the cross-engine check validates the LSH semantics, not
   * just the final ranking. The seeded hyperplanes are embedded as
   * literals (generated here by the same [[hyperplanes]] call the Spark
   * side uses); `dim` must match the corpus embedding width (the Spark
   * side derives it from the data — 64 in the driver's testdata).
   * Strict `> 0` sign threshold and `round(.., 4)`-then-order tie-break
   * mirror [[srpBucket]] / [[annLshTopK]] exactly.
   */
  def annLshOracleSql(table: String, idCol: String, vecCol: String,
                      queryId: Long, k: Int, bits: Int, dim: Int,
                      seed: Long): String = {
    val planes = hyperplanes(bits, dim, seed)
    val planeRows = planes.zipWithIndex.map { case (p, b) =>
      s"($b, [${p.mkString(",")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""WITH planes(b, p) AS (VALUES
       |    $planeRows),
       |emb AS (SELECT $idCol AS vid, CAST($vecCol AS DOUBLE[]) AS v
       |        FROM $table),
       |sig AS (
       |  SELECT e.vid,
       |         CAST(sum(CASE WHEN list_dot_product(pl.p, e.v) > 0
       |                       THEN 1 << pl.b ELSE 0 END) AS INT) AS bucket
       |  FROM emb e CROSS JOIN planes pl GROUP BY e.vid),
       |qv AS (SELECT v FROM emb WHERE vid = $queryId),
       |qb AS (SELECT bucket FROM sig WHERE vid = $queryId),
       |probes AS (
       |  SELECT bucket FROM qb
       |  UNION
       |  SELECT xor(qb.bucket, 1 << f.i)
       |  FROM qb CROSS JOIN (SELECT unnest(generate_series(0, ${bits - 1})) AS i) f),
       |cand AS (
       |  SELECT s.vid FROM sig s JOIN probes p ON s.bucket = p.bucket
       |  WHERE s.vid <> $queryId)
       |SELECT e.vid AS $idCol,
       |       round(list_dot_product(e.v, q.v) /
       |             (sqrt(list_dot_product(e.v, e.v)) *
       |              sqrt(list_dot_product(q.v, q.v))), 4) AS cosine
       |FROM cand c JOIN emb e ON c.vid = e.vid CROSS JOIN qv q
       |ORDER BY cosine DESC, e.vid
       |LIMIT $k""".stripMargin
  }

  /**
   * Precomputed IVF (inverted-file) index: a KMeans coarse quantizer
   * partitions the corpus into `nlist` cells; `assigned` carries the
   * per-row cell id. This is the SCALE path — fit once per corpus
   * version (on a sample if the corpus is huge), persist `assigned`
   * (in production: write it bucketed by `__cell` so probes prune
   * files), then serve every query from the index. Cell assignment is
   * one narrow map stage per ingest batch.
   */
  final case class IvfIndex(centers: Array[Array[Double]],
                            assigned: DataFrame, idCol: String,
                            vecCol: String)

  /** Fit the coarse quantizer and assign every row to its cell.
    * Deterministic via seed. `sampleFraction` < 1.0 fits KMeans on a
    * deterministic md5-bucket sample of ids ([[Splits.hashBucket]] —
    * NOT `DataFrame.sample`, whose output depends on partition layout
    * and would make "fit once per corpus version" unreproducible);
    * assignment still covers every row. */
  def ivfFit(df: DataFrame, idCol: String, vecCol: String,
             nlist: Int = 16, seed: Long = 42L,
             sampleFraction: Double = 1.0,
             maxIter: Int = 20): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val featured = df.withColumn("__feat",
      array_to_vector(asDouble(col(vecCol))))
    val fitOn =
      if (sampleFraction >= 1.0) featured
      else featured.where(Splits.hashBucket(col(idCol), 10000) <
        math.round(math.max(0.0, math.min(1.0, sampleFraction)) * 10000).toInt)
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__feat").setPredictionCol("__cell")
      .fit(fitOn)
    val assigned = model.transform(featured).drop("__feat")
    IvfIndex(model.clusterCenters.map(_.toArray), assigned, idCol, vecCol)
  }

  /** The `__batch_id` partition value fit-time rows land under: the
    * append ledger reserves negative ids for the base corpus version,
    * so [[ivfAppend]]/[[ivfPqAppend]] batch ids (>= 0) can never
    * collide with it. */
  private val FitBatchId = -1L

  /** MIGRATE a pre-ledger index layout in place: indexes persisted
    * before the exactly-once ledger existed are partitioned by
    * `__cell` ONLY (data files sit directly in each cell directory).
    * Appending a (`__cell`, `__batch_id`) partition to such a layout
    * would leave MIXED partition depths under one root, and Spark's
    * partition discovery then fails the next load with "conflicting
    * partition column names" — the index becomes unreadable. The fix
    * is a pure metadata restructure: every data file found at cell
    * depth moves under that cell's `__batch_id=-1` subdirectory (the
    * reserved fit-time partition — exactly where a fresh save would
    * have put those rows). File renames only, no data rewrite;
    * IDEMPOTENT and crash-safe (a half-migrated cell is finished by
    * the next attempt before anything reads the mixed layout, because
    * every append path runs this first). */
  private def migrateLegacyCellLayout(
      spark: org.apache.spark.sql.SparkSession, dataDir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dataDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__cell="))
      .foreach { cell =>
        val legacy = fs.listStatus(cell.getPath).filter { s =>
          val n = s.getPath.getName
          s.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        if (legacy.nonEmpty) {
          val dest = new org.apache.hadoop.fs.Path(
            State.batchPath(cell.getPath.toString, FitBatchId))
          fs.mkdirs(dest)
          legacy.foreach { f =>
            // Hadoop FileSystem.rename reports failure by RETURNING
            // false, not throwing — swallowing it would leave the
            // mixed-depth layout this migration exists to prevent,
            // with nothing pointing at the unmoved file
            val to = new org.apache.hadoop.fs.Path(dest, f.getPath.getName)
            if (!fs.rename(f.getPath, to)) throw new java.io.IOException(
              s"migrateLegacyCellLayout: rename ${f.getPath} -> $to " +
                "failed — the index layout is still mixed-depth; " +
                "resolve the filesystem issue and retry the append")
          }
        }
      }
  }

  /** Delete the per-corpus-version side state a REFIT invalidates:
    * the drift baseline (a stale one would load cleanly under the same
    * nlist and silently compare against the previous version's cell
    * shares) and the applied-batch ledger (batch ids are scoped to a
    * corpus version — a new version must accept them afresh). */
  private def clearVersionState(spark: org.apache.spark.sql.SparkSession,
                                dir: String): Unit = {
    State.delete(spark, s"$dir/baseline_cells", s"$dir/baseline_meta")
    State.clearLedger(spark, dir)
  }

  /** Persist a fitted [[IvfIndex]]: the assigned corpus goes to
    * parquet PARTITIONED BY (`__cell`, `__batch_id`) — cell first, so
    * a served probe of nprobe cells prunes to nprobe directories at
    * the scan (the file-level pruning the ivfSearch scaladoc
    * promises); the batch level underneath is what makes
    * [[ivfAppend]]'s exactly-once contract possible (a retried batch
    * dynamic-overwrites its own partitions instead of double-
    * appending). Fit-time rows land under the reserved
    * `__batch_id=-1`. The (tiny) centers go to a (cell, pos, w) side
    * table. This is the missing half of "fit once per corpus
    * version": the index outlives the session and every serving job
    * loads it instead of re-running KMeans. */
  def ivfSave(index: IvfIndex, dir: String): Unit =
    saveCells(index.assigned, index.centers, dir, "assigned")

  /** THE save core of both cell-partitioned layouts ([[ivfSave]]'s
    * `assigned`, [[ivfPqSave]]'s `codes`): the fitted rows under the
    * reserved fit partition of `dir/table`, the centers' (cell, pos,
    * w) side table, and — a save being a new corpus version — the
    * stale drift baseline and applied-batch ledger dropped
    * ([[clearVersionState]]). */
  private def saveCells(rows: DataFrame, centers: Array[Array[Double]],
                        dir: String, table: String): Unit = {
    val spark = rows.sparkSession
    import spark.implicits._
    State.replaceWithBatch(rows, s"$dir/$table", FitBatchId, Seq("__cell"))
    centers.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (w, p) => (i, p, w) }
    }.toSeq.toDF("cell", "pos", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centers")
    clearVersionState(spark, dir)
  }

  /** Load an [[IvfIndex]] persisted by [[ivfSave]] — with NO Spark
    * job: the centers are read on the driver ([[loadCenters]]) and
    * `assigned` stays a lazy scan whose schema comes from one footer
    * read on the driver ([[graft.sources.ParquetMeta.readParquet]]),
    * not from Spark's schema-inference job. */
  def ivfLoad(spark: org.apache.spark.sql.SparkSession, dir: String,
              idCol: String, vecCol: String): IvfIndex = {
    val centers = loadCenters(spark, dir)
    IvfIndex(centers, ParquetMeta.readParquet(spark, s"$dir/assigned"),
      idCol, vecCol)
  }

  /** The persisted centers (the (cell, pos, w) side table), read on
    * the driver ([[graft.sources.ParquetMeta.driverRows]]): about
    * nlist x dim rows, for which a Spark read would cost a schema job
    * plus a collect job on every load and every append. */
  private def loadCenters(spark: org.apache.spark.sql.SparkSession,
                          dir: String): Array[Array[Double]] =
    ParquetMeta.driverRows(spark, s"$dir/centers")
      .map(g => (g.getInteger("cell", 0), g.getInteger("pos", 0),
        g.getDouble("w", 0)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3).toArray }
      .toArray

  /** APPEND an ingest batch to a persisted IVF index WITHOUT refit —
    * the incremental half of "fit once per corpus version": each new
    * vector goes to its nearest center ([[assignCells]]: exact argmin,
    * first cell wins ties — KMeans.transform's own convention, so
    * appended assignments match what a refit-with-identical-centers
    * would store; OpsSpec pins that) and lands, raw, in its `__cell`
    * partition alongside the existing corpus. Probes prune to nprobe
    * partition directories exactly as before; new vectors are
    * servable the moment the write commits. Exactly-once with
    * `batchId`, plain append without it, and the single-writer and
    * version rules: [[appendCells]]. */
  def ivfAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
                newDf: DataFrame, idCol: String, vecCol: String,
                batchId: Option[Long] = None): Boolean =
    appendCells(spark, dir, "assigned", newDf, batchId) { centers =>
      assignCells(spark, centers, newDf, vecCol)
    }

  /** THE append core of both cell-partitioned layouts ([[ivfAppend]]'s
    * raw vectors under `assigned`, [[ivfPqAppend]]'s codes under
    * `codes`): how a batch lands in a cell-partitioned index, exactly
    * once. `rows` maps the index's (tiny, driver-read) centers to the
    * batch's rows with their `__cell` — the per-layout projection,
    * built only when the batch is actually applied.
    *
    * EXACTLY-ONCE contract: pass `batchId` (>= 0; the id your ingest
    * framework assigns the batch — foreachBatch's batchId) and the
    * append is replay-safe end to end: an already-applied id returns
    * `false` WITHOUT touching the data (the applied-batch ledger is
    * checked first); an id whose previous attempt crashed mid-write
    * lands via DYNAMIC partition overwrite of its own
    * (`__cell`, `__batch_id`) partitions — partial files from the
    * failed attempt are overwritten, never doubled (duplicate ids
    * would silently corrupt rankings at scale) — and the ledger entry
    * commits LAST, after the data: one directory created on the
    * driver ([[graft.state.State.recordApplied]], no Spark job), so a
    * crash between data and ledger replays as a clean recompute of
    * exactly that batch. Without `batchId` the write is a plain append
    * into the fit partition (legacy behavior — the caller owns replay
    * safety). Returns whether the batch was applied (false = replay
    * no-op).
    *
    * Remaining contract notes: centers (and PQ codebooks) drift as
    * the corpus grows; recall degrades gracefully (cells get wider,
    * not wrong) — refit per corpus VERSION (which resets the ledger),
    * append per ingest BATCH; [[ivfDriftReport]] is the trigger. Ids
    * must not repeat across appends (one id space, the ANN family's
    * contract); a replayed batch id must carry the SAME rows it did
    * the first time (the foreachBatch model — a different payload
    * under a reused id overwrites, last writer wins).
    *
    * SINGLE WRITER per index dir (the foreachBatch model this ledger
    * is built for): the applied check and the ledger write are not
    * atomic, so two CONCURRENT appends of the same batch id both pass
    * the check and run the job — benign for the data (the dynamic
    * overwrite is idempotent) but wasted work — and a reader racing a
    * retry's partition overwrite can observe a partially-rewritten
    * (`__cell`, `__batch_id`) partition. Serialize appends per index
    * dir; readers are safe between appends, not during one. */
  private def appendCells(spark: org.apache.spark.sql.SparkSession,
                          dir: String, table: String, newDf: DataFrame,
                          batchId: Option[Long])(
      rows: Array[Array[Double]] => DataFrame): Boolean = {
    require(!newDf.columns.contains("__cell"),
      "input column __cell collides with the index's cell column")
    require(!newDf.columns.contains(State.BatchCol),
      s"input column ${State.BatchCol} collides with the index's ledger column")
    batchId.foreach(id => require(id >= 0,
      s"batchId must be >= 0 (got $id; negative ids are reserved for " +
        "the fit-time partition)"))
    if (batchId.exists(State.applied(spark, dir, _))) false
    else {
      // a pre-ledger index (partitioned by __cell only) must migrate
      // BEFORE this append writes a deeper partition beside it — see
      // migrateLegacyCellLayout
      migrateLegacyCellLayout(spark, s"$dir/$table")
      val centers = loadCenters(spark, dir)
      require(centers.nonEmpty, s"no centers found under $dir/centers")
      State.writeBatch(rows(centers), s"$dir/$table",
        batchId.getOrElse(FitBatchId), Seq("__cell"),
        if (batchId.isDefined) SaveMode.Overwrite else SaveMode.Append)
      batchId.foreach(State.recordApplied(spark, dir, _))
      true
    }
  }

  /** THE nearest-center kernel every IVF path shares (appends, the
    * baseline, the drift report): exact argmin of squared distance,
    * first cell wins ties (KMeans.transform's convention), as a 0-or-1
    * element array of (cell, squared distance). A null vector yields
    * the empty array, so read through a generator it yields no row
    * (no position) — and a generator keeps the UDF in the optimized
    * plan ONCE, where a `withColumn(udf).where(...)` shape has filter
    * pushdown run the nlist x dim sweep twice per row. A
    * dimension-mismatched vector fails LOUDLY ([[requireIndexDim]]). */
  private def nearestCell(spark: org.apache.spark.sql.SparkSession,
                          centers: Array[Array[Double]])
      : UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(centers)
    udf { (v: Seq[Double]) =>
      if (v == null) Seq.empty[(Int, Double)]
      else {
        val cs = bc.value
        requireIndexDim(v.length, cs(0).length)
        var best = 0
        var bestD = Double.MaxValue
        var i = 0
        while (i < cs.length) {
          val c = cs(i)
          var s = 0.0
          var j = 0
          val n = c.length
          while (j < n) { val d = c(j) - v(j); s += d * d; j += 1 }
          if (s < bestD) { bestD = s; best = i } // strict < : first wins ties
          i += 1
        }
        Seq((best, bestD))
      }
    }
  }

  /** The width check every IVF kernel and serving path shares: dim
    * drift between index and batch must never become a silently
    * truncated, plausible-but-wrong assignment or score. */
  private def requireIndexDim(vecDim: Int, indexDim: Int): Unit =
    require(vecDim == indexDim,
      s"nearest-cell assignment: vector dim $vecDim != index " +
        s"dim $indexDim — the batch was embedded with a " +
        "different model/config than the index was fitted on")

  /** `df`'s rows with their nearest cell as `__cell` ([[nearestCell]];
    * rows with a null vector are skipped). */
  private[ops] def assignCells(spark: org.apache.spark.sql.SparkSession,
                               centers: Array[Array[Double]], df: DataFrame,
                               vecCol: String): DataFrame =
    df.select(col("*"), explode(
      nearestCell(spark, centers)(asDouble(col(vecCol)))("_1")).as("__cell"))

  /** (`__cell`, `__d`) — nearest cell and its squared distance — per
    * non-null vector of `df` ([[nearestCell]]). */
  private[ops] def cellDistances(spark: org.apache.spark.sql.SparkSession,
                                 centers: Array[Array[Double]],
                                 df: DataFrame, vecCol: String): DataFrame =
    df.select(inline(nearestCell(spark, centers)(asDouble(col(vecCol))))
      .as(Seq("__cell", "__d")))

  /** (cell, vectors, Σ squared distance) per non-empty cell over
    * `df`'s non-null vectors: the one <= nlist-row aggregate
    * [[ivfBaselineOf]] and [[ivfDriftReport]] share. */
  private def cellStats(spark: org.apache.spark.sql.SparkSession,
                        centers: Array[Array[Double]], df: DataFrame,
                        vecCol: String): Array[(Int, Long, Double)] =
    cellDistances(spark, centers, df, vecCol)
      .groupBy(col("__cell"))
      .agg(count(lit(1)).as("__n"), sum(col("__d")).as("__sd"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))

  /** The per-corpus-VERSION reference statistics an IVF drift monitor
    * compares ingest batches against: the indexed corpus' cell-share
    * distribution and its mean nearest-center squared distance.
    * Computed once per index version (one pass over the assigned
    * corpus) and carried as a tiny value — persist it with the index
    * and reload instead of recomputing per batch. */
  final case class IvfBaseline(nlist: Int, n: Long,
                               cellCounts: Map[Int, Long],
                               meanDist: Double)

  /** Persist an [[IvfBaseline]] beside its index (under `dir`, the
    * [[ivfSave]] layout): a one-row meta parquet plus the <= nlist-row
    * cell-count table — the durable half of "fit the baseline once per
    * corpus version"; serving jobs load it instead of re-scanning the
    * assigned corpus per batch. The meta row is written LAST (the
    * commit-marker ordering the streaming state frames use) and
    * [[ivfBaselineLoad]] cross-checks it against the cell table, so a
    * torn save loads as an error, not a silently inconsistent
    * baseline. [[ivfSave]] DELETES any persisted baseline — a refit is
    * a new corpus version; re-fit and re-save the baseline with it. */
  def ivfBaselineSave(spark: org.apache.spark.sql.SparkSession,
                      baseline: IvfBaseline, dir: String): Unit = {
    import spark.implicits._
    baseline.cellCounts.toSeq.toDF("cell", "n")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/baseline_cells")
    Seq((baseline.nlist, baseline.n, baseline.meanDist))
      .toDF("nlist", "n", "mean_dist")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/baseline_meta")
  }

  /** Load an [[IvfBaseline]] persisted by [[ivfBaselineSave]],
    * verifying the meta row against the cell table (torn-save guard —
    * see the save's scaladoc). Both tables are read on the driver
    * ([[graft.sources.ParquetMeta.driverRows]]), no Spark job. */
  def ivfBaselineLoad(spark: org.apache.spark.sql.SparkSession,
                      dir: String): IvfBaseline = {
    val m = ParquetMeta.driverRows(spark, s"$dir/baseline_meta").head
    val cells = ParquetMeta.driverRows(spark, s"$dir/baseline_cells")
      .map(g => g.getInteger("cell", 0) -> g.getLong("n", 0)).toMap
    val b = IvfBaseline(m.getInteger("nlist", 0), m.getLong("n", 0), cells,
      m.getDouble("mean_dist", 0))
    require(cells.values.sum == b.n,
      s"ivfBaselineLoad: cell counts sum to ${cells.values.sum} but meta " +
        s"records n=${b.n} — torn/mixed-version baseline under $dir; " +
        "re-fit and re-save it")
    require(cells.keys.forall(c => c >= 0 && c < b.nlist),
      s"ivfBaselineLoad: cell ids outside [0, ${b.nlist}) under $dir — " +
        "torn/mixed-version baseline; re-fit and re-save it")
    b
  }

  /**
   * IVF DRIFT MONITOR: score an ingest batch against a persisted
   * index's [[IvfBaseline]] so "refit per corpus version" has a
   * measurable trigger instead of a scaladoc caveat. Two orthogonal
   * signals, both one map pass over the BATCH only (the argmin kernel
   * shared with [[ivfAppend]]):
   *
   *  - `psi` — population-stability index of the batch's nearest-cell
   *    shares vs the baseline's, over the index's FIXED cell domain,
   *    with [[graft.ops.TimeSeries.psiByPeriod]]'s add-one smoothing
   *    ((n+1)/(N+nlist)) so an empty cell contributes its floor
   *    instead of an infinity. Standard bands: < 0.1 stable, 0.1–0.25
   *    moderate, > 0.25 investigate. Catches DIRECTIONAL shifts (new
   *    content piling into few cells) even when distances look fine.
   *  - `dist_ratio` — batch mean nearest-center squared distance over
   *    the baseline mean. Catches DIFFUSE drift (everything slightly
   *    off-manifold: embedder version bump, preprocessing change)
   *    that leaves cell shares roughly alone.
   *
   * Output (one row): n_vectors, psi, dist_ratio, and the alert
   * booleans at the given thresholds. Wire it per batch next to
   * [[ivfAppend]]; alert => schedule a refit for the next corpus
   * version (the append itself stays valid — cells get wider, not
   * wrong). Null vectors are excluded (no position, same as append).
   */
  def ivfDriftReport(spark: org.apache.spark.sql.SparkSession, dir: String,
                     baseline: IvfBaseline, newDf: DataFrame,
                     vecCol: String, psiAlert: Double = 0.25,
                     distAlert: Double = 1.5): DataFrame = {
    require(baseline.meanDist > 0.0,
      "degenerate baseline (mean distance 0) — every corpus vector sits " +
        "exactly on a center; dist_ratio is undefined, refit with real data")
    val centers = loadCenters(spark, dir)
    require(centers.length == baseline.nlist,
      s"baseline nlist ${baseline.nlist} != index nlist ${centers.length}" +
        " — the baseline belongs to a different index version")
    val stats = cellStats(spark, centers, newDf, vecCol)
    val spark2 = spark
    import spark2.implicits._
    val nBatch = stats.map(_._2).sum
    if (nBatch == 0) {
      // an all-null batch carries no drift evidence
      Seq((0L, 0.0, 0.0, false, false))
        .toDF("n_vectors", "psi", "dist_ratio", "psi_alert", "dist_alert")
    } else {
      val batchCounts = stats.map(s => s._1 -> s._2).toMap
      val psi = (0 until baseline.nlist).map { c =>
        val p = (batchCounts.getOrElse(c, 0L) + 1L).toDouble /
          (nBatch + baseline.nlist)
        val q = (baseline.cellCounts.getOrElse(c, 0L) + 1L).toDouble /
          (baseline.n + baseline.nlist)
        (p - q) * math.log(p / q)
      }.sum
      val meanDist = stats.map(_._3).sum / nBatch
      val ratio = meanDist / baseline.meanDist
      Seq((nBatch,
        BigDecimal(psi).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(ratio).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        psi > psiAlert, ratio > distAlert))
        .toDF("n_vectors", "psi", "dist_ratio", "psi_alert", "dist_alert")
    }
  }

  /** Serve one query from a prebuilt [[IvfIndex]]: pick the `nprobe`
    * nearest cells driver-side (centers are tiny), scan only those
    * cells, rerank exactly ([[rankTop]] of [[CosineScore]]). Each
    * query touches ~nprobe/nlist of the corpus — with a cell-bucketed
    * layout the scan prunes at the file level. Finding the query's
    * vector is ONE job ([[queryVector]]); the returned frame is lazy,
    * so a served search over an [[ivfLoad]]ed index is two jobs: that
    * lookup and the caller's write. An id with no row in the index
    * throws an IllegalArgumentException naming it. */
  def ivfSearch(index: IvfIndex, queryId: Long, k: Int,
                nprobe: Int = 4): DataFrame = {
    val idCol = index.idCol
    val qVec = queryVector(index.assigned, idCol, index.vecCol, queryId,
      s"the index (${sourceOf(index.assigned)})")
    val probeCells = nearestCells(index.centers, qVec, nprobe)
    // the query vector is already on the driver (the lookup above):
    // inline it as a LITERAL column instead of broadcast-cross-joining
    // a one-row frame — the old qRow frame cost a SECOND full scan of
    // the assigned corpus per search (r19); same values, same cosine
    // expression tree, so results are bit-identical
    rankTop(index.assigned
      .where(col("__cell").isin(probeCells.toSeq: _*) && col(idCol) =!= queryId)
      .select(col(idCol), cosineTo(index.vecCol, typedLit(qVec.toSeq))),
      idCol, CosineScore, k)
  }

  /** The vector of row `queryId` in `rows`, as doubles, in ONE job:
    * a `collect` of the filtered scan. `head()` would plan a
    * CollectLimit, which scans one partition first and then scales
    * up in a second job whenever the row is elsewhere; `collect`
    * keeps partition order, so the first match is the same row.
    * No match throws an IllegalArgumentException naming the id and
    * `where` (by name: only built on the failure path). */
  private[graft] def queryVector(rows: DataFrame, idCol: String,
                                 vecCol: String, queryId: Long,
                                 where: => String): Array[Double] =
    rows.where(col(idCol) === queryId).select(asDouble(col(vecCol)))
      .collect().headOption.map(_.getSeq[Double](0).toArray)
      .getOrElse(throw new IllegalArgumentException(
        s"query id $queryId not found: no row with $idCol = $queryId " +
          s"in $where"))

  /** Where a frame's rows are read from, for error messages: the
    * deepest directory holding all of its input files (an index's
    * `<dir>/assigned`), or "an in-memory frame". */
  private def sourceOf(df: DataFrame): String = {
    val dirs = df.inputFiles.toSeq.map(f =>
      new org.apache.hadoop.fs.Path(f).getParent.toString.split('/').toSeq)
    if (dirs.isEmpty) "an in-memory frame"
    else dirs.reduce((a, b) =>
      a.zip(b).takeWhile { case (x, y) => x == y }.map(_._1))
      .mkString("/")
  }

  /** One-shot IVF ANN (fit + search). Demo/test convenience — at scale
    * use [[ivfFit]] once and [[ivfSearch]] per query. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int, nlist: Int = 16, nprobe: Int = 4,
              seed: Long = 42L): DataFrame =
    ivfSearch(ivfFit(df, idCol, vecCol, nlist, seed), queryId, k, nprobe)

  /**
   * BATCH serving for the plain IVF layout — [[ivfPqSearchBatch]]'s
   * shape over raw vectors: every row of `queries` (its own id + raw
   * vector) gets its exact-cosine top-k over its nprobe probed cells
   * in ONE job. Plan: a narrow exploded (qid, cell) probe frame joins
   * the assigned corpus on the cell key and the (qid, query-vector)
   * frame joins back on the query id ([[probeJoin]], the per-query
   * charge estimated from the embedding width), then
   * [[rankPerQuery]]. Per query this ranks IDENTICALLY to
   * [[ivfSearch]] — same probe pick, same score, same self-exclusion
   * (a corpus row whose id equals the query id is skipped), OpsSpec
   * pins the parity at both plan shapes. A query set embedded at a
   * width other than the index's throws an IllegalArgumentException
   * ([[queryCount]]). Output: (query_id, idCol, cosine).
   */
  def ivfSearchBatch(index: IvfIndex, queries: DataFrame, qIdCol: String,
                     vecCol: String, topK: Int, nprobe: Int = 4,
                     broadcastMaxBytes: Long = 64L << 20): DataFrame = {
    val cellsOf = probeUdf(index.assigned.sparkSession, index.centers,
      nprobe, None)((_, cells, _) => cells)
    val base = queries
      .select(col(qIdCol).as("__qid"), asDouble(col(vecCol)).as("__qv"))
      .where(col("__qv").isNotNull)
    val probes = base.select(col("__qid"),
      explode(cellsOf(col("__qv"))).as("__cell"))
    val qvecs = base.select(col("__qid"), col("__qv"))
    val dim = index.centers.headOption.map(_.length).getOrElse(0)
    val nQueries = queryCount(queries, vecCol, dim)
    val joined = probeJoin(index.assigned, probes, Some(qvecs), nQueries,
      dim.toLong * 8L + nprobe.toLong * 16L, broadcastMaxBytes)
    rankPerQuery(joined
      .where(col(index.idCol) =!= col("__qid")) // ivfSearch's self-exclusion
      .select(col("__qid"), col(index.idCol),
        cosineTo(index.vecCol, col("__qv"))),
      index.idCol, CosineScore, topK)
  }

  /** The batch searches' one driver-side pass over the query set: the
    * number of non-null query vectors (the [[probeJoin]] estimate's
    * row count), aggregated together with their min and max width so
    * a query set embedded at a width other than the index's `dim`
    * fails LOUDLY ([[requireIndexDim]]) — an unchecked mismatch would
    * score every candidate null and return k null-score rows per
    * query. */
  private def queryCount(queries: DataFrame, vecCol: String,
                         dim: Int): Long = {
    val width = size(col(vecCol))
    val r = queries.where(col(vecCol).isNotNull)
      .agg(count(lit(1)), min(width), max(width)).collect()(0)
    if (r.getLong(0) > 0) {
      requireIndexDim(r.getInt(1), dim)
      requireIndexDim(r.getInt(2), dim)
    }
    r.getLong(0)
  }

  /** The batch searches' probe join: `corpus` joins the exploded
    * (`__qid`, `__cell`, ...) `probes` on the cell key, then the
    * optional per-query frame on `__qid`. Both probe-side frames are
    * broadcast only while `nQueries * perQueryBytes` fits
    * `broadcastMaxBytes` ([[Dedup.hintIfSmall]]): the corpus never
    * shuffles and only probed cells' partitions are read under a
    * cell-partitioned layout. Above the cap (a corpus-sized query set
    * — effectively a semantic self-join) the same plan runs as plain
    * shuffle equi-joins instead of building a multi-GB broadcast at
    * the driver; results are identical either way, and at that scale
    * the probes hit every cell so partition pruning has nothing left
    * to prune. */
  private def probeJoin(corpus: DataFrame, probes: DataFrame,
                        perQuery: Option[DataFrame], nQueries: Long,
                        perQueryBytes: Long,
                        broadcastMaxBytes: Long): DataFrame = {
    def side(df: DataFrame) =
      Dedup.hintIfSmall(df, nQueries, broadcastMaxBytes, perQueryBytes)
    perQuery.foldLeft(corpus.join(side(probes), Seq("__cell")))(
      (acc, q) => acc.join(side(q), Seq("__qid")))
  }

  /** The batch searches' probe-pick UDF: a query vector — rotated into
    * the index space when `rotation` is set — maps to `f(vector, its
    * nprobe nearest cells, centers)` ([[nearestCells]]); a null vector
    * maps to null. Centers and rotation ride broadcasts. */
  private def probeUdf[T: TypeTag](spark: org.apache.spark.sql.SparkSession,
                                   centers: Array[Array[Double]], nprobe: Int,
                                   rotation: Option[Array[Array[Double]]])(
      f: (Array[Double], Array[Int], Array[Array[Double]]) => T)
      : UserDefinedFunction = {
    val bcCenters = spark.sparkContext.broadcast(centers)
    val bcRot = rotation.map(spark.sparkContext.broadcast(_))
    udf { (v: Seq[Double]) =>
      if (v == null) null.asInstanceOf[T]
      else {
        val y = bcRot.fold(v.toArray)(r => rotateVec(r.value, v.toArray))
        f(y, nearestCells(bcCenters.value, y, nprobe), bcCenters.value)
      }
    }
  }

  /**
   * Embedding-cosine near-duplicate pairs (the fifth dedup modality
   * next to exact/MinHash/SimHash/n-gram-Jaccard): SRP-bucket every
   * vector, pair within buckets (plus single-bit-flip neighbor buckets
   * for recall), verify with exact cosine. Narrow candidate shuffle on
   * the bucket key only — never an all-pairs product. Recall is
   * tunable via `bits` (fewer bits = bigger buckets = higher recall,
   * more verification work). The batch run of
   * [[cosinePairsIncrementalFromState]]'s core: the corpus'
   * [[srpStateOf]] frame paired with no admitted state.
   */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, bits: Int = 8,
                         seed: Long = 42L): DataFrame = {
    val (state, verified) =
      cosineNearDupPlan(df, idCol, vecCol, threshold, bits, seed)
    val out = verified.localCheckpoint(true)
    state.unpersist()
    out
  }

  /** Un-checkpointed plan behind [[cosineNearDupPairs]] (testable);
    * returns the persisted state frame for the caller to release. */
  private[ops] def cosineNearDupPlan(df: DataFrame, idCol: String, vecCol: String,
                                     threshold: Double, bits: Int,
                                     seed: Long): (DataFrame, DataFrame) = {
    val state = srpStateOf(df, idCol, vecCol, bits, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // explicit scale-adaptive parallelism for the exact-cosine verify
    // (r18): the candidate frame is a few narrow bytes, so AQE's
    // byte-based coalescing collapses it to 1-2 partitions — but the
    // verify's cost is per-PAIR dot products, profiled at two busy
    // tasks and 30 idle cores. Batch only: on the streaming path the
    // extra exchange would be paid on every micro-batch.
    (state, cosinePairsPlan(state, None, idCol, threshold, bits,
      Some(verifyParallelism(df.sparkSession))))
  }

  /** The precomputed SRP dedup-state frame behind
    * [[cosinePairsIncrementalFromState]] — the embedding analogue of
    * [[graft.ops.Dedup.postingsOf]]: one narrow row per non-null
    * vector carrying its SRP bucket, the double-cast vector, and its
    * hoisted norm (`(idCol, __b, __v, __n)`). Persist it when a batch
    * lands (the [[graft.ops.Curate.streamingTail]] recipe) so later
    * ingests pair against the admitted corpus without re-bucketing
    * or re-reading it. */
  def srpStateOf(df: DataFrame, idCol: String, vecCol: String,
                 bits: Int = 8, seed: Long = 42L): DataFrame = {
    val dim = dimOf(df, vecCol)
    df.where(col(vecCol).isNotNull)
      .select(col(idCol),
        srpBucketUdf(bits, dim, seed)(col(vecCol)).as("__b"),
        asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v"))) // hoisted: once per row, not per pair
  }

  /** INCREMENTAL embedding-cosine near-dup pairs — the
    * [[graft.ops.Dedup.minhashPairsIncrementalIndexed]] shape for the
    * SRP family (the daily-ingest path at 100 TB): pairs between a
    * NEW batch's [[srpStateOf]] frame and itself plus the PRECOMPUTED
    * [[srpStateOf]] frame of the already-admitted corpus, without
    * re-bucketing or re-pairing the corpus against itself. The
    * streaming tail buckets its batch ONCE (checkpointed) and shares
    * the frame between this pair pass and the durable-state write
    * (r18). `newState` must be computed under the SAME bits/seed as
    * `oldState` (the caller owns that contract — the tail persists
    * the bit width in its `_state_params` marker). Ids must be
    * disjoint across the two frames (one id space — the dedup
    * family's contract). */
  def cosinePairsIncrementalFromState(newState: DataFrame,
                                      oldState: DataFrame,
                                      idCol: String,
                                      threshold: Double,
                                      bits: Int = 8): DataFrame = {
    Seq(newState -> "newState", oldState -> "oldState").foreach {
      case (f, n) =>
        require(Set(idCol, "__b", "__v", "__n").subsetOf(f.columns.toSet),
          s"$n must be an srpStateOf frame ($idCol, __b, __v, __n); " +
            s"got ${f.columns.mkString(",")}")
    }
    // dim drift between the batch and the stored state must fail
    // LOUDLY (the nearestCell rule): mismatched widths would bucket
    // under different hyperplanes AND null out the zip_with dot in the
    // verify — every near-dup of an admitted row silently admitted,
    // the exact under-deduplication this state exists to prevent.
    // One limit(1) peek per side — noise next to the pair pass.
    def dimOfState(st: DataFrame): Int = st.where(col("__v").isNotNull)
      .select(size(col("__v"))).head(1).headOption
      .map(_.getInt(0)).getOrElse(0)
    val newDim = dimOfState(newState)
    val oldDim = dimOfState(oldState)
    require(newDim == 0 || oldDim == 0 || newDim == oldDim,
      s"cosinePairsIncrementalFromState: batch embedding dim $newDim != " +
        s"stored state dim $oldDim — the corpus was re-embedded under a " +
        "different model/config; refit the state (delete and let the " +
        "tail rebuild it) instead of pairing across spaces")
    // checkpoint blocks are released by GC + ContextCleaner when the
    // caller drops the frame (Dataset.unpersist would be a no-op on
    // a localCheckpoint — see Curate.streamingTail's step-3 note,
    // which also documents the executor-loss tradeoff)
    cosinePairsPlan(newState, Some(oldState), idCol, threshold, bits, None)
      .localCheckpoint(true)
  }

  /** The lazy SRP pair plan shared by the batch and incremental
    * entries: the new side probes its single-bit-flip buckets (a pair
    * split across one differing hyperplane sign is still a candidate
    * whichever side is new), the corpus side contributes exact-bucket
    * narrow rows only ([[graft.ops.Dedup.incrementalCandidates]]).
    * Candidates carry ids only — at 768-dim embeddings the vectors are
    * ~3 KB/row and shuffling them x(1+bits) probes would dominate —
    * and the exact-cosine verify joins the vectors back from the two
    * state frames, exactly as Dedup.minhashPairsIncrementalPlan keeps shingle
    * arrays out of its candidate shuffle. `verifyPartitions` repartitions
    * the candidates on `id_a` before the verify (explicit N is exempt
    * from AQE coalescing). */
  private[ops] def cosinePairsPlan(newState: DataFrame,
                                   oldState: Option[DataFrame],
                                   idCol: String, threshold: Double,
                                   bits: Int,
                                   verifyPartitions: Option[Int]): DataFrame = {
    def index(st: DataFrame) =
      st.select(col("__b").as("__bucket"), col(idCol).as("id_b"))
    val candidates = Dedup.incrementalCandidates(
      newState.select(col(idCol).as("id_a"),
        explode(multiProbe(col("__b"), bits)).as("__bucket")),
      index(newState), oldState.map(index), Seq("__bucket"))
    def vecsOf(st: DataFrame) = st.select(col(idCol), col("__v"), col("__n"))
    val vecs = oldState.fold(vecsOf(newState))(o =>
      vecsOf(newState).unionByName(vecsOf(o)))
    verifyPartitions.fold(candidates)(n =>
        candidates.repartition(n, col("id_a")))
      .join(vecs.select(col(idCol).as("id_a"), col("__v").as("v_a"),
        col("__n").as("n_a")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col("__v").as("v_b"),
        col("__n").as("n_b")), "id_b")
      .withColumn("cosine",
        dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /**
   * SemDeDup-style semantic near-dup pairs (Abbas et al. 2023): a
   * KMeans coarse quantizer partitions the corpus into `nlist` cells,
   * then ONLY within-cell pairs are cosine-compared — the published
   * recipe for embedding-level dedup of web-scale corpora, trading the
   * SRP multi-probe of [[cosineNearDupPairs]] for cluster locality
   * (duplicates collapse into the same cell because identical/near-
   * identical vectors get identical/nearest centroid assignments).
   *
   * Plan shape: cell assignment is [[ivfFit]]'s one map stage
   * (precomputable, persisted in production); the pair stage is an
   * equi-join on `__cell` — never a global product; the quadratic term
   * is bounded per cell (pick `nlist` so corpus/nlist fits the
   * comparison budget; SemDeDup uses ~100k cells at web scale). Only
   * (cell, id, vector) rows shuffle, and only within the join.
   */
  /** Sentinel for [[semanticDedupPairs]]/[[dropSemanticDuplicates]]'s
    * `nlist`: derive the cell count from the corpus size via
    * [[autoNlist]] instead of hand-tuning it. */
  val AutoNlist: Int = -1

  /** The derived SemDeDup cell count for a corpus of `rows` vectors:
    * `clamp(ceil(rows / 1024), 16, 131072)`. Cells must grow LINEARLY
    * with the corpus so the per-cell quadratic stays constant (~1024
    * rows → ~0.5M comparisons per cell, well under the pair budget
    * with remediation headroom); the floor of 16 keeps small corpora
    * at a sane quantizer size, and the 2^17 ceiling is where a single
    * KMeans fit stops being the right tool (SemDeDup runs ~100k cells
    * at web scale — beyond that, shard the corpus or raise
    * `targetCellRows` consciously, and pass `sampleFraction` so the
    * fit trains on a sample). Pinned in OpsSpec; pass an explicit
    * `nlist` to override. */
  def autoNlist(rows: Long, targetCellRows: Long = 1024L): Int = {
    require(rows >= 0 && targetCellRows >= 1)
    val cells = math.ceil(rows.toDouble / targetCellRows.toDouble).toLong
    math.min(math.max(cells, 16L), 131072L).toInt
  }

  def semanticDedupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, nlist: Int = AutoNlist,
                         seed: Long = 42L,
                         sampleFraction: Double = 1.0,
                         maxIter: Int = 8,
                         maxPairsPerCell: Long = DefaultMaxPairsPerCell): DataFrame = {
    // AutoNlist pays one count() over the input — a narrow scan, noise
    // next to the fit + pair stages it sizes correctly
    val k = if (nlist == AutoNlist) autoNlist(df.count()) else nlist
    require(k >= 1, s"nlist must be >= 1 or SimSearch.AutoNlist; got $nlist")
    // maxIter default is LOWER than ivfFit's search-path default:
    // dedup recall only needs near-identical vectors to share a cell,
    // which holds for ANY centroid set (same nearest center), so the
    // extra KMeans refinement buys nothing for dedup — a production
    // tuning knob (measured neutral at bench scale, where the pair
    // stage, not the fit, dominates).
    semanticPairsRec(df, idCol, vecCol, threshold, k, seed,
      sampleFraction, maxIter, maxPairsPerCell, depth = 0)
  }

  /** Recursion ceiling for the oversized-cell auto-split: each level
    * re-clusters an over-budget cell into `nlist` sub-cells, so even
    * two levels give nlist² effective cells; a cell still over budget
    * at this depth is near-degenerate (identical vectors) and falls
    * back to the loud quadratic join. */
  private val MaxRemediationDepth = 3

  /** [[semanticDedupPairs]]'s engine, with oversized-cell
    * AUTO-REMEDIATION: cells within the pair budget go through the
    * within-cell equi-join directly; a cell over budget is RE-CLUSTERED
    * (a fresh KMeans over just that cell's rows, derived seed) and its
    * sub-cell pairs unioned in — recursively, until every piece fits
    * the budget, the depth ceiling hits, or re-clustering stops making
    * progress (every row back in one cell: identical/collapsed vectors
    * that NO quantizer can separate — those fall back to the quadratic
    * join with the original loud warning, now a last resort instead of
    * the only behavior). Recall: NEAR-IDENTICAL pairs (the dedup
    * targets) land in the same sub-cell for the same reason they
    * landed in the same cell — nearest-centroid assignments of
    * near-identical vectors agree — so splitting a collapsed cell of
    * duplicate clusters recovers exactly the brute-force pair set
    * (OpsSpec pins that on a planted collapse). A pair sitting AT the
    * threshold whose two vectors straddle a sub-cell Voronoi boundary
    * can be lost — the SAME epsilon the method's top-level cell
    * partition already accepts for pairs straddling top-level cells
    * (SemDeDup's published recall trade); vs. the pre-remediation
    * behavior (quadratic join over the whole offender cell) this
    * trades that boundary epsilon for not wedging a stage.
    * Driver-side work stays bounded: <= nlist offender cells per
    * level, <= [[MaxRemediationDepth]] levels, one <= nlist-row census
    * collect per fit. */
  private def semanticPairsRec(df: DataFrame, idCol: String, vecCol: String,
                               threshold: Double, nlist: Int, seed: Long,
                               sampleFraction: Double, maxIter: Int,
                               maxPairsPerCell: Long, depth: Int): DataFrame = {
    val index = ivfFit(df, idCol, vecCol, nlist, seed, sampleFraction,
      maxIter)
    // Cell-size census BEFORE the quadratic stage: KMeans cells carry
    // no balance guarantee, and one degenerate cell (a collapsed
    // embedder mapping everything near zero) turns the within-cell
    // equi-join into an effective cartesian. The census is ONE
    // cells-only aggregate (bounded <= nlist-row collect). Run as a
    // separate narrow job rather than persisting the cell frame: a
    // persist+checkpoint variant measured +43% on the q57 curation
    // chain, while the self-join below already reuses its exchange.
    val census = cellCensus(index.assigned.select(col("__cell")))
    val offenders = oversizedCells(census, maxPairsPerCell)
    val total = census.map(_._2).sum
    // norms precomputed ONCE PER ROW: the interpreted higher-order
    // folds behind cosine() are the pair stage's real cost, and
    // dot/(n_a*n_b) with hoisted norms is the same scalar expression
    // tree (bit-identical results) at a third of the per-pair eval.
    val cells = index.assigned.select(col(idCol).as("__id"),
      asDouble(col(vecCol)).as("__v"), col("__cell"))
      .withColumn("__n", norm(col("__v")))
    if (offenders.isEmpty) withinCellPairs(cells, threshold)
    else {
      val log = org.slf4j.LoggerFactory.getLogger(getClass)
      val offenderIds = offenders.map(_._1)
      val inBudget = withinCellPairs(
        cells.where(!col("__cell").isin(offenderIds.toSeq: _*)), threshold)
      val remediated = offenders.toSeq.map { case (cid, n) =>
        // "every row in one cell" only counts as STUCK after at least
        // one re-cluster attempt: at depth 0 the initial KMeans putting
        // all rows in one cell says nothing about whether a re-seeded
        // split would separate them, so one recursive attempt runs
        // before conceding to the quadratic fallback
        val stuck = depth > 0 && n >= total // re-clustering made no progress
        if (depth >= MaxRemediationDepth || stuck) {
          log.warn(
            s"semanticDedupPairs: cell $cid ($n rows, depth $depth) " +
              s"exceeds the per-cell comparison budget of " +
              s"$maxPairsPerCell pairs and cannot be split further " +
              (if (stuck) "(re-clustering left every row in one cell — " +
                "near-identical vectors; check the embedder for collapse)"
               else "(remediation depth exhausted)") +
              " — falling back to the quadratic within-cell join; " +
              "raise nlist or maxPairsPerCell consciously")
          withinCellPairs(cells.where(col("__cell") === cid), threshold)
        } else {
          log.info(
            s"semanticDedupPairs: re-clustering oversized cell $cid " +
              s"($n rows, depth $depth) into $nlist sub-cells")
          semanticPairsRec(
            index.assigned.where(col("__cell") === cid).drop("__cell"),
            idCol, vecCol, threshold, nlist,
            seed * 1000003L + cid + 1L, // deterministic per-cell seed
            sampleFraction, maxIter, maxPairsPerCell, depth + 1)
        }
      }
      (inBudget +: remediated).reduce(_.unionByName(_))
    }
  }

  /** Explicit partition count for the CPU-bound pair-verify stages:
    * never below the cluster's core count or the session's configured
    * reduce width. Session-derived only — no `.rdd.getNumPartitions`
    * peek, which would force an extra physical planning of the input
    * lineage just to read a number. That is also its CEILING: a corpus
    * read from more input splits than
    * `max(defaultParallelism, spark.sql.shuffle.partitions)` (a
    * 1000-split parquet corpus on a 32-core session at the default 200
    * shuffle partitions) gets fewer verify tasks than it has splits —
    * raise `spark.sql.shuffle.partitions` for such corpora. */
  private def verifyParallelism(spark: org.apache.spark.sql.SparkSession): Int =
    math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)

  /** The within-cell pair join of [[semanticDedupPairs]]: equi-join on
    * `__cell` (never a global product), id_a < id_b, hoisted-norm
    * cosine, thresholded. */
  private def withinCellPairs(cells: DataFrame, threshold: Double): DataFrame = {
    // hash-distribute the PROBE side by cell before the join (r18):
    // with a broadcast-sized build side the quadratic dot-product work
    // otherwise runs on the scan's raw partitioning — profiled at
    // parallelism TWO (one per input file) with every other core idle.
    // The partition count is EXPLICIT (AQE coalesces a bare
    // repartition(col) back to one partition on byte size, but the
    // cost here is per-PAIR compute, not bytes) and scale-adaptive:
    // never below the cluster's core count or the session's configured
    // reduce width — derived from session settings only (r19: reading
    // cells.rdd.getNumPartitions forced a second full physical
    // planning of the un-materialized cells lineage on the driver,
    // the very cost these rounds remove). Past broadcast size the
    // planner's sort-merge join shuffles both sides on __cell anyway,
    // and per-cell skew stays bounded by the maxPairsPerCell budget.
    val a = cells.repartition(verifyParallelism(cells.sparkSession),
      col("__cell"))
      .select(col("__cell"), col("__id").as("id_a"),
        col("__v").as("v_a"), col("__n").as("n_a"))
    val b = cells.select(col("__cell"), col("__id").as("id_b"),
      col("__v").as("v_b"), col("__n").as("n_b"))
    a.join(b, Seq("__cell"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine",
        dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** Pair-budget guard default for [[semanticDedupPairs]]: 10^8
    * within-cell comparisons per cell (~minutes of one core on
    * hoisted-norm cosine) — generous enough that a sanely-sized
    * `nlist` never trips it, small enough to catch a collapsed cell
    * long before it wedges a stage. */
  val DefaultMaxPairsPerCell: Long = 100000000L

  /** Per-cell row counts of an assigned frame — bounded at the cell
    * domain (<= nlist rows), sorted by cell id. */
  private[ops] def cellCensus(assigned: DataFrame): Array[(Int, Long)] =
    assigned.groupBy(col("__cell")).agg(count(lit(1)).as("__cn"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)

  /** Cells whose within-cell pair count n*(n-1)/2 exceeds the budget,
    * worst first. BigInt so billion-row cells don't overflow the
    * product. */
  private[ops] def oversizedCells(census: Array[(Int, Long)],
                                  maxPairsPerCell: Long): Array[(Int, Long)] = {
    require(maxPairsPerCell > 0, "maxPairsPerCell must be positive")
    census.filter { case (_, n) =>
      n > 1 && BigInt(n) * BigInt(n - 1) / 2 > BigInt(maxPairsPerCell)
    }.sortBy { case (_, n) => -n }
  }

  /** SemDeDup semantic dedup as a corpus transform: keep exactly the
    * min-id representative of every semantic-duplicate cluster —
    * [[semanticDedupPairs]] composed with connected components so a
    * chain A~B~C (A,C in the same cell but below threshold pairwise)
    * still collapses to just A, mirroring [[Dedup.dropNearDuplicates]]
    * for the embedding modality. The pair set is tiny relative to the
    * corpus, so the closure and the final left-anti join are narrow. */
  def dropSemanticDuplicates(df: DataFrame, idCol: String, vecCol: String,
                             threshold: Double, nlist: Int = AutoNlist,
                             seed: Long = 42L,
                             sampleFraction: Double = 1.0,
                             maxIter: Int = 8): DataFrame = {
    val pairs = semanticDedupPairs(df, idCol, vecCol, threshold, nlist,
      seed, sampleFraction, maxIter)
    val losers = Dedup.componentsOf(pairs)
      .where(col("comp") =!= col("node"))
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * Johnson-Lindenstrauss random projection: project an embedding
   * column to `outDim` dimensions through a seeded Gaussian matrix
   * scaled by 1/sqrt(outDim) — the standard dimensionality-reduction
   * step before indexing high-dim embeddings (768-dim float32 is ~3 KB
   * per row through every shuffle; a 64-dim projection preserves
   * pairwise distances within ~1/sqrt(outDim) while cutting storage
   * and shuffle width 12x). Map-only, codegen-friendly per-row kernel;
   * the matrix is generated from (seed, outDim, inDim) on each
   * executor — nothing ships.
   */
  def projectDims(df: DataFrame, vecCol: String, outDim: Int,
                  seed: Long = 42L): DataFrame = {
    val inDim = dimOf(df, vecCol)
    val planes = hyperplanes(outDim, inDim, seed)
    // divide, don't multiply by a precomputed reciprocal: the oracle
    // divides (dot / sqrt(outDim)), and the two forms differ in the
    // last ulp — enough to flip a round(.., 4) digest on a boundary
    val root = math.sqrt(outDim)
    val project = udf((v: Seq[Float]) =>
      if (v == null) null
      else {
        val out = new Array[Double](outDim)
        var o = 0
        while (o < outDim) {
          val p = planes(o)
          var s = 0.0
          var i = 0
          val n = math.min(p.length, v.length)
          while (i < n) { s += p(i) * v(i); i += 1 }
          out(o) = s / root
          o += 1
        }
        out
      })
    df.withColumn(vecCol, project(col(vecCol)))
  }

  /** Digest of [[projectDims]] output for cross-engine checking (same
    * style as [[quantizeDigest]]): first component, L2 norm, and
    * component sum, rounded. */
  def projectDigest(df: DataFrame, idCol: String, vecCol: String,
                    outDim: Int, seed: Long = 42L): DataFrame =
    projectDims(df, vecCol, outDim, seed).select(
      col(idCol),
      round(element_at(col(vecCol), 1), 4).as("p0"),
      round(norm(col(vecCol)), 4).as("l2_norm"),
      round(aggregate(col(vecCol), lit(0.0), (a, x) => a + x), 4).as("p_sum"))

  /** DuckDB oracle for [[projectDigest]]: the seeded projection matrix
    * embedded as literals (same [[hyperplanes]] generation the Spark
    * side uses), the matmul replayed with list_dot_product. */
  def projectOracleSql(table: String, idCol: String, vecCol: String,
                       outDim: Int, inDim: Int, seed: Long): String = {
    val planes = hyperplanes(outDim, inDim, seed)
    val planeRows = planes.zipWithIndex.map { case (p, o) =>
      s"($o, [${p.mkString(",")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""WITH planes(o, p) AS (VALUES
       |    $planeRows),
       |emb AS (SELECT $idCol AS vid, CAST($vecCol AS DOUBLE[]) AS v
       |        FROM $table),
       |proj AS (
       |  SELECT e.vid, pl.o,
       |         list_dot_product(pl.p, e.v) / sqrt($outDim.0) AS x
       |  FROM emb e CROSS JOIN planes pl)
       |SELECT vid AS $idCol,
       |       round(max(CASE WHEN o = 0 THEN x END), 4) AS p0,
       |       round(sqrt(sum(x * x)), 4) AS l2_norm,
       |       round(sum(x), 4) AS p_sum
       |FROM proj GROUP BY vid
       |ORDER BY $idCol""".stripMargin
  }

  /** Per-vector stats (dims, L2 norm) — oracle-checkable projection. */
  def vectorStats(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(
      col(idCol),
      size(col(vecCol)).cast("long").as("dims"),
      round(norm(asDouble(col(vecCol))), 4).as("l2_norm"))

  /**
   * Symmetric int8 scalar quantization of an embedding column — the
   * storage/ANN compression step (4x smaller than float32, 8x smaller
   * than the float64 shuffle form): per-vector scale = max|x| / 127,
   * q_i = round(x_i / scale) in [-127, 127]. One map stage, no
   * shuffle; reconstruction is q_i * scale. Zero vectors quantize to
   * all-zero with scale 0.
   */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    require(!df.columns.contains("__scale"),
      "input column __scale collides with quantizeInt8's reserved temp name")
    val v = asDouble(col(vecCol))
    val scale = aggregate(v, lit(0.0),
      (acc, x) => greatest(acc, abs(x))) / lit(127.0)
    val quantized = when(col("__scale") > 0,
      transform(v, x => round(x / col("__scale")).cast("int")))
      .otherwise(transform(v, _ => lit(0)))
    // an empty vector has no max|x|: scale is null (DuckDB's list_max
    // of an empty list), not 0.0 — downstream digests must stay null
    df.withColumn("__scale", when(size(v) > 0, scale))
      .select(
        col(idCol),
        col("__scale").as("scale"),
        quantized.as("q"))
  }

  /** Oracle-checkable digest of [[quantizeInt8]]: exact integer
    * sum/min/max of the quantized vector + the rounded scale. Empty
    * vectors digest to null across the board — matching DuckDB, whose
    * list_sum/list_min/list_max of an empty list are NULL — instead of
    * the fold seeds (0, 127, -127) leaking out as fake extrema. */
  def quantizeDigest(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val nonEmpty = size(col("q")) > 0
    quantizeInt8(df, idCol, vecCol).select(
      col(idCol),
      round(col("scale"), 6).as("scale"),
      when(nonEmpty, aggregate(col("q"), lit(0L), (acc, x) => acc + x)
        .cast("long")).as("q_sum"),
      when(nonEmpty, aggregate(col("q"), lit(127), (acc, x) => least(acc, x))
        .cast("long")).as("q_min"),
      when(nonEmpty, aggregate(col("q"), lit(-127), (acc, x) => greatest(acc, x))
        .cast("long")).as("q_max"))
  }

  // ---------------------------------------------------------------
  // Product quantization (Jégou et al. 2011) — the vector-compression
  // half of production ANN serving (IVF partitions the corpus, PQ
  // compresses what each cell stores): the dimension splits into `m`
  // subspaces, each with its own seeded-KMeans codebook of `k`
  // centroids, and a vector becomes `m` small code indices (m bytes
  // at k <= 256 — a 64-dim float vector compresses 256/8 = 32x).
  // Search is ADC (asymmetric distance computation): the query
  // precomputes an m x k table of exact subspace distances once, and
  // every corpus row's approximate distance is m table lookups — no
  // decode, no float vector ever read back.
  // ---------------------------------------------------------------

  /** Per-subspace codebooks. `codebooks(j)(c)` is centroid `c` of
    * subspace `j` (length `dsub` each). */
  final case class PqModel(m: Int, k: Int, dsub: Int,
                           codebooks: Array[Array[Array[Double]]]) {
    /** Squared-L2 ADC lookup table for one query: table(j)(c) =
      * ||q_j - codebook(j)(c)||^2. Tiny (m*k doubles) — broadcast. */
    def adcTable(query: Array[Double]): Array[Array[Double]] = {
      require(query.length == m * dsub,
        s"query dim ${query.length} != model dim ${m * dsub}")
      Array.tabulate(m) { j =>
        Array.tabulate(k) { c =>
          var s = 0.0; var p = 0
          while (p < dsub) {
            val d = query(j * dsub + p) - codebooks(j)(c)(p)
            s += d * d; p += 1
          }
          s
        }
      }
    }
  }

  /** Fit the `m` subspace codebooks (seeded MLlib KMeans per
    * subspace, each distributed; the q27/q53 determinism contract —
    * seed + j per subspace, so results are independent of the fit
    * ORDER and the fits run CONCURRENTLY: m small KMeans jobs are
    * scheduler-overhead-bound, not data-bound, and the Spark
    * scheduler interleaves them). `dim` must divide by `m`. The
    * source frame is persisted for the duration of the fits so m
    * concurrent lineages don't re-read the scan m times. */
  def pqFit(df: DataFrame, idCol: String, vecCol: String,
            m: Int = 8, k: Int = 16, seed: Long = 42L,
            maxIter: Int = 20): PqModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    val dim = df.select(size(col(vecCol))).where(col(vecCol).isNotNull)
      .limit(1).collect()(0).getInt(0)
    require(dim % m == 0, s"dim $dim must divide by m=$m subspaces")
    val dsub = dim / m
    val v = asDouble(col(vecCol))
    val src = df.where(col(vecCol).isNotNull).select(v.as("__v")).persist()
    try {
      implicit val ec: ExecutionContext = ExecutionContext.global
      val fits = (0 until m).map { j =>
        Future {
          val sub = src.select(
            array_to_vector(slice(col("__v"), j * dsub + 1, dsub))
              .as("__feat"))
          new KMeans().setK(k).setSeed(seed + j).setMaxIter(maxIter)
            .setFeaturesCol("__feat").setPredictionCol("__c")
            .fit(sub).clusterCenters.map(_.toArray)
        }
      }
      PqModel(m, k, dsub,
        fits.map(Await.result(_, Duration.Inf)).toArray)
    } finally { src.unpersist(); () }
  }

  /** The per-row encode kernel behind [[pqEncode]]/[[ivfPqFit]]:
    * argmin centroid per subspace, ties to the lowest index; loud dim
    * guard (a truncated encode would be silently wrong forever). */
  private def pqEncoder(model: PqModel): UserDefinedFunction =
    udf((vec: Seq[Double]) =>
      if (vec == null) null
      else {
        require(vec.length == model.m * model.dsub,
          s"vector dim ${vec.length} != model dim ${model.m * model.dsub}")
        Array.tabulate(model.m) { j =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < model.k) {
            var s = 0.0; var p = 0
            while (p < model.dsub) {
              val d = vec(j * model.dsub + p) - model.codebooks(j)(c)(p)
              s += d * d; p += 1
            }
            if (s < bestD) { bestD = s; best = c }
            c += 1
          }
          best
        }
      })

  /** Encode every vector to its `m` code indices (argmin centroid per
    * subspace, ties to the lowest index). Map-only; the model rides
    * the closure. Output: (idCol, codes array<int> of length m). */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               model: PqModel): DataFrame =
    df.select(col(idCol), pqEncoder(model)(asDouble(col(vecCol))).as("codes"))

  /** Persist a [[PqModel]] — the fit-once discipline the rest of the
    * engine already follows ([[ivfSave]], `TokenizerStore`): codebooks
    * outlive the JVM, so a 100 TB corpus encode is never repaid on
    * restart. Layout under `dir`: `codebooks` (j, c, p, w rows — tiny,
    * m·k·dsub doubles), a `_kind` marker that makes cross-family loads
    * fail loudly, and a one-row `meta` (m, k, dsub) written LAST (the
    * commit-marker ordering of `ivfBaselineSave`) so a torn save loads
    * as an error, not a silently short codebook. */
  def pqSave(spark: org.apache.spark.sql.SparkSession, model: PqModel,
             dir: String): Unit = {
    import spark.implicits._
    val rows = for {
      j <- 0 until model.m; c <- 0 until model.k; p <- 0 until model.dsub
    } yield (j, c, p, model.codebooks(j)(c)(p))
    rows.toDF("j", "c", "p", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    State.writeKind(spark, dir, "pq")
    Seq((model.m, model.k, model.dsub)).toDF("m", "k", "dsub")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a [[PqModel]] persisted by [[pqSave]], verifying the `_kind`
    * marker and that every (j, c, p) codebook cell is present (the
    * torn-save guard — meta is written last, so meta present + cells
    * short means a corrupted tree, and a short codebook must never
    * encode silently wrong). All three tables are read on the driver
    * ([[graft.sources.ParquetMeta.driverRows]]), no Spark job. */
  def pqLoad(spark: org.apache.spark.sql.SparkSession, dir: String): PqModel = {
    val kind = State.kindOf(spark, dir).getOrElse("none")
    require(kind == "pq",
      s"model at $dir is '$kind', not 'pq' — refusing a cross-family " +
        "load (it would encode silently wrong)")
    val meta = ParquetMeta.driverRows(spark, s"$dir/meta").head
    val (m, k, dsub) = (meta.getInteger("m", 0), meta.getInteger("k", 0),
      meta.getInteger("dsub", 0))
    val cells = ParquetMeta.driverRows(spark, s"$dir/codebooks")
      .map(g => ((g.getInteger("j", 0), g.getInteger("c", 0),
        g.getInteger("p", 0)), g.getDouble("w", 0))).toMap
    require(cells.size == m * k * dsub,
      s"pqLoad: ${cells.size} codebook cells under $dir, expected " +
        s"${m * k * dsub} (m=$m k=$k dsub=$dsub) — torn save; re-fit " +
        "and re-save the model")
    val codebooks = Array.tabulate(m, k, dsub)((j, c, p) => cells((j, c, p)))
    PqModel(m, k, dsub, codebooks)
  }

  /** The ADC kernel every PQ search scores with: the sum of the `m`
    * table lookups `lookup(j, codes(j))`, the approximate squared L2
    * of one encoded row to the query. A null code row scores
    * Double.MaxValue, so it ranks last. */
  private def adcDistance(codes: Seq[Int],
                          lookup: (Int, Int) => Double): Double =
    if (codes == null) Double.MaxValue
    else {
      var s = 0.0; var j = 0
      while (j < codes.length) { s += lookup(j, codes(j)); j += 1 }
      s
    }

  /** ADC top-k: [[adcDistance]] of every encoded row to the query,
    * ranked by [[rankTop]] of [[AdcScore]]. The corpus side reads
    * CODES ONLY — at 100 TB this is the point: the scan is m bytes per
    * row, the float vectors stay cold. One map stage + TakeOrdered. */
  def pqSearch(codes: DataFrame, idCol: String, model: PqModel,
               query: Array[Double], topK: Int): DataFrame = {
    val spark = codes.sparkSession
    // the broadcast must outlive the returned (lazy) frame, so it is
    // not destroyed here; it is m*k doubles (~4 KB at the defaults) —
    // ContextCleaner reclaims it after the frame is garbage
    val table = spark.sparkContext.broadcast(model.adcTable(query))
    val dist = udf { (cs: Seq[Int]) =>
      val t = table.value
      adcDistance(cs, (j, c) => t(j)(c))
    }
    rankTop(codes.select(col(idCol), AdcScore.of(dist(col("codes")))),
      idCol, AdcScore, topK)
  }

  // ---------------------------------------------------------------
  // IVF+PQ — the composed production serving shape (Jégou et al.
  // 2011's IVFADC): IVF partitions the corpus into cells so a query
  // scans only its nprobe nearest cells, and PQ compresses what each
  // cell stores so that scan reads m bytes per row. Flat [[pqSearch]]
  // is O(corpus) codes per query; this is O(corpus · nprobe / nlist).
  // ---------------------------------------------------------------

  /** The composed index: coarse centers (tiny, driver-side probe
    * pick), SHARED PQ codebooks, and the codes frame carrying
    * (`idCol`, `__cell`, `codes`). `residual` marks the opt-in
    * per-cell RESIDUAL encoding ([[ivfPqFit]]'s flag): codes quantize
    * `v - center(cell)` instead of the raw vector, and serving builds
    * one ADC table per probed cell from the query's residual.
    * `rotation` marks the opt-in OPQ rotation ([[ivfPqFitOpq]]): the
    * whole index — centers, codebooks, codes — lives in the ROTATED
    * space `y = R v`, and every serve/append rotates its incoming
    * vectors at the entry point (rotation preserves L2, so cell
    * assignments and true distances are unchanged — only the
    * quantization grid moves). */
  final case class IvfPqIndex(centers: Array[Array[Double]],
                              model: PqModel, codes: DataFrame,
                              idCol: String, residual: Boolean = false,
                              rotation: Option[Array[Array[Double]]] = None)

  /** Apply a d×d rotation (row-major): `y(i) = Σ_j R(i)(j) v(j)`. */
  private[graft] def rotateVec(r: Array[Array[Double]],
                               v: Array[Double]): Array[Double] = {
    require(v.length == r.length,
      s"rotation: vector dim ${v.length} != rotation dim ${r.length}")
    val d = r.length
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      val row = r(i)
      var s = 0.0; var j = 0
      while (j < d) { s += row(j) * v(j); j += 1 }
      out(i) = s; i += 1
    }
    out
  }

  /** The frame-side rotation kernel (map-only; R rides a broadcast).
    * Null vectors stay null. */
  private def rotateUdf(spark: org.apache.spark.sql.SparkSession,
                        r: Array[Array[Double]])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(r)
    udf { (v: Seq[Double]) =>
      if (v == null) null else rotateVec(bc.value, v.toArray).toSeq
    }
  }

  /** The probe pick every IVF search shares (driver-side in
    * [[ivfSearch]]/[[ivfPqSearch]], per query in [[probeUdf]]): the
    * `nprobe` cells whose centers are nearest the query (squared L2;
    * ties by cell id via stable sort). A query of another width than
    * the index fails LOUDLY ([[requireIndexDim]]). */
  private def nearestCells(centers: Array[Array[Double]],
                           qVec: Array[Double], nprobe: Int): Array[Int] = {
    centers.headOption.foreach(c => requireIndexDim(qVec.length, c.length))
    centers.zipWithIndex.map { case (c, i) =>
      var s = 0.0
      var j = 0
      while (j < c.length) { val d = c(j) - qVec(j); s += d * d; j += 1 }
      (i, s)
    }.sortBy(_._2).take(nprobe).map(_._1)
  }

  /** The per-row residual kernel: `v - center(cell)` with the centers
    * riding a broadcast — the map-only pass residual fit/encode/append
    * all share. Null vectors stay null (no position). */
  private def residualUdf(spark: org.apache.spark.sql.SparkSession,
                          centers: Array[Array[Double]])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(centers)
    udf { (v: Seq[Double], cell: Int) =>
      if (v == null) null
      else {
        val c = bc.value(cell)
        require(v.length == c.length,
          s"residual: vector dim ${v.length} != index dim ${c.length}")
        Array.tabulate(v.length)(i => v(i) - c(i)).toSeq
      }
    }
  }

  /** The query-side residual: `q - center(cell)` for one probed cell
    * (driver-side — probe sets are tiny). */
  private def queryResidual(query: Array[Double],
                            center: Array[Double]): Array[Double] = {
    require(query.length == center.length,
      s"residual: query dim ${query.length} != index dim ${center.length}")
    Array.tabulate(query.length)(i => query(i) - center(i))
  }

  /** Fit the composed index: [[ivfFit]]'s coarse quantizer plus
    * [[pqFit]]'s codebooks, every vector encoded once and carried
    * with its cell id. By DEFAULT the codebooks are SHARED across
    * cells and fit on the RAW vectors, not per-cell residuals — a
    * conscious trade: shared raw-vector codebooks make the probed ADC
    * distance IDENTICAL to flat [[pqSearch]]'s (at nprobe=nlist the
    * composed search reproduces the flat ranking exactly — OpsSpec
    * pins it), while residual-PQ buys tighter quantization at equal
    * bits at the cost of per-cell table rebuilds per query.
    *
    * `residual = true` opts IN to the classic IVFADC residual
    * encoding (Jégou et al. 2011 §III): one codebook family still,
    * but fit on `v - center(cell)` — the residuals concentrate near
    * the origin, so the same m×k bits spend their resolution on a
    * tighter distribution (q197 pins recall >= the shared-codebook
    * default at equal geometry on the fixture). Serving then builds
    * nprobe per-cell tables per query from `q - center(cell)`; the
    * flat-parity contract does NOT apply to this mode (there is no
    * flat equivalent — that is the point of the default). Both KMeans
    * families stay seeded (the q27/q53/q184 determinism contract). */
  def ivfPqFit(df: DataFrame, idCol: String, vecCol: String,
               nlist: Int = 16, m: Int = 8, k: Int = 16,
               seed: Long = 42L, sampleFraction: Double = 1.0,
               maxIterIvf: Int = 20, maxIterPq: Int = 20,
               residual: Boolean = false): IvfPqIndex = {
    val ivf = ivfFit(df, idCol, vecCol, nlist, seed, sampleFraction,
      maxIterIvf)
    if (!residual) {
      val model = pqFit(df, idCol, vecCol, m, k, seed, maxIterPq)
      val codes = ivf.assigned.select(col(idCol), col("__cell"),
        pqEncoder(model)(asDouble(col(vecCol))).as("codes"))
      IvfPqIndex(ivf.centers, model, codes, idCol)
    } else {
      val spark = df.sparkSession
      val res = residualUdf(spark, ivf.centers)
      val resFrame = ivf.assigned
        .withColumn("__res", res(asDouble(col(vecCol)), col("__cell")))
      val model = pqFit(resFrame, idCol, "__res", m, k, seed, maxIterPq)
      val codes = resFrame.select(col(idCol), col("__cell"),
        pqEncoder(model)(col("__res")).as("codes"))
      IvfPqIndex(ivf.centers, model, codes, idCol, residual = true)
    }
  }

  /** [[opqTrain]]'s objective trace: mean squared reconstruction
    * error over the training sample under the IDENTITY rotation with
    * the initial codebooks, and under the learned rotation with the
    * final codebooks. `errRotated <= errIdentity` BY CONSTRUCTION
    * (every alternating step is monotone — see [[opqTrain]]); the
    * q202 oracle pins exactly that, the objective the method
    * optimizes (the q197 discipline for comparing approximations). */
  final case class OpqStats(errIdentity: Double, errRotated: Double)

  /** Learn an OPQ rotation (Ge et al. 2013, "Optimized Product
    * Quantization", the non-parametric alternating solver) on a
    * DRIVER-SIDE training sample: alternate (1) re-encode the rotated
    * sample under the current codebooks, (2) solve the orthogonal
    * Procrustes problem `max_R <R, Σ x̂ vᵀ>` by one d×d SVD (R = U Vᵀ),
    * (3) warm-started Lloyd refinement of the codebooks in the new
    * rotated space. Every step is MONOTONE in the quantization
    * objective (Procrustes can pick R unchanged; re-assignment and
    * centroid means never increase it; Lloyd starts from the previous
    * codebooks, never from scratch), so the returned
    * [[OpqStats]] satisfies `errRotated <= errIdentity` exactly.
    *
    * Driver-side and sample-based ON PURPOSE: the rotation is a d×d
    * matrix learned from a few thousand rows (the Faiss/OPQ training
    * practice), so a distributed fit would only add the one thing
    * this path must not have — float-summation orders that vary with
    * partitioning. Everything here (sample order, seeded centroid
    * init, LAPACK SVD) is deterministic for a given input, which is
    * what makes the persisted index reproducible across 8/32-thread
    * sessions (q202 pins it). Cost: O(iters · n · d · k) flops on a
    * few-thousand-row sample — microscopic next to the corpus encode.
    *
    * Returns (rotation R row-major, codebooks, stats). `iters = 0`
    * returns the identity rotation with the seeded-init+Lloyd
    * codebooks — the equal-everything-but-the-rotation baseline the
    * q202 corpus comparison uses. */
  private[ops] def opqTrain(sample: Array[Array[Double]], m: Int, k: Int,
                            seed: Long, iters: Int = 4,
                            lloydIters: Int = 8)
      : (Array[Array[Double]], Array[Array[Array[Double]]], OpqStats) = {
    require(sample.nonEmpty, "opqTrain: empty training sample")
    val d = sample(0).length
    require(d % m == 0, s"dim $d must divide by m=$m subspaces")
    require(iters >= 0 && lloydIters >= 1, "iters >= 0, lloydIters >= 1")
    val dsub = d / m
    val n = sample.length

    def encodeRow(y: Array[Double], cbs: Array[Array[Array[Double]]])
        : Array[Int] =
      Array.tabulate(m) { j =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var s = 0.0; var p = 0
          while (p < dsub) {
            val dd = y(j * dsub + p) - cbs(j)(c)(p)
            s += dd * dd; p += 1
          }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        best
      }
    def reconRow(codes: Array[Int], cbs: Array[Array[Array[Double]]])
        : Array[Double] = {
      val out = new Array[Double](d)
      var j = 0
      while (j < m) {
        System.arraycopy(cbs(j)(codes(j)), 0, out, j * dsub, dsub)
        j += 1
      }
      out
    }
    def meanErr(ys: Array[Array[Double]],
                cbs: Array[Array[Array[Double]]]): Double = {
      var s = 0.0
      ys.foreach { y =>
        val x = reconRow(encodeRow(y, cbs), cbs)
        var i = 0
        while (i < d) { val dd = y(i) - x(i); s += dd * dd; i += 1 }
      }
      s / n
    }
    // warm-started Lloyd: assign under the current codebooks, replace
    // each centroid with the mean of its assigned subvectors (empty
    // clusters keep their centroid), repeat — monotone from the given
    // start, never a from-scratch re-init
    def lloyd(ys: Array[Array[Double]],
              start: Array[Array[Array[Double]]],
              rounds: Int): Array[Array[Array[Double]]] = {
      var cbs = start
      var r = 0
      while (r < rounds) {
        val sums = Array.fill(m, k, dsub)(0.0)
        val counts = Array.fill(m, k)(0L)
        ys.foreach { y =>
          val codes = encodeRow(y, cbs)
          var j = 0
          while (j < m) {
            val c = codes(j)
            counts(j)(c) += 1
            var p = 0
            while (p < dsub) { sums(j)(c)(p) += y(j * dsub + p); p += 1 }
            j += 1
          }
        }
        cbs = Array.tabulate(m, k) { (j, c) =>
          if (counts(j)(c) == 0) cbs(j)(c)
          else {
            val cnt = counts(j)(c).toDouble
            Array.tabulate(dsub)(p => sums(j)(c)(p) / cnt)
          }
        }
        r += 1
      }
      cbs
    }
    // seeded deterministic init: per subspace, k distinct sample rows
    // (cycled when the sample is smaller than k)
    val init: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      val rnd = new scala.util.Random(seed * 31 + j)
      val order = rnd.shuffle((0 until n).toList)
      Array.tabulate(k) { c =>
        val row = sample(order(c % n))
        java.util.Arrays.copyOfRange(row, j * dsub, (j + 1) * dsub)
      }
    }
    var cbs = lloyd(sample, init, lloydIters)
    val errId = meanErr(sample, cbs)
    var r: Array[Array[Double]] =
      Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var ys = sample
    var it = 0
    while (it < iters) {
      // Procrustes: A(i)(j) = Σ_n x̂(i) v(j); max <R, A> → R = U Vᵀ
      val codes = ys.map(encodeRow(_, cbs))
      val a = breeze.linalg.DenseMatrix.zeros[Double](d, d)
      var row = 0
      while (row < n) {
        val xh = reconRow(codes(row), cbs)
        val v = sample(row)
        var i = 0
        while (i < d) {
          val xi = xh(i)
          if (xi != 0.0) {
            var j = 0
            while (j < d) { a(i, j) += xi * v(j); j += 1 }
          }
          i += 1
        }
        row += 1
      }
      val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(a)
      val rm = u * vt
      r = Array.tabulate(d, d)((i, j) => rm(i, j))
      ys = sample.map(rotateVec(r, _))
      cbs = lloyd(ys, cbs, lloydIters)
      it += 1
    }
    (r, cbs, OpqStats(errId, meanErr(ys, cbs)))
  }

  /** Fit the OPQ-rotated composed index ([[ivfPqFit]] with a learned
    * rotation, Ge et al. 2013): the coarse quantizer is [[ivfFit]] on
    * the RAW vectors (rotation preserves L2, so assignments are the
    * same either way); the rotation + codebooks come from
    * [[opqTrain]] on a deterministic id-ordered sample of the raw
    * vectors (shared mode) or of the per-cell residuals
    * (`residual = true` — OPQ composes with the q197 encoding: rotate
    * the residual distribution instead of the raw one); then centers
    * are stored ROTATED and every vector is encoded as `R v` (or
    * `R (v - c)`) in ONE map pass. Persist with [[ivfPqSave]] (kinds
    * `ivfpq_opq` / `ivfpq_opq_res`); every serve and append rotates
    * incoming vectors at the entry point. Returns the index and the
    * [[OpqStats]] objective trace (rotated <= identity by
    * construction). */
  def ivfPqFitOpq(df: DataFrame, idCol: String, vecCol: String,
                  nlist: Int = 16, m: Int = 8, k: Int = 16,
                  seed: Long = 42L, sampleFraction: Double = 1.0,
                  maxIterIvf: Int = 20, residual: Boolean = false,
                  opqIters: Int = 4, opqSampleN: Int = 4096,
                  lloydIters: Int = 8): (IvfPqIndex, OpqStats) = {
    val spark = df.sparkSession
    val ivf = ivfFit(df, idCol, vecCol, nlist, seed, sampleFraction,
      maxIterIvf)
    val trainCol =
      if (residual)
        residualUdf(spark, ivf.centers)(asDouble(col(vecCol)), col("__cell"))
      else asDouble(col(vecCol))
    val trainFrame = ivf.assigned.where(col(vecCol).isNotNull)
      .select(col(idCol).as("__oid"), trainCol.as("__tv"))
    // deterministic training sample: id-ordered prefix — the fit must
    // not depend on partitioning or thread count (q202 pins identity
    // across 8/32-thread sessions)
    val sample = trainFrame.orderBy(col("__oid")).limit(opqSampleN)
      .select(col("__tv")).collect().map(_.getSeq[Double](0).toArray)
    val (r, cbs, stats) = opqTrain(sample, m, k, seed, opqIters, lloydIters)
    val dsub = sample(0).length / m
    val model = PqModel(m, k, dsub, cbs)
    val rot = rotateUdf(spark, r)
    val encodeInput =
      if (residual)
        rot(residualUdf(spark, ivf.centers)(asDouble(col(vecCol)),
          col("__cell")))
      else rot(asDouble(col(vecCol)))
    val codes = ivf.assigned.select(col(idCol), col("__cell"),
      pqEncoder(model)(encodeInput).as("codes"))
    (IvfPqIndex(ivf.centers.map(rotateVec(r, _)), model, codes, idCol,
      residual = residual, rotation = Some(r)), stats)
  }

  /** Persist an [[IvfPqIndex]]: codes parquet PARTITIONED BY
    * (`__cell`, `__batch_id`) — cell first, so a probe of nprobe
    * cells prunes to nprobe directories at the scan (the file-level
    * pruning that makes the serving cost O(corpus·nprobe/nlist));
    * the batch level underneath backs [[ivfPqAppend]]'s exactly-once
    * contract, with fit-time codes under the reserved
    * `__batch_id=-1`. The (tiny) centers land as the [[ivfSave]]
    * side table, the model via [[pqSave]], and a top-level `_kind`
    * marker is written LAST as the commit marker. A save is a new
    * corpus version: the drift baseline and applied-batch ledger are
    * cleared ([[ivfSave]]'s rule). */
  def ivfPqSave(index: IvfPqIndex, dir: String): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    saveCells(index.codes, index.centers, dir, "codes")
    pqSave(spark, index.model, s"$dir/pq")
    // the OPQ rotation (tiny — d*d doubles) persists beside the model
    index.rotation.foreach { r =>
      r.zipWithIndex.flatMap { case (row, i) =>
        row.zipWithIndex.map { case (w, j) => (i, j, w) }
      }.toSeq.toDF("i", "j", "w")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/rotation")
    }
    // residual/OPQ indexes carry DISTINCT kinds: their codes are
    // meaningless under another mode's serving (and vice versa), so
    // a cross-mode load must fail loudly, not rank silently wrong
    val kind = (index.rotation.isDefined, index.residual) match {
      case (true, true)   => "ivfpq_opq_res"
      case (true, false)  => "ivfpq_opq"
      case (false, true)  => "ivfpq_res"
      case (false, false) => "ivfpq"
    }
    State.writeKind(spark, dir, kind)
  }

  /** Load an [[IvfPqIndex]] persisted by [[ivfPqSave]] (`_kind`
    * guard; the codes frame stays a lazy partition-pruned scan).
    * No Spark job: the side tables are read on the driver and the
    * codes scan's schema comes from one driver-side footer read.
    * The persisted kind restores the residual flag, so a loaded
    * index serves through the same table construction it was
    * encoded under. */
  def ivfPqLoad(spark: org.apache.spark.sql.SparkSession, dir: String,
                idCol: String): IvfPqIndex = {
    val kind = State.kindOf(spark, dir).getOrElse("none")
    require(Set("ivfpq", "ivfpq_res", "ivfpq_opq", "ivfpq_opq_res")(kind),
      s"index at $dir is '$kind', not an ivfpq family — refusing a " +
        "cross-family load")
    val rotation =
      if (kind.startsWith("ivfpq_opq")) Some(loadRotation(spark, dir))
      else None
    IvfPqIndex(loadCenters(spark, dir), pqLoad(spark, s"$dir/pq"),
      ParquetMeta.readParquet(spark, s"$dir/codes"), idCol,
      residual = kind.endsWith("_res"), rotation = rotation)
  }

  /** Rotate an embedding column by an OPQ rotation (map-only) — the
    * frame-side mate of a rotated index: drift baselines and drift
    * scoring against an `ivfpq_opq` index must feed ROTATED vectors,
    * because the persisted centers live in the rotated space (the
    * distances are then exactly the raw-space distances — rotation
    * preserves L2). */
  def rotateEmbeddings(df: DataFrame, vecCol: String,
                       rotation: Array[Array[Double]]): DataFrame =
    df.withColumn(vecCol,
      rotateUdf(df.sparkSession, rotation)(asDouble(col(vecCol))))

  /** The persisted OPQ rotation of an index dir, when its `_kind`
    * carries one; None for every other layout (including a plain IVF
    * dir, which has no `_kind` at all). The torn-rotation load guard
    * applies. */
  def ivfPqRotationOf(spark: org.apache.spark.sql.SparkSession,
                      dir: String): Option[Array[Array[Double]]] =
    if (State.kindOf(spark, dir).exists(_.startsWith("ivfpq_opq")))
      Some(loadRotation(spark, dir))
    else None

  /** Load the persisted OPQ rotation, verifying every (i, j) cell is
    * present (a torn rotation would rotate queries silently wrong). */
  private def loadRotation(spark: org.apache.spark.sql.SparkSession,
                           dir: String): Array[Array[Double]] = {
    val cells = ParquetMeta.driverRows(spark, s"$dir/rotation")
      .map(g => ((g.getInteger("i", 0), g.getInteger("j", 0)),
        g.getDouble("w", 0))).toMap
    val d = math.sqrt(cells.size.toDouble).toInt
    require(d * d == cells.size && cells.keySet ==
        (for (i <- 0 until d; j <- 0 until d) yield (i, j)).toSet,
      s"ivfPqLoad: rotation under $dir is torn (${cells.size} cells) — " +
        "re-fit and re-save the index")
    Array.tabulate(d, d)((i, j) => cells((i, j)))
  }

  /** APPEND an ingest batch to a persisted IVF+PQ index WITHOUT
    * refit — [[ivfAppend]] for the composed layout: the codebooks
    * load with the centers, each new vector is assigned its nearest
    * center AND encoded in one map-only pass, and the codes land in
    * their `__cell` partitions. Encoding is deterministic given the
    * codebooks, so appended codes equal what a fit-time encode of the
    * same vectors would store (q190 pins that). Exactly-once with
    * `batchId`, plain append without it, and the single-writer and
    * version rules: [[appendCells]]. */
  def ivfPqAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
                  newDf: DataFrame, idCol: String, vecCol: String,
                  batchId: Option[Long] = None): Boolean =
    appendCells(spark, dir, "codes", newDf, batchId) { centers =>
      val model = pqLoad(spark, s"$dir/pq")
      // the persisted kind decides the encode input: a residual index
      // must encode v - center(cell), and an OPQ index must rotate
      // first (its centers/codebooks live in the rotated space) —
      // exactly as fit time did
      val kind = State.kindOf(spark, dir).getOrElse("none")
      val input =
        if (kind.startsWith("ivfpq_opq"))
          rotateEmbeddings(newDf, vecCol, loadRotation(spark, dir))
        else newDf
      val vec = asDouble(col(vecCol))
      val encodeInput =
        if (kind.endsWith("_res")) residualUdf(spark, centers)(vec, col("__cell"))
        else vec
      assignCells(spark, centers, input, vecCol)
        .select(col(idCol), col("__cell"), pqEncoder(model)(encodeInput).as("codes"))
    }

  /** [[IvfBaseline]] computed from a VECTOR FRAME against given
    * centers — THE baseline recipe of both layouts (the IVF+PQ codes
    * layout stores no raw vectors to re-read): one map pass (the
    * shared argmin kernel) + a <= nlist-row aggregate ([[cellStats]],
    * the drift report's own). Fit it from the corpus frame and the
    * just-fitted centers, persist it with [[ivfBaselineSave]];
    * [[ivfDriftReport]] consumes it unchanged. Cell counts can differ
    * from the fit's stored `__cell` on near-equidistant rows: KMeans
    * assigns with its own fastSquaredDistance, whose tie-break and
    * precision are not the kernel's. */
  def ivfBaselineOf(spark: org.apache.spark.sql.SparkSession,
                    centers: Array[Array[Double]], df: DataFrame,
                    vecCol: String): IvfBaseline = {
    require(centers.nonEmpty, "ivfBaselineOf: empty centers")
    val rows = cellStats(spark, centers, df, vecCol)
    val n = rows.map(_._2).sum
    require(n > 0, "ivfBaselineOf: no non-null vectors in the corpus")
    IvfBaseline(centers.length, n,
      rows.map(r => r._1 -> r._2).toMap,
      rows.map(_._3).sum / n)
  }

  /** Serve one query from the composed index: the `nprobe` nearest
    * cells are picked DRIVER-SIDE from the tiny centers, the codes
    * scan is pruned to exactly those cells (partition directories in
    * the [[ivfPqSave]] layout), and each surviving row costs `m`
    * ADC table lookups ([[adcDistance]], ranked by [[rankTop]] of
    * [[AdcScore]]). At nprobe=nlist this equals flat
    * [[pqSearch]] exactly (shared raw-vector codebooks); at the
    * production nprobe << nlist each query reads ~nprobe/nlist of
    * the code bytes — the last O(corpus)-per-query path closed. */
  def ivfPqSearch(index: IvfPqIndex, rawQuery: Array[Double], topK: Int,
                  nprobe: Int = 4): DataFrame = {
    val spark = index.codes.sparkSession
    // an OPQ index lives in the rotated space: rotate the query once
    // at the entry point, everything downstream is unchanged
    val query = index.rotation.map(rotateVec(_, rawQuery)).getOrElse(rawQuery)
    val probeCells = nearestCells(index.centers, query, nprobe)
    // broadcast must outlive the returned lazy frame (pqSearch's
    // lifetime note); <= nprobe tables of m*k doubles each,
    // ContextCleaner reclaims them.
    // Shared codebooks: ONE table from the raw query serves every
    // probed cell. Residual: one table PER probed cell from
    // q - center(cell) (built driver-side — probe sets are tiny),
    // looked up by the row's own cell id.
    val tables = spark.sparkContext.broadcast(
      if (index.residual)
        probeCells.map(c =>
          c -> index.model.adcTable(queryResidual(query, index.centers(c))))
          .toMap
      else {
        val one = index.model.adcTable(query)
        probeCells.map(c => c -> one).toMap
      })
    val dist = udf { (cell: Int, cs: Seq[Int]) =>
      val t = tables.value(cell)
      adcDistance(cs, (j, c) => t(j)(c))
    }
    rankTop(index.codes
      .where(col("__cell").isin(probeCells.toSeq: _*))
      .select(col(index.idCol),
        AdcScore.of(dist(col("__cell"), col("codes")))),
      index.idCol, AdcScore, topK)
  }

  /**
   * TWO-STAGE production serving — ADC candidates, EXACT rerank: the
   * standard recall repair for quantized indexes (the "top-100 rerank
   * window" q184/q186's contracts measure). Stage 1 is
   * [[ivfPqSearch]]'s pruned ADC scan for the top-`window` candidate
   * ids; stage 2 joins JUST those ids back to the raw-vector frame
   * (BROADCAST — the window is tiny by construction) and reranks them
   * by exact cosine against the raw query.
   *
   * Guarantees (q198 pins them): any true top-k member that reaches
   * the window is ranked at the top by the exact rerank — so
   * recall@k(rerank) = |window ∩ exact top-k| >= recall@k(raw ADC
   * top-k), BY CONSTRUCTION; and at nprobe=nlist with window >=
   * corpus the output IS brute-force [[cosineTopK]] (the rerank
   * analog of the flat-parity contract). Works for both codebook
   * modes (stage 1 dispatches on the index's residual flag).
   *
   * Scale note: the rerank lookup scans `vectors` once per query
   * under a plain broadcast semi-join — point it at an id-bucketed
   * (or the cell-partitioned assigned) layout so the join prunes, or
   * amortize over query batches. Output: (idCol, cosine), exact
   * values, ranked by [[rankTop]] of [[CosineScore]].
   */
  def ivfPqSearchRerank(index: IvfPqIndex, vectors: DataFrame,
                        vecCol: String, query: Array[Double], topK: Int,
                        window: Int = 100, nprobe: Int = 4): DataFrame = {
    require(window >= topK,
      s"rerank window $window must be >= topK $topK")
    val spark = index.codes.sparkSession
    import spark.implicits._
    val cand = ivfPqSearch(index, query, window, nprobe)
      .select(col(index.idCol))
    val qRow = Seq(Tuple1(query.toSeq)).toDF("__q")
    rankTop(vectors.join(broadcast(cand), Seq(index.idCol))
      .crossJoin(broadcast(qRow))
      .select(col(index.idCol), cosineTo(vecCol, col("__q"))),
      index.idCol, CosineScore, topK)
  }

  /**
   * BATCH ADC serving — the [[annLshTopKBatch]] shape for the
   * composed index: every row of `queries` (raw vectors) gets its
   * approximate top-k from the codes in ONE job, amortizing the scan
   * over the whole query set instead of launching a job per query.
   *
   * Plan shape: each query maps to its nprobe probe cells + its m×k
   * ADC table in one map pass ([[probeUdf]]; centers/codebooks ride a
   * broadcast). The probe side is TWO frames so the table is never
   * duplicated per probe cell: a narrow exploded (qid, cell) frame
   * joins the codes on the cell key, and a (qid, table) frame — ONE
   * m×k table per query — joins back on the query id
   * ([[probeJoin]], broadcast under `broadcastMaxBytes`, plain
   * shuffle joins above it). Each surviving row costs m table lookups
   * ([[adcDistance]]), and only narrow (qid, id, dist) rows reach
   * [[rankPerQuery]]. Per query this ranks IDENTICALLY to
   * [[ivfPqSearch]] (same table, same score — q191 pins the parity,
   * OpsSpec pins it at BOTH plan shapes). A query set embedded at a
   * width other than the index's throws an IllegalArgumentException
   * ([[queryCount]]). Query ids must not collide with corpus ids only
   * if the caller plans to join the two — the search itself keeps
   * them in separate columns.
   */
  def ivfPqSearchBatch(index: IvfPqIndex, queries: DataFrame,
                       qIdCol: String, vecCol: String, topK: Int,
                       nprobe: Int = 4,
                       broadcastMaxBytes: Long = 64L << 20): DataFrame = {
    val spark = index.codes.sparkSession
    val bcModel = spark.sparkContext.broadcast(index.model)
    // the probe payload per query is one m·k·8 table + nprobe·16 probe
    // rows (shared codebooks) or nprobe whole tables (residual — the
    // per-cell tables are inherent to that encoding), estimable
    // DRIVER-side from the model geometry and one pass over the query
    // frame — cheap next to the serve job, and the only honest way to
    // know whether the caller handed us a sampled query set or the
    // whole corpus
    val nQueries = queryCount(queries, vecCol, index.centers.head.length)
    val tableBytes = index.model.m.toLong * index.model.k * 8L
    val perQueryBytes =
      (if (index.residual) nprobe.toLong * tableBytes else tableBytes) +
        nprobe.toLong * 16L
    // OPQ: each query is rotated inside the same map pass that builds
    // its probes/table — downstream is the unrotated plan unchanged
    def prepared[T: TypeTag](
        f: (Array[Double], Array[Int], Array[Array[Double]]) => T) = {
      val prep = probeUdf(spark, index.centers, nprobe, index.rotation)(f)
      queries.select(col(qIdCol).as("__qid"),
          prep(asDouble(col(vecCol))).as("__p"))
        .where(col("__p").isNotNull)
    }
    val joined = if (!index.residual) {
      val base = prepared((y, cells, _) =>
        (cells, bcModel.value.adcTable(y)))
      // ONE (qid, cell) row per probe, ONE m×k table per QUERY — the
      // r15 shape carried the full table in every probe-cell row, an
      // nprobe-fold duplication that was pure broadcast waste
      val probes = base.select(col("__qid"),
        explode(col("__p._1")).as("__cell"))
      val tables = base.select(col("__qid"), col("__p._2").as("__tbl"))
      probeJoin(index.codes, probes, Some(tables), nQueries, perQueryBytes,
        broadcastMaxBytes)
    } else {
      // residual: the table is PER (query, probed cell) — built from
      // q - center(cell), so it rides each probe row (no sharing to
      // exploit; the guard estimate above charges for it honestly)
      val probes = prepared((y, cells, centers) => cells.map(c =>
          (c, bcModel.value.adcTable(queryResidual(y, centers(c))))))
        .select(col("__qid"), explode(col("__p")).as("__pc"))
        .select(col("__qid"), col("__pc._1").as("__cell"),
          col("__pc._2").as("__tbl"))
      probeJoin(index.codes, probes, None, nQueries, perQueryBytes,
        broadcastMaxBytes)
    }
    val dist = udf((tbl: Seq[Seq[Double]], cs: Seq[Int]) =>
      adcDistance(cs, (j, c) => tbl(j)(c)))
    rankPerQuery(joined.select(col("__qid"), col(index.idCol),
      AdcScore.of(dist(col("__tbl"), col("codes")))),
      index.idCol, AdcScore, topK)
  }
}
