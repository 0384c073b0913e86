package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.SimSearch
import graft.sources.FormatIO
import graft.state.State

/**
 * ANN index lifecycle CLI — the [[CurateCli]] shape for the SimSearch
 * family (extension surface; the reference has no ANN at all): the
 * operators (`ivfFit`/`ivfAppend`/`ivfSearch`/`ivfDriftReport` and
 * their persistence halves) are library calls; a pipeline component
 * this central must be drivable without writing Scala. Four verbs over
 * a persisted index directory (the [[SimSearch.ivfSave]] layout):
 *
 *  - `fit`: fit the coarse quantizer on `--input`, persist the index
 *    (cell-partitioned assigned corpus + centers) AND its drift
 *    baseline — one corpus version, fit once. With `--pq-m/--pq-k`
 *    the fit is the COMPOSED IVF+PQ index instead ([[SimSearch
 *    .ivfPqFit]]: cell-partitioned codes, no raw vectors stored;
 *    every later verb dispatches on the persisted `_kind`).
 *  - `append`: assign an ingest batch to the existing centers and land
 *    it in the cell partitions — no refit, no baseline change (the
 *    baseline is per corpus VERSION; `drift` tells you when to refit).
 *    With `--batch-id` the append is EXACTLY-ONCE: a replayed id is a
 *    ledger-checked no-op, a crashed attempt's retry overwrites its
 *    own partitions ([[SimSearch.ivfAppend]]'s contract) — the flag
 *    every production ingest with retries should pass.
 *  - `search`: serve one query id from the persisted index
 *    (driver-side probe pick, nprobe-pruned scan) to `--output`.
 *  - `search-batch`: serve a whole query FRAME (`--input`, rows of
 *    id + vector) in ONE job to `--output` — the shape a pipeline
 *    actually runs ([[SimSearch.ivfPqSearchBatch]] /
 *    [[SimSearch.ivfSearchBatch]], `_kind`-dispatched).
 *  - `drift`: score an ingest batch against the persisted baseline
 *    (PSI over cell shares + distance ratio) to `--output` — the
 *    measurable refit trigger.
 *
 * Flags: <verb> --index dir [--input p] [--output p] [--filetype t]
 * [--pq-opq]
 * [--id-col c] [--vec-col c] [--nlist n] [--seed n]
 * [--sample-fraction d] [--k n] [--nprobe n] [--query-id n]
 * [--batch-id n] [--psi-alert d] [--dist-alert d] [--help].
 */
object IndexCli {

  case class Config(verb: String = "",
                    index: String = "",
                    input: String = "",
                    output: String = "",
                    fileType: Option[String] = None,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    nlist: Int = 16,
                    seed: Long = 42L,
                    sampleFraction: Double = 1.0,
                    k: Int = 10,
                    nprobe: Int = 4,
                    queryId: Long = 0L,
                    batchId: Option[Long] = None,
                    psiAlert: Double = 0.25,
                    distAlert: Double = 1.5,
                    pqM: Option[Int] = None,
                    pqK: Option[Int] = None,
                    pqResidual: Boolean = false,
                    pqOpq: Boolean = false,
                    rerank: Option[Int] = None)

  val usage: String =
    """index — ANN index lifecycle (graft.ops.SimSearch, IVF layout)
      |  <verb>                     fit | append | search | search-batch | drift
      |                             (required, first)
      |  --index <dir>              persisted index directory (required)
      |  --input <path>             corpus / ingest batch / query frame
      |                             (fit, append, drift, search-batch)
      |  --output <path>            result parquet sink (search, search-batch, drift)
      |  --filetype <t>             json | csv | txt | parquet | orc | wet (else sniffed)
      |  --id-col <c>               vector id column (default vec_id)
      |  --vec-col <c>              embedding column (default embedding)
      |  --nlist <n>                fit: number of IVF cells (default 16)
      |  --seed <n>                 fit: KMeans seed (default 42)
      |  --sample-fraction <d>      fit: deterministic fit sample (default 1.0)
      |  --pq-residual              fit: with --pq-m/--pq-k, encode per-cell
      |                             RESIDUALS (v - center) instead of raw
      |                             vectors — tighter quantization at equal
      |                             bits; persisted kind ivfpq_res
      |  --pq-opq                   fit: with --pq-m/--pq-k, learn an OPQ
      |                             rotation (Ge et al. 2013) before
      |                             encoding — composes with --pq-residual;
      |                             persisted kinds ivfpq_opq[_res]
      |  --pq-m <n> --pq-k <n>      fit: BOTH set -> IVF+PQ composed index
      |                             (codes per cell, 4*dim/m x compression;
      |                             search then needs --input for the query
      |                             vector — codes store no raw vectors)
      |  --k <n>                    search: neighbors to return (default 10)
      |  --nprobe <n>               search: cells to probe (default 4)
      |  --query-id <n>             search: query vector id (default 0)
      |  --rerank <w>               search (ivfpq): EXACT-cosine rerank of the
      |                             top-w ADC candidates against --input's raw
      |                             vectors (w >= --k; the production
      |                             two-stage serve)
      |  --batch-id <n>             append: exactly-once ledger id (>= 0;
      |                             replayed ids are a no-op — pass your
      |                             ingest framework's batch id)
      |  --psi-alert <d>            drift: PSI alert threshold (default 0.25)
      |  --dist-alert <d>           drift: distance-ratio alert (default 1.5)
      |  --help                     this text""".stripMargin

  /** Hand-rolled parse, [[CurateCli.parse]]'s grammar: the verb leads,
    * flags follow; None = invalid (caller prints usage). */
  def parse(args: Seq[String]): Option[Config] = {
    def loop(rest: List[String], c: Config): Option[Config] = rest match {
      case Nil => validate(c)
      case "--index" :: v :: t => loop(t, c.copy(index = v))
      case "--input" :: v :: t => loop(t, c.copy(input = v))
      case "--output" :: v :: t => loop(t, c.copy(output = v))
      case "--filetype" :: v :: t => loop(t, c.copy(fileType = Some(v)))
      case "--id-col" :: v :: t => loop(t, c.copy(idCol = v))
      case "--vec-col" :: v :: t => loop(t, c.copy(vecCol = v))
      case "--nlist" :: v :: t => v.toIntOption match {
        case Some(n) if n >= 1 => loop(t, c.copy(nlist = n))
        case _ => None
      }
      case "--seed" :: v :: t =>
        v.toLongOption.flatMap(n => loop(t, c.copy(seed = n)))
      case "--sample-fraction" :: v :: t => v.toDoubleOption match {
        case Some(d) if d > 0.0 && d <= 1.0 =>
          loop(t, c.copy(sampleFraction = d))
        case _ => None
      }
      case "--pq-m" :: v :: t => v.toIntOption match {
        case Some(n) if n >= 1 => loop(t, c.copy(pqM = Some(n)))
        case _ => None
      }
      case "--pq-k" :: v :: t => v.toIntOption match {
        case Some(n) if n >= 1 => loop(t, c.copy(pqK = Some(n)))
        case _ => None
      }
      case "--pq-residual" :: t => loop(t, c.copy(pqResidual = true))
      case "--pq-opq" :: t => loop(t, c.copy(pqOpq = true))
      case "--k" :: v :: t => v.toIntOption match {
        case Some(n) if n >= 1 => loop(t, c.copy(k = n))
        case _ => None
      }
      case "--nprobe" :: v :: t => v.toIntOption match {
        case Some(n) if n >= 1 => loop(t, c.copy(nprobe = n))
        case _ => None
      }
      case "--query-id" :: v :: t =>
        v.toLongOption.flatMap(n => loop(t, c.copy(queryId = n)))
      case "--rerank" :: v :: t => v.toIntOption match {
        case Some(n) if n >= 1 => loop(t, c.copy(rerank = Some(n)))
        case _ => None
      }
      case "--batch-id" :: v :: t => v.toLongOption match {
        case Some(n) if n >= 0 => loop(t, c.copy(batchId = Some(n)))
        case _ => None // negative ids are reserved for fit partitions
      }
      case "--psi-alert" :: v :: t =>
        v.toDoubleOption.flatMap(d => loop(t, c.copy(psiAlert = d)))
      case "--dist-alert" :: v :: t =>
        v.toDoubleOption.flatMap(d => loop(t, c.copy(distAlert = d)))
      case "--help" :: _ => None
      case _ => None
    }
    args.toList match {
      case verb :: rest
          if Set("fit", "append", "search", "search-batch", "drift")(verb) =>
        loop(rest, Config(verb = verb))
      case _ => None
    }
  }

  private def validate(c: Config): Option[Config] = {
    val needInput = Set("fit", "append", "search-batch", "drift")(c.verb)
    val needOutput = Set("search", "search-batch", "drift")(c.verb)
    if (c.index.isEmpty) None
    else if (needInput && c.input.isEmpty) None
    else if (needOutput && c.output.isEmpty) None
    else if (c.pqM.isDefined != c.pqK.isDefined) None // both or neither
    else if (c.pqResidual && c.pqM.isEmpty) None // residual needs --pq-m/-k
    else if (c.pqOpq && c.pqM.isEmpty) None // opq needs --pq-m/-k
    // --rerank is the two-stage ivfpq `search` serve and nothing else:
    // accepted anywhere it would be silently ignored, a user asking
    // for the exact rerank would get un-reranked results with no
    // warning (the index-KIND half of the check lives in run(), where
    // the persisted _kind is known)
    else if (c.rerank.isDefined && c.verb != "search") None
    else if (c.rerank.exists(_ < c.k)) None // window must cover --k
    else Some(c)
  }

  /** Which layout lives under the index dir: ivfPqSave writes a
    * `_kind` marker, plain ivfSave does not — absent marker = ivf.
    * Read on the driver, no Spark job. */
  private def indexKind(spark: SparkSession, dir: String): String =
    State.kindOf(spark, dir).getOrElse("ivf")

  def main(args: Array[String]): Unit = {
    parse(args.toSeq) match {
      case None =>
        System.err.println(usage)
        sys.exit(-1)
      case Some(config) =>
        val spark = SparkSession.builder()
          .appName("graftIndex")
          .config("spark.sql.legacy.parquet.nanosAsLong", "true")
          .getOrCreate()
        try run(config, spark)
        finally spark.stop()
    }
  }

  private def load(config: Config, spark: SparkSession): DataFrame =
    FormatIO.loadFile(config.fileType, config.input, spark)
      .map(_._1)
      .getOrElse(throw new IllegalArgumentException(
        s"could not load ${config.input}: unknown filetype"))

  def run(config: Config, spark: SparkSession): Unit = config.verb match {
    case "fit" =>
      val df = load(config, spark)
      // the drift baseline is part of the corpus version — fit and
      // persist it WITH the index (the save just invalidated any stale
      // one), so `drift` runs load it instead of re-scanning: fitted
      // from the in-session frame against the just-fitted centers
      // (ivfBaselineOf; `df` must re-read the rows the index stored —
      // a deterministic source). The composed IVF+PQ layout stores
      // CODES, no raw vectors; an OPQ fit stores ROTATED centers, so
      // its baseline feeds the ROTATED frame (distances are then the
      // raw-space distances — rotation preserves L2; the drift verb
      // rotates its batch the same way)
      val (centers, baseDf, detail) = (config.pqM, config.pqK) match {
        case (Some(m), Some(k)) =>
          val idx =
            if (config.pqOpq)
              SimSearch.ivfPqFitOpq(df, config.idCol, config.vecCol,
                config.nlist, m, k, config.seed,
                config.sampleFraction, residual = config.pqResidual)._1
            else SimSearch.ivfPqFit(df, config.idCol, config.vecCol,
              config.nlist, m, k, config.seed,
              config.sampleFraction, residual = config.pqResidual)
          SimSearch.ivfPqSave(idx, config.index)
          (idx.centers,
            idx.rotation
              .map(r => SimSearch.rotateEmbeddings(df, config.vecCol, r))
              .getOrElse(df),
            s", pq m=$m k=$k" +
              (if (config.pqResidual) " (residual)" else "") +
              (if (config.pqOpq) " (opq)" else ""))
        case _ =>
          val idx = SimSearch.ivfFit(df, config.idCol,
            config.vecCol, config.nlist, config.seed, config.sampleFraction)
          SimSearch.ivfSave(idx, config.index)
          (idx.centers, df, "")
      }
      val baseline = SimSearch.ivfBaselineOf(spark, centers, baseDf,
        config.vecCol)
      SimSearch.ivfBaselineSave(spark, baseline, config.index)
      println(s"fit: ${baseline.n} vectors in ${baseline.nlist} cells" +
        s"$detail -> ${config.index}")
    case "append" =>
      val applied =
        if (indexKind(spark, config.index).startsWith("ivfpq"))
          SimSearch.ivfPqAppend(spark, config.index, load(config, spark),
            config.idCol, config.vecCol, config.batchId)
        else
          SimSearch.ivfAppend(spark, config.index, load(config, spark),
            config.idCol, config.vecCol, config.batchId)
      if (applied)
        println(s"append: ${config.input} -> ${config.index}" +
          config.batchId.map(id => s" (batch $id applied)").getOrElse(""))
      else
        println(s"append: batch ${config.batchId.get} already applied " +
          s"to ${config.index} — no-op (exactly-once replay)")
    case "search" if indexKind(spark, config.index).startsWith("ivfpq") =>
      // the codes layout stores no raw vectors: the query vector
      // comes from --input (the corpus/batch parquet holding it)
      require(config.input.nonEmpty,
        "search over an ivfpq index needs --input to resolve the " +
          "query vector (codes store no raw vectors)")
      val idx = SimSearch.ivfPqLoad(spark, config.index, config.idCol)
      val vectors = load(config, spark)
      val q = SimSearch.queryVector(vectors, config.idCol, config.vecCol,
        config.queryId,
        s"--input ${config.input} (the vectors of index ${config.index})")
      val res = config.rerank match {
        case Some(w) =>
          SimSearch.ivfPqSearchRerank(idx, vectors, config.vecCol, q,
            config.k, w, config.nprobe)
        case None => SimSearch.ivfPqSearch(idx, q, config.k, config.nprobe)
      }
      res.write.mode("overwrite").parquet(config.output)
      println(s"search (ivfpq): query ${config.queryId} top-${config.k} " +
        s"(nprobe ${config.nprobe}" +
        config.rerank.map(w => s", rerank $w").getOrElse("") +
        s") -> ${config.output}")
    case "search" =>
      // the plain IVF layout stores raw vectors and its search already
      // ranks by EXACT cosine within the probed cells — a rerank pass
      // has nothing to re-rank; silently ignoring the flag would hand
      // a user asking for the two-stage serve something else
      require(config.rerank.isEmpty,
        "--rerank applies to the ivfpq-family layouts only: the plain " +
          "ivf search is already exact-cosine within the probed cells")
      val idx = SimSearch.ivfLoad(spark, config.index, config.idCol,
        config.vecCol)
      SimSearch.ivfSearch(idx, config.queryId, config.k, config.nprobe)
        .write.mode("overwrite").parquet(config.output)
      println(s"search: query ${config.queryId} top-${config.k} " +
        s"(nprobe ${config.nprobe}) -> ${config.output}")
    case "search-batch" =>
      // the whole query FRAME (--input rows of id + vector) in ONE
      // job — the shape a pipeline actually runs; `_kind`-dispatched
      // like every other verb
      val queries = load(config, spark)
      val res =
        if (indexKind(spark, config.index).startsWith("ivfpq"))
          SimSearch.ivfPqSearchBatch(
            SimSearch.ivfPqLoad(spark, config.index, config.idCol),
            queries, config.idCol, config.vecCol, config.k, config.nprobe)
        else
          SimSearch.ivfSearchBatch(
            SimSearch.ivfLoad(spark, config.index, config.idCol,
              config.vecCol),
            queries, config.idCol, config.vecCol, config.k, config.nprobe)
      res.write.mode("overwrite").parquet(config.output)
      println(s"search-batch: ${config.input} top-${config.k} " +
        s"(nprobe ${config.nprobe}) -> ${config.output}")
    case "drift" =>
      val baseline = SimSearch.ivfBaselineLoad(spark, config.index)
      // an OPQ index's centers live in the rotated space: rotate the
      // batch so its cell shares and distances are comparable
      val batch0 = load(config, spark)
      val batch = SimSearch.ivfPqRotationOf(spark, config.index)
        .map(r => SimSearch.rotateEmbeddings(batch0, config.vecCol, r))
        .getOrElse(batch0)
      SimSearch.ivfDriftReport(spark, config.index, baseline,
        batch, config.vecCol, config.psiAlert,
        config.distAlert)
        .write.mode("overwrite").parquet(config.output)
      println(s"drift: ${config.input} vs ${config.index} baseline " +
        s"-> ${config.output}")
    case other =>
      throw new IllegalArgumentException(s"unknown verb: $other")
  }
}
