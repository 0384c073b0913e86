package graft.cli

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.ops.SimSearch

/** [[IndexCli]] — arg grammar + the full fit/append/search/drift
  * lifecycle driven end to end over the embeddings fixture, each verb
  * cross-checked against the library call it wraps (the CurateCliSpec
  * pattern: CLI ≡ library). */
class IndexCliSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def tmpDir(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_idxcli_")

  private def rm(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => java.nio.file.Files.deleteIfExists(f))
  }

  test("parse: verb-led grammar, per-verb requirements, bad values") {
    val c = IndexCli.parse(Seq("fit", "--index", "ix", "--input", "in",
      "--id-col", "id", "--vec-col", "v", "--nlist", "8", "--seed", "7",
      "--sample-fraction", "0.5")).get
    assert(c.verb === "fit" && c.index === "ix" && c.input === "in")
    assert(c.idCol === "id" && c.vecCol === "v")
    assert(c.nlist === 8 && c.seed === 7L && c.sampleFraction === 0.5)
    val s = IndexCli.parse(Seq("search", "--index", "ix", "--output", "o",
      "--k", "5", "--nprobe", "2", "--query-id", "9")).get
    assert(s.k === 5 && s.nprobe === 2 && s.queryId === 9L)
    // the verb leads; per-verb requirements enforced
    assert(IndexCli.parse(Seq("--index", "ix")).isEmpty) // no verb
    assert(IndexCli.parse(Seq("resize", "--index", "ix")).isEmpty)
    assert(IndexCli.parse(Seq("fit", "--index", "ix")).isEmpty) // no input
    assert(IndexCli.parse(Seq("append", "--index", "ix")).isEmpty)
    assert(IndexCli.parse(Seq("search", "--index", "ix")).isEmpty) // no output
    assert(IndexCli.parse(Seq("drift", "--index", "ix", "--input", "b"))
      .isEmpty) // no output
    assert(IndexCli.parse(Seq("fit", "--input", "in")).isEmpty) // no index
    assert(IndexCli.parse(Seq("fit", "--index", "ix", "--input", "in",
      "--nlist", "0")).isEmpty)
    assert(IndexCli.parse(Seq("fit", "--index", "ix", "--input", "in",
      "--sample-fraction", "1.5")).isEmpty)
    assert(IndexCli.parse(Seq("fit", "--index", "ix", "--input", "in",
      "--help")).isEmpty)
    // pq flags come as a pair or not at all
    assert(IndexCli.parse(Seq("fit", "--index", "ix", "--input", "in",
      "--pq-m", "16")).isEmpty)
    assert(IndexCli.parse(Seq("fit", "--index", "ix", "--input", "in",
      "--pq-m", "16", "--pq-k", "8")).exists(c =>
      c.pqM === Some(16) && c.pqK === Some(8)))
  }

  test("ivfpq lifecycle: fit --pq -> append -> search -> drift, CLI equals library") {
    val t = tmpDir()
    try {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val base = emb.where(col("vec_id") % 5 =!= 0)
      val batch = emb.where(col("vec_id") % 5 === 0)
      val basePath = t.resolve("base.parquet").toString
      val batchPath = t.resolve("batch.parquet").toString
      base.write.parquet(basePath)
      batch.write.parquet(batchPath)
      val ix = t.resolve("ix").toString

      IndexCli.run(IndexCli.parse(Seq("fit", "--index", ix,
        "--input", basePath, "--nlist", "8",
        "--pq-m", "16", "--pq-k", "8")).get, spark)
      // the composed layout landed: codes (no raw vectors) + kinds;
      // __batch_id is the exactly-once ledger partition level
      assert(spark.read.parquet(s"$ix/codes").columns.toSet
        === Set("vec_id", "codes", "__cell", "__batch_id"))
      val baseline = graft.ops.SimSearch.ivfBaselineLoad(spark, ix)
      assert(baseline.nlist === 8 && baseline.n === base.count())

      // append dispatches on the persisted _kind (encode, not assign)
      IndexCli.run(IndexCli.parse(Seq("append", "--index", ix,
        "--input", batchPath)).get, spark)
      assert(spark.read.parquet(s"$ix/codes").count() === emb.count())

      // search resolves the query vector from --input and must equal
      // the library serving the same persisted index (vec_id 0 is an
      // APPENDED vector — the append path is servable)
      val out = t.resolve("res").toString
      IndexCli.run(IndexCli.parse(Seq("search", "--index", ix,
        "--output", out, "--input", batchPath,
        "--k", "7", "--nprobe", "3", "--query-id", "0")).get, spark)
      val cli = spark.read.parquet(out)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val idx = SimSearch.ivfPqLoad(spark, ix, "vec_id")
      val q = batch.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val lib = SimSearch.ivfPqSearch(idx, q, 7, 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(cli === lib && cli.length === 7)
      assert(cli.head._1 === 0L) // self-match through the appended path
      // search without --input fails loudly (codes store no vectors)
      intercept[IllegalArgumentException] {
        IndexCli.run(IndexCli.parse(Seq("search", "--index", ix,
          "--output", out, "--k", "7")).get, spark)
      }

      // drift works unchanged on the composed layout (centers at the
      // same path; baseline fitted from the input frame at fit time)
      val driftOut = t.resolve("drift").toString
      IndexCli.run(IndexCli.parse(Seq("drift", "--index", ix,
        "--input", batchPath, "--output", driftOut)).get, spark)
      val control = spark.read.parquet(driftOut).head()
      assert(!control.getAs[Boolean]("psi_alert") &&
        !control.getAs[Boolean]("dist_alert"))
      val shiftedPath = t.resolve("shifted.parquet").toString
      batch.select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(2.0f)).as("embedding"))
        .write.parquet(shiftedPath)
      IndexCli.run(IndexCli.parse(Seq("drift", "--index", ix,
        "--input", shiftedPath, "--output", driftOut)).get, spark)
      val drifted = spark.read.parquet(driftOut).head()
      assert(drifted.getAs[Boolean]("psi_alert") &&
        drifted.getAs[Boolean]("dist_alert"))
    } finally rm(t)
  }

  test("search: two jobs on the ivf layout; a missing query id names itself and the index (both layouts)") {
    val t = tmpDir()
    try {
      val corpus = t.resolve("corpus.parquet").toString
      (0 until 200).map { i =>
        (i.toLong, Array.tabulate(16)(j =>
          ((i % 4) * 3.0 + math.sin(i * 0.37 + j * 1.3)).toFloat))
      }.toDF("vec_id", "embedding").write.parquet(corpus)
      val out = t.resolve("res").toString
      val missing = "987654321"
      Seq(Seq.empty[String], Seq("--pq-m", "16", "--pq-k", "8"))
          .zipWithIndex.foreach { case (pq, i) =>
        val ix = t.resolve(s"ix$i").toString
        IndexCli.run(IndexCli.parse(Seq("fit", "--index", ix,
          "--input", corpus, "--nlist", "4") ++ pq).get, spark)
        val search = Seq("search", "--index", ix, "--output", out,
          "--input", corpus, "--k", "5")
        if (pq.isEmpty) {
          // _kind probe, load and lookup stay on the driver or in the
          // one lookup job; the second job is the result write
          assert(jobsDuring {
            IndexCli.run(IndexCli.parse(search ++
              Seq("--query-id", "3")).get, spark)
          } === 2)
          assert(spark.read.parquet(out).count() === 5L)
        }
        val e = intercept[IllegalArgumentException] {
          IndexCli.run(IndexCli.parse(search ++
            Seq("--query-id", missing)).get, spark)
        }
        assert(e.getMessage.contains(missing) && e.getMessage.contains(ix),
          e.getMessage)
      }
    } finally rm(t)
  }

  test("lifecycle: fit -> append -> search -> drift, CLI equals library") {
    val t = tmpDir()
    try {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val base = emb.where(col("vec_id") % 5 =!= 0)
      val batch = emb.where(col("vec_id") % 5 === 0)
      val basePath = t.resolve("base.parquet").toString
      val batchPath = t.resolve("batch.parquet").toString
      base.write.parquet(basePath)
      batch.write.parquet(batchPath)
      val ix = t.resolve("ix").toString

      // fit persists index + baseline
      IndexCli.run(IndexCli.parse(Seq("fit", "--index", ix,
        "--input", basePath, "--nlist", "8")).get, spark)
      val baseline = SimSearch.ivfBaselineLoad(spark, ix)
      assert(baseline.nlist === 8 && baseline.n === base.count())

      // append lands the batch in the cell partitions
      IndexCli.run(IndexCli.parse(Seq("append", "--index", ix,
        "--input", batchPath)).get, spark)
      assert(spark.read.parquet(s"$ix/assigned").count() === emb.count())

      // search ≡ the library serving the SAME persisted index
      val out = t.resolve("res").toString
      IndexCli.run(IndexCli.parse(Seq("search", "--index", ix,
        "--output", out, "--k", "7", "--nprobe", "3",
        "--query-id", "0")).get, spark)
      val cli = spark.read.parquet(out)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val lib = SimSearch.ivfSearch(
        SimSearch.ivfLoad(spark, ix, "vec_id", "embedding"), 0L, 7, 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(cli === lib && cli.length === 7)

      // drift: the in-distribution batch raises nothing; a planted
      // +2.0 shift raises both alerts (the q174 fixture)
      val driftOut = t.resolve("drift").toString
      IndexCli.run(IndexCli.parse(Seq("drift", "--index", ix,
        "--input", batchPath, "--output", driftOut)).get, spark)
      val control = spark.read.parquet(driftOut).head()
      assert(!control.getAs[Boolean]("psi_alert") &&
        !control.getAs[Boolean]("dist_alert"))
      val shiftedPath = t.resolve("shifted.parquet").toString
      batch.select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(2.0f)).as("embedding"))
        .write.parquet(shiftedPath)
      IndexCli.run(IndexCli.parse(Seq("drift", "--index", ix,
        "--input", shiftedPath, "--output", driftOut)).get, spark)
      val drifted = spark.read.parquet(driftOut).head()
      assert(drifted.getAs[Boolean]("psi_alert") &&
        drifted.getAs[Boolean]("dist_alert"))
    } finally rm(t)
  }

  test("--pq-residual: fit persists ivfpq_res; search/search-batch dispatch on it") {
    val t = tmpDir()
    try {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val corpusPath = t.resolve("corpus.parquet").toString
      emb.write.parquet(corpusPath)
      def cli(args: String*): Unit =
        IndexCli.run(IndexCli.parse(args).get, spark)
      // --pq-residual without the pq geometry is invalid
      assert(IndexCli.parse(Seq("fit", "--index", "ix", "--input", "in",
        "--pq-residual")).isEmpty)
      val ix = t.resolve("ix").toString
      cli("fit", "--index", ix, "--input", corpusPath, "--nlist", "8",
        "--pq-m", "16", "--pq-k", "8", "--pq-residual")
      assert(spark.read.parquet(s"$ix/_kind").head().getString(0)
        === "ivfpq_res")
      // search serves through the residual tables and equals the library
      val out = t.resolve("res").toString
      cli("search", "--index", ix, "--output", out, "--input", corpusPath,
        "--k", "7", "--nprobe", "3", "--query-id", "0")
      val cliRows = spark.read.parquet(out)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val idx = SimSearch.ivfPqLoad(spark, ix, "vec_id")
      assert(idx.residual)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val lib = SimSearch.ivfPqSearch(idx, q, 7, 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(cliRows === lib && cliRows.head._1 === 0L)
      // search-batch dispatches on the ivfpq_res kind too
      val queries = emb.where(col("vec_id") % 50 === 0)
      val queriesPath = t.resolve("queries.parquet").toString
      queries.write.parquet(queriesPath)
      val outB = t.resolve("resb").toString
      cli("search-batch", "--index", ix, "--input", queriesPath,
        "--output", outB, "--k", "5", "--nprobe", "3")
      val got = spark.read.parquet(outB)
      assert(got.select("query_id").distinct().count() === queries.count())
    } finally rm(t)
  }

  test("search --rerank: two-stage ADC+exact serve, CLI equals library") {
    val t = tmpDir()
    try {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val corpusPath = t.resolve("corpus.parquet").toString
      emb.write.parquet(corpusPath)
      def cli(args: String*): Unit =
        IndexCli.run(IndexCli.parse(args).get, spark)
      assert(IndexCli.parse(Seq("search", "--index", "ix", "--output", "o",
        "--rerank", "0")).isEmpty) // window must be >= 1
      val ix = t.resolve("ix").toString
      cli("fit", "--index", ix, "--input", corpusPath, "--nlist", "8",
        "--pq-m", "16", "--pq-k", "8")
      val out = t.resolve("res").toString
      cli("search", "--index", ix, "--output", out, "--input", corpusPath,
        "--k", "7", "--nprobe", "3", "--query-id", "0", "--rerank", "50")
      val cliRows = spark.read.parquet(out)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val idx = SimSearch.ivfPqLoad(spark, ix, "vec_id")
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val lib = SimSearch.ivfPqSearchRerank(idx, emb, "embedding", q,
        7, 50, 3).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(cliRows === lib && cliRows.length === 7)
      assert(cliRows.head === ((0L, 1.0))) // self reranks to exact 1.0
      // the window must cover k — rejected at parse time now
      assert(IndexCli.parse(Seq("search", "--index", ix, "--output", out,
        "--input", corpusPath, "--k", "7", "--rerank", "3")).isEmpty)
      // --rerank outside `search` would be silently ignored — parse
      // refuses it for every other verb
      assert(IndexCli.parse(Seq("search-batch", "--index", ix,
        "--input", corpusPath, "--output", out, "--rerank", "50")).isEmpty)
      assert(IndexCli.parse(Seq("drift", "--index", ix,
        "--input", corpusPath, "--output", out, "--rerank", "50")).isEmpty)
      // a PLAIN ivf layout rejects --rerank loudly at run time (its
      // search is already exact-cosine within the probed cells)
      val ivfIx = t.resolve("ivf-ix").toString
      cli("fit", "--index", ivfIx, "--input", corpusPath, "--nlist", "8")
      val e = intercept[IllegalArgumentException] {
        cli("search", "--index", ivfIx, "--output", out, "--input",
          corpusPath, "--k", "7", "--rerank", "50")
      }
      assert(e.getMessage.contains("ivfpq"))
    } finally rm(t)
  }

  test("fit --pq-opq: rotated lifecycle through the CLI equals the library") {
    val t = tmpDir()
    try {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val base = emb.where(col("vec_id") % 5 =!= 0)
      val batch = emb.where(col("vec_id") % 5 === 0)
      val basePath = t.resolve("base.parquet").toString
      val batchPath = t.resolve("batch.parquet").toString
      base.write.parquet(basePath)
      batch.write.parquet(batchPath)
      def cli(args: String*): Unit =
        IndexCli.run(IndexCli.parse(args).get, spark)
      // --pq-opq without the PQ geometry is rejected at parse
      assert(IndexCli.parse(Seq("fit", "--index", "x", "--input",
        basePath, "--pq-opq")).isEmpty)
      val ix = t.resolve("ix").toString
      cli("fit", "--index", ix, "--input", basePath, "--nlist", "8",
        "--pq-m", "16", "--pq-k", "8", "--pq-opq")
      assert(spark.read.parquet(s"$ix/_kind").head().getString(0)
        === "ivfpq_opq")
      // CLI search ≡ library on the persisted rotated index
      val out = t.resolve("res").toString
      cli("search", "--index", ix, "--output", out, "--input", basePath,
        "--k", "7", "--nprobe", "3", "--query-id", "1")
      val cliRows = spark.read.parquet(out)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val idx = SimSearch.ivfPqLoad(spark, ix, "vec_id")
      val q = base.where(col("vec_id") === 1)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val lib = SimSearch.ivfPqSearch(idx, q, 7, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(cliRows === lib && cliRows.head._1 === 1L)
      // append rotates at the entry; drift rotates its batch so the
      // HELD-OUT control stays quiet against the rotated baseline
      cli("append", "--index", ix, "--input", batchPath, "--batch-id", "1")
      assert(SimSearch.ivfPqLoad(spark, ix, "vec_id").codes.count()
        === emb.count())
      val driftOut = t.resolve("drift").toString
      cli("drift", "--index", ix, "--input", batchPath,
        "--output", driftOut)
      val control = spark.read.parquet(driftOut).head()
      assert(!control.getAs[Boolean]("psi_alert") &&
        !control.getAs[Boolean]("dist_alert"),
        "held-out control batch alarmed — the drift verb is not " +
          "rotating its input to the index's space")
      // the residual composition persists its own kind
      val ixr = t.resolve("ixr").toString
      cli("fit", "--index", ixr, "--input", basePath, "--nlist", "8",
        "--pq-m", "16", "--pq-k", "8", "--pq-opq", "--pq-residual")
      assert(spark.read.parquet(s"$ixr/_kind").head().getString(0)
        === "ivfpq_opq_res")
    } finally rm(t)
  }

  test("append --batch-id: exactly-once replay is a no-op (both layouts)") {
    val t = tmpDir()
    try {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val base = emb.where(col("vec_id") % 5 =!= 0)
      val batch = emb.where(col("vec_id") % 5 === 0)
      val basePath = t.resolve("base.parquet").toString
      val batchPath = t.resolve("batch.parquet").toString
      base.write.parquet(basePath)
      batch.write.parquet(batchPath)
      def cli(args: String*): Unit =
        IndexCli.run(IndexCli.parse(args).get, spark)
      // the parse refuses negative ledger ids (reserved for fit)
      assert(IndexCli.parse(Seq("append", "--index", "ix",
        "--input", batchPath, "--batch-id", "-2")).isEmpty)
      // plain IVF layout: append twice under one id ≡ once
      val ix = t.resolve("ix").toString
      cli("fit", "--index", ix, "--input", basePath, "--nlist", "4")
      cli("append", "--index", ix, "--input", batchPath, "--batch-id", "7")
      assert(spark.read.parquet(s"$ix/assigned").count() === emb.count())
      cli("append", "--index", ix, "--input", batchPath, "--batch-id", "7")
      assert(spark.read.parquet(s"$ix/assigned").count() === emb.count())
      // composed IVF+PQ layout: same replay contract through _kind
      val pq = t.resolve("pq").toString
      cli("fit", "--index", pq, "--input", basePath, "--nlist", "4",
        "--pq-m", "16", "--pq-k", "8")
      cli("append", "--index", pq, "--input", batchPath, "--batch-id", "9")
      assert(spark.read.parquet(s"$pq/codes").count() === emb.count())
      cli("append", "--index", pq, "--input", batchPath, "--batch-id", "9")
      assert(spark.read.parquet(s"$pq/codes").count() === emb.count())
    } finally rm(t)
  }

  test("search-batch: CLI ≡ library on a multi-query frame (both layouts)") {
    val t = tmpDir()
    try {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val corpusPath = t.resolve("corpus.parquet").toString
      emb.write.parquet(corpusPath)
      val queries = emb.where(col("vec_id") % 50 === 0)
      val queriesPath = t.resolve("queries.parquet").toString
      queries.write.parquet(queriesPath)
      def cli(args: String*): Unit =
        IndexCli.run(IndexCli.parse(args).get, spark)
      def rows(path: String) = spark.read.parquet(path).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._3, t._2)).toSeq
      // search-batch requires --input (the query frame) and --output
      assert(IndexCli.parse(Seq("search-batch", "--index", "ix",
        "--output", "o")).isEmpty)
      assert(IndexCli.parse(Seq("search-batch", "--index", "ix",
        "--input", "q")).isEmpty)
      // plain IVF
      val ix = t.resolve("ix").toString
      cli("fit", "--index", ix, "--input", corpusPath, "--nlist", "8")
      val out = t.resolve("res").toString
      cli("search-batch", "--index", ix, "--input", queriesPath,
        "--output", out, "--k", "5", "--nprobe", "4")
      val lib = SimSearch.ivfSearchBatch(
        SimSearch.ivfLoad(spark, ix, "vec_id", "embedding"),
        queries, "vec_id", "embedding", 5, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._3, t._2)).toSeq
      assert(rows(out) === lib)
      assert(rows(out).map(_._1).distinct.length === queries.count())
      // composed IVF+PQ (dispatches on _kind)
      val pq = t.resolve("pq").toString
      cli("fit", "--index", pq, "--input", corpusPath, "--nlist", "8",
        "--pq-m", "16", "--pq-k", "8")
      val outPq = t.resolve("respq").toString
      cli("search-batch", "--index", pq, "--input", queriesPath,
        "--output", outPq, "--k", "5", "--nprobe", "3")
      val libPq = SimSearch.ivfPqSearchBatch(
        SimSearch.ivfPqLoad(spark, pq, "vec_id"),
        queries, "vec_id", "embedding", 5, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._3, t._2)).toSeq
      assert(rows(outPq) === libPq)
      // every query self-matches through the CLI sink (ADC minimum)
      assert(rows(outPq).groupBy(_._1).forall { case (qid, rs) =>
        rs.minBy(x => (x._3, x._2))._2 == qid })
    } finally rm(t)
  }
}
