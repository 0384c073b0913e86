package graft.plans


import org.scalatest.funsuite.AnyFunSuite

/** Native expression + extension registration: SQL and Column access,
  * codegen parity with the Scala implementations, null handling. */
class GraftExtensionsSpec extends AnyFunSuite with graft.SparkTestSession {

  // All suites share one forked JVM, so getOrCreate may return a
  // session built without withExtensions — retrofit instead (the
  // withExtensions path injects the identical function list).
  GraftExtensions.register(spark)

  test("graft_stem registered and matches Stemmer.stem") {
    val got = spark.sql(
      "SELECT graft_stem('running'), graft_stem('caresses'), graft_stem('feed')")
      .head()
    assert(got.getString(0) === graft.text.Stemmer.stem("running"))
    assert(got.getString(1) === "caress")
    assert(got.getString(2) === "fe") // reference step-1b order
  }

  test("graft_clean registered and matches TextClean.cleanString") {
    val s = "RT @user: check #spark http://t.co/x now"
    val got = spark.sql(s"SELECT graft_clean('$s')").head().getString(0)
    assert(got === graft.text.TextClean.cleanString(s))
  }

  test("graft_simhash matches the UDF path on the fixture corpus") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaExpr = docs.select(col("doc_id"),
      GraftFunctions.graftSimhash(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the UDF form EXPLICITLY (simhashCol itself is expression-backed
    // since round 9, so comparing against it would be a tautology)
    val viaUdf = docs.select(col("doc_id"),
      graft.ops.KernelOracles.simhashUdf(
        org.apache.spark.sql.functions.split(
          graft.ops.Dedup.normalized(col("text")), " ")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr === viaUdf)
    assert(viaExpr.size === docs.count())
    // and simhashCol (expression-backed + null coalesce) agrees too,
    // including the null contract: null text -> signature 0
    val viaCol = docs.select(col("doc_id"),
      graft.ops.SimHash.simhashCol(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaCol === viaUdf)
    import spark.implicits._
    val nullSig = Seq((1L, null: String)).toDF("id", "t")
      .select(graft.ops.SimHash.simhashCol(col("t"))).head().getLong(0)
    assert(nullSig === 0L)
    // empty text: one "" token, same on both paths
    assert(spark.sql("SELECT graft_simhash('')").head().getLong(0) ===
      graft.ops.SimHash.simhashOfText(""))
  }

  test("null input yields null (nullIntolerant)") {
    assert(spark.sql("SELECT graft_stem(CAST(NULL AS STRING))").head().isNullAt(0))
  }

  test("type check rejects non-string input") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_stem(42)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("string") ||
      e.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("column API via call_function agrees with the UDF-free chain") {
    import spark.implicits._
    val df = Seq("plastered", "motoring", "sky").toDF("w")
    val got = df.select(GraftFunctions.graftStem($"w")).collect().map(_.getString(0))
    assert(got.toSeq === Seq("plaster", "motor", "sky"))
  }

  test("graft_shingles matches the UDF path bit-for-bit") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (n <- Seq(1, 3, 5)) {
      val viaExpr = docs.select(col("doc_id"),
        graft.ops.Dedup.shingles(col("text"), n).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val viaUdf = docs.select(col("doc_id"),
        graft.ops.KernelOracles.shinglesUdf(col("text"), n).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(viaExpr === viaUdf, s"n=$n")
    }
    // null contract preserved by the coalesce wrapper: empty set
    import spark.implicits._
    val nullRow = Seq((1L, null: String)).toDF("id", "t")
      .select(graft.ops.Dedup.shingles(col("t"), 3)).head()
    assert(nullRow.getSeq[String](0) === Seq.empty)
    // SQL surface
    val viaSql = spark.sql(
      "SELECT graft_shingles('a b c d', 3)").head().getSeq[String](0)
    assert(viaSql === Seq("a b c", "b c d"))
  }

  test("graft_minhash matches the UDF path bit-for-bit") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = docs.select(col("doc_id"),
      graft.ops.Dedup.shingles(col("text"), 3).as("sh"))
    val viaExpr = sh.select(col("doc_id"),
      graft.ops.Dedup.minhashSignature(col("sh"), 12).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaUdf = sh.select(col("doc_id"),
      graft.ops.KernelOracles.minhashSignatureUdf(col("sh"), 12).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr === viaUdf)
    assert(viaExpr.size === docs.count())
    // null contract: null array -> all--1L sentinel (UDF rule)
    import spark.implicits._
    val nullSig = Seq((1L, null: Seq[String])).toDF("id", "sh")
      .select(graft.ops.Dedup.minhashSignature(col("sh"), 4)).head()
      .getSeq[Long](0)
    assert(nullSig === Seq.fill(4)(-1L))
    // empty set degenerates to the same sentinel on both paths
    val emptySig = spark.sql(
      "SELECT graft_minhash(array_remove(array('x'), 'x'), 4)")
      .head().getSeq[Long](0)
    assert(emptySig === Seq.fill(4)(-1L))
    // the size argument is plan-shape: non-literal k is rejected
    val e = intercept[Exception] {
      spark.sql(
        "SELECT graft_minhash(graft_shingles(text, 3), CAST(doc_id AS INT)) " +
          "FROM parquet.`/root/testdata/sf0.001/documents.parquet`").collect()
    }
    assert(e.getMessage.contains("literal"), e.getMessage)
  }

  test("graft_winnow matches the HOF chain and the scalar reference bit-for-bit") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        graft.ops.Dedup.normalized(col("text")).as("__norm"))
    for ((k, w) <- Seq((8, 4), (5, 1), (3, 9))) {
      val viaKernel = docs.select(col("doc_id"),
        GraftFunctions.graftWinnow(col("__norm"), k, w).as("fps"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val viaHof = graft.ops.KernelOracles.winnowHof(docs, "__norm", k, w)
        .select(col("doc_id"), col("fps"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(viaKernel === viaHof, s"k=$k w=$w") // exact order + values
    }
    // scalar reference (its own normalization) on hand-picked cases,
    // incl. shorter-than-k, shorter-than-w, repeated-min, and
    // multi-byte characters (code-point gram positions, not UTF-16)
    val cases = Seq("the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaa", "short", "ab", "",
      "naïve café — résumé über 字符串 testing")
    for (s <- cases) {
      // normalize on the test side (winnowScalar's own rule, which is
      // idempotent) so both engines hash the identical string — the
      // kernel's contract is "already-normalized input"
      val norm = s.toLowerCase.replaceAll("\\s+", " ")
        .replaceAll("^ +| +$", "")
      val viaSql = spark.sql(
        s"SELECT graft_winnow('${norm.replace("'", "''")}', 8, 4)")
        .head().getSeq[Long](0)
      assert(viaSql === graft.ops.KernelOracles.winnowScalar(norm, 8, 4)
        .toSeq, s"case: $s")
    }
    // the public summary still reports gram counts through the pure
    // length arithmetic — pin it against the HOF array size on data
    val viaSummary = graft.ops.Fingerprint.summary(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      "doc_id", "text").select("doc_id", "n_grams")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaArr = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.size(
        graft.ops.KernelOracles.gramHashArray(col("__norm"), 8))
        .cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSummary === viaArr)
  }

  test("graft_quality: SQL surface, codegen span, and Column-API agreement") {
    import org.apache.spark.sql.functions.col
    // SQL surface (the OpsSpec parity pin covers the Column path)
    val viaSql = spark.sql("SELECT graft_quality('the quick brown fox')")
      .head().getDouble(0)
    assert(viaSql === graft.ops.Kernels.qualityUtf8(
      org.apache.spark.unsafe.types.UTF8String
        .fromString("the quick brown fox")))
    // stays inside whole-stage codegen over a real scan
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(GraftFunctions.graftQuality(col("text")).as("q"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan.take(1000))
    assert(plan.contains("graft_quality"), plan.take(1000))
    // and the public wrapper agrees with the raw function call
    val viaWrapper = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        graft.ops.TextStats.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaFn = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), GraftFunctions.graftQuality(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaWrapper === viaFn)
  }

  test("shingle+minhash chain stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(graft.ops.Dedup.minhashSignature(
        graft.ops.Dedup.shingles(col("text"), 3), 12).as("sig"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan.take(1000))
    assert(plan.contains("graft_shingles"), plan.take(1000))
    assert(plan.contains("graft_minhash"), plan.take(1000))
  }

  test("wrong arity or non-literal size fails with a clear message") {
    for ((call, want) <- Seq(
        "graft_shingles('a b c')" -> "graft_shingles requires exactly 2 arguments",
        "graft_stem('running', 'x')" -> "graft_stem requires exactly 1 arguments",
        "graft_stem()" -> "graft_stem requires exactly 1 arguments",
        "graft_clean('a', 'b')" -> "graft_clean requires exactly 1 arguments",
        "graft_simhash('a', 'b')" -> "graft_simhash requires exactly 1 arguments",
        "graft_normalize('a')" -> "graft_normalize requires exactly 2 arguments",
        "graft_normalize('a', true, false)" -> "graft_normalize requires exactly 2 arguments",
        "graft_normalize('a', length('x') > 0)" -> "requires a literal boolean")) {
      val wrongArity = intercept[Exception] {
        spark.sql(s"SELECT $call AS s").collect()
      }
      assert(wrongArity.getMessage.contains(want),
        s"$call: ${wrongArity.getMessage.take(300)}")
    }
    val nonLiteral = intercept[Exception] {
      spark.sql("SELECT graft_minhash(array('a'), length('xx')) AS s").collect()
    }
    assert(nonLiteral.getMessage.contains("literal integer"),
      nonLiteral.getMessage.take(300))
  }

  test("expression executes inside whole-stage codegen") {
    // a file scan prevents the optimizer collapsing everything into a
    // LocalRelation (which would leave no codegen stage to observe)
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(GraftFunctions.graftClean(
        org.apache.spark.sql.functions.col("text")).as("c"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan.take(1000)) // codegen stage marker
    assert(plan.contains("graft_clean"), plan.take(1000))
  }

  test("every registered kernel: SQL == Column API, interpreted == codegen, " +
      "null -> null, inside whole-stage codegen") {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.functions.{col, split}
    // per registry entry: the row argument over column `text`, the
    // plan-time sizes, and the Column-API call; an entry without a row
    // here fails the key-set check
    val calls: Map[String, (String, Seq[Any], Column => Column)] = Map(
      "graft_stem" -> (("text", Nil, GraftFunctions.graftStem)),
      "graft_clean" -> (("text", Nil, GraftFunctions.graftClean)),
      "graft_simhash" -> (("text", Nil, GraftFunctions.graftSimhash)),
      "graft_shingles" -> (("text", Seq(3), GraftFunctions.graftShingles(_, 3))),
      "graft_minhash" -> (("split(text, ' ')", Seq(8),
        c => GraftFunctions.graftMinhash(split(c, " "), 8))),
      "graft_winnow" -> (("text", Seq(8, 4), GraftFunctions.graftWinnow(_, 8, 4))),
      "graft_quality" -> (("text", Nil, GraftFunctions.graftQuality)),
      "graft_normalize" -> (("text", Seq(true), GraftFunctions.graftNormalize(_, true))))
    assert(GraftExtensions.functions.map(_._1.funcName).toSet === calls.keySet)
    // the fixture corpus with every 7th text nulled
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id",
        "CASE WHEN doc_id % 7 = 0 THEN NULL ELSE text END AS text")
    docs.createOrReplaceTempView("graft_kernel_docs")
    val nullIds = docs.where(col("text").isNull).collect().map(_.getLong(0)).toSet
    assert(nullIds.nonEmpty)
    def rows(df: DataFrame): Map[Long, Any] =
      df.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    try for ((ident, info, builder) <- GraftExtensions.functions) {
      val name = ident.funcName
      val (arg, sizes, columnCall) = calls(name)
      // the row builds the class it advertises, under its own name
      val built = builder(Literal("x") +: sizes.map(Literal(_)))
      assert(built.getClass.getName === info.getClassName, name)
      assert(built.prettyName === name)
      val query = s"SELECT doc_id, $name(${(arg +: sizes).mkString(", ")}) " +
        "FROM graft_kernel_docs"
      val viaSql = spark.sql(query)
      val codegen = rows(viaSql)
      val plan = viaSql.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains(s"$name(")),
        s"$name left the codegen span:\n$plan")
      assert(rows(docs.select(col("doc_id"), columnCall(col("text")))) === codegen,
        s"$name: SQL != Column API")
      assert(codegen.collect { case (id, null) => id }.toSet === nullIds,
        s"$name: null in != null out")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try {
        val interpreted = spark.sql(query)
        assert(!interpreted.queryExecution.executedPlan.toString.contains("*("))
        assert(rows(interpreted) === codegen, s"$name: interpreted != codegen")
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    } finally spark.catalog.dropTempView("graft_kernel_docs")
  }

  test("graft_normalize: interpreted == codegen == the regex/UDF/MLlib oracle chain, " +
      "stem on and off, null -> null, SQL == Column API") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.ops.TextCleanOracle
    import graft.text.TextClean
    val tweets = Seq(
      "RT @user: I'm sooo happy :-) today!!! #blessed http://t.co/abc",
      "Mr. Smith & Dr. Who met at 10:30 for 1,000 <3 &lt;3 -- www.foo.com/x?y=1",
      "e-mail me: a.b@c.de, (or call) “now” ♫♫ ΟΔΟΣ İstanbul café 😀",
      "the and a is not", "", "   ", "x.co.uk/ u.s.a. e.g. it's :P ;) =D ☺ ❤")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "CASE WHEN doc_id % 7 = 0 THEN NULL ELSE text END AS text")
      .unionByName(tweets.zipWithIndex.map { case (t, i) => (-1L - i, t) }.toDF("doc_id", "text"))
    docs.createOrReplaceTempView("graft_normalize_docs")
    val nullIds = docs.where(col("text").isNull).collect().map(_.getLong(0)).toSet
    def rows(df: DataFrame): Map[Long, String] =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    try for (stem <- Seq(false, true)) {
      val label = s"stem=$stem"
      val oracle = rows(TextCleanOracle.cleanSource(docs, "text", "out", stem)
        .select("doc_id", "out"))
      val query = s"SELECT doc_id, graft_normalize(text, $stem) FROM graft_normalize_docs"
      val codegen = rows(spark.sql(query))
      assert(codegen.collect { case (id, null) => id }.toSet === nullIds, label)
      assert(codegen.filter(_._2 != null) === oracle, s"$label: kernel != oracle chain")
      assert(rows(docs.select(col("doc_id"),
        GraftFunctions.graftNormalize(col("text"), stem))) === codegen, s"$label: SQL != Column API")
      assert(rows(TextClean.cleanSource(docs, "text", "out", stem)
        .select("doc_id", "out")) === oracle, s"$label: cleanSource != oracle chain")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try assert(rows(spark.sql(query)) === codegen, s"$label: interpreted != codegen")
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    } finally spark.catalog.dropTempView("graft_normalize_docs")
    // graft_clean (the kernel's cleaning step) == the Catalyst regex chain
    assert(rows(docs.select(col("doc_id"), GraftFunctions.graftClean(col("text")))) ===
      rows(docs.select(col("doc_id"), TextCleanOracle.cleanStringCol(col("text")))))
  }

  test("cleanSource plans one graft_normalize call: no Scala UDF, no MLlib projection") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (stem <- Seq(false, true)) {
      val plan = graft.text.TextClean.cleanSource(docs, "text", "filtered", stem)
        .queryExecution.optimizedPlan
      val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
      assert(exprs.count(_.isInstanceOf[NormalizeExpression]) === 1, plan.toString)
      assert(!exprs.exists(_.isInstanceOf[ScalaUDF]), plan.toString)
      assert(!plan.toString.contains("Tokenizer") && !plan.toString.contains("StopWords"),
        plan.toString)
    }
  }
}
