package graft.schema

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/**
 * Column-role detection over differently-shaped inputs: the documents
 * parquet fixture, the events table, and a Sentiment140-shaped CSV
 * (the reference's primary input shape, FIXTURES.md §1).
 */
class DetectionSpec extends AnyFunSuite with SparkTestSession {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("documents: text column is `text`") {
    assert(Detection.detectTextColumn(docs) === Some("text"))
  }

  test("documents: index column is `doc_id`") {
    assert(Detection.detectIndexColumn(docs) === Some("doc_id"))
  }

  test("documents: single-word string columns are categorical candidates") {
    // lang and source both average 1 word; neither first value numeric;
    // reference tie-break picks the last matching column in schema order
    assert(Detection.detectCategoricalColumn(docs) === Some("source"))
  }

  test("documents: no value column (no double columns)") {
    assert(Detection.detectValueColumn(docs) === None)
  }

  test("events: value column is the single double column") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select("event_id", "user_id", "event_type", "value")
    assert(Detection.detectValueColumn(ev) === Some("value"))
    assert(Detection.detectIndexColumn(ev) === Some("event_id"))
  }

  test("sentiment140 csv: sniffed load + all roles resolve") {
    val path = resourcePath("/graft/sentiment140.csv")
    val loaded = graft.sources.FormatIO.loadFile(Some("csv"), path, spark)
    assert(loaded.isDefined)
    val (df, tag) = loaded.get
    assert(tag === "csv")
    assert(df.columns.length === 6)
    val roles = Detection.resolve(df)
    // headerless file: columns are _c0..._c5
    assert(roles.text === Some("_c5"), s"roles=$roles")
    assert(roles.index === Some("_c1"), s"roles=$roles")
    assert(roles.categorical === Some("_c0"), s"roles=$roles")
  }

  test("measure: the one-job driver fold == the aggregate form on the fixtures, " +
      "under ANSI on and off") {
    val csv = graft.sources.FormatIO.loadFile(Some("csv"),
      resourcePath("/graft/sentiment140.csv"), spark).get._1
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val withNulls = docs.selectExpr("doc_id",
      "CASE WHEN doc_id % 3 = 0 THEN NULL ELSE text END AS text", "lang",
      "CASE WHEN doc_id % 5 = 0 THEN NULL ELSE CAST(doc_id % 4 AS INT) END AS k")
    val saved = spark.conf.get("spark.sql.ansi.enabled")
    try for (ansi <- Seq("true", "false")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      for ((name, df) <- Seq("documents" -> docs, "events" -> ev, "csv" -> csv,
                             "nulls" -> withNulls); limit <- Seq(1, 20, 100)) {
        var sig: Detection.Signals = null
        assert(jobsDuring { sig = Detection.measure(df, limit) } === 1, name)
        assert(sig === DetectionOracle.measureAgg(df, limit), s"$name limit=$limit ansi=$ansi")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", saved)
  }

  test("extractIntegerCategories on the sentiment label") {
    val path = resourcePath("/graft/sentiment140.csv")
    val (df, _) = graft.sources.FormatIO.loadFile(Some("csv"), path, spark).get
    assert(Detection.extractIntegerCategories(df, "_c0").map(_.toSeq)
      === Some(Seq(0L, 4L)))
    // intended D7 guard: integer column is not a string column
    assert(Detection.extractStringCategories(df, "_c0") === None)
  }

  test("convertCategoricalColumn encodes strings deterministically (Q7 fixed)") {
    import spark.implicits._
    val df = Seq(("x", "neg"), ("y", "pos"), ("z", "neg")).toDF("t", "label")
    val (out, name) = Detection.convertCategoricalColumn(df, "label")
    assert(name === "converted_categorical")
    assert(out.columns.contains(name)) // the returned name is the created one
    val codes = out.select("label", name).distinct().collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(codes === Map("neg" -> 0, "pos" -> 1))
  }

  test("integer passthrough in convertCategoricalColumn") {
    import spark.implicits._
    val df = Seq((1, "a"), (0, "b")).toDF("label", "t")
    val (out, name) = Detection.convertCategoricalColumn(df, "label")
    assert(name === "label")
    assert(out eq df)
  }
}

/** The aggregate form of [[Detection.measure]] — `count`,
  * `avg(size(split(c, " ")))`, `first` and `countDistinct` in one
  * Spark aggregate — run over the exact rows the fold samples (a local
  * one-partition frame, so `first` is the first sampled row): the
  * parity oracle of the driver-side fold. */
object DetectionOracle {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions._

  def measureAgg(df: DataFrame, limit: Int): Detection.Signals = {
    val sCols = Detection.stringColumns(df)
    val iCols = Detection.integerColumns(df)
    val picked = df.select((sCols ++ iCols).map(col): _*)
    val sample = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(picked.take(limit): _*), picked.schema).coalesce(1)
    def agg(aggs: Seq[Column]) = sample.agg(aggs.head, aggs.tail: _*).first()
    // a distinct aggregate regroups the rows by its column, so `first`
    // is taken in an aggregate of its own, over the one sample partition
    val row = agg(Seq(count(lit(1)).as("__n")) ++
      sCols.flatMap(c => Seq(avg(size(split(col(c), " "))).as(s"__wc__$c"),
        first(col(c), ignoreNulls = false).as(s"__fv__$c"))))
    val distinct = agg(count(lit(1)) +: iCols.map(c => countDistinct(col(c)).as(s"__nd__$c")))
    Detection.Signals(
      sampleRows = row.getAs[Long]("__n"),
      avgWordCount = sCols.map { c =>
        val v = row.getAs[Any](s"__wc__$c")
        c -> (if (v == null) 0.0 else v.asInstanceOf[Double])
      }.toMap,
      distinctCount = iCols.map(c => c -> distinct.getAs[Long](s"__nd__$c")).toMap,
      firstValue = sCols.map(c => c -> String.valueOf(row.getAs[Any](s"__fv__$c"))).toMap)
  }
}
