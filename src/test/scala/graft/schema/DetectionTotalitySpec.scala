package graft.schema

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

import graft.SparkTestSession

/**
 * Totality property (SURVEY §5): role detection must never throw on
 * arbitrary schemas — the reference's TrainingSet/Detection crash with
 * MatchError / wrong-type gets on unusual inputs (quirks Q5/Q6). Runs
 * `Detection.resolve` over seeded random frames mixing every scalar
 * type, null-heavy columns, empty frames, and single-column frames.
 */
class DetectionTotalitySpec extends AnyFunSuite with SparkTestSession {

  private val rnd = new scala.util.Random(7)

  private def randomFrame(cols: Int, rows: Int) = {
    val types: Seq[DataType] = Seq(StringType, IntegerType, LongType,
      DoubleType, FloatType, BooleanType, ShortType)
    val fields = (0 until cols).map { i =>
      StructField(s"c$i", types(rnd.nextInt(types.length)), nullable = true)
    }
    val schema = StructType(fields)
    def cell(dt: DataType): Any =
      if (rnd.nextInt(10) == 0) null
      else dt match {
        case StringType =>
          if (rnd.nextBoolean()) rnd.alphanumeric.take(rnd.nextInt(8)).mkString
          else (0 until rnd.nextInt(10)).map(_ => "w" + rnd.nextInt(20)).mkString(" ")
        case IntegerType => rnd.nextInt(5)
        case LongType => rnd.nextLong() % 1000
        case DoubleType => rnd.nextDouble() * 100
        case FloatType => rnd.nextFloat() * 100
        case BooleanType => rnd.nextBoolean()
        case ShortType => rnd.nextInt(100).toShort
        case _ => null
      }
    val data = (0 until rows).map(_ => Row(fields.map(f => cell(f.dataType)): _*))
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toSeq, 2), schema)
  }

  test("resolve never throws on 30 seeded random frames") {
    for (i <- 1 to 30) {
      val df = randomFrame(cols = 1 + rnd.nextInt(6), rows = rnd.nextInt(40))
      val roles = Detection.resolve(df, limit = 20)
      // sanity: any resolved role names an existing column
      val cols = df.columns.toSet
      for (r <- Seq(roles.text, roles.index, roles.categorical, roles.value))
        r.foreach(c => assert(cols.contains(c), s"frame $i: ghost column $c"))
    }
  }

  test("measure: the driver fold == the aggregate form on seeded random frames " +
      "with null cells, under ANSI on and off") {
    val frames = (1 to 12).map(_ => randomFrame(cols = 1 + rnd.nextInt(6), rows = rnd.nextInt(40)))
    val saved = spark.conf.get("spark.sql.ansi.enabled")
    try for (ansi <- Seq("true", "false"); (df, i) <- frames.zipWithIndex) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      assert(Detection.measure(df, 20) === DetectionOracle.measureAgg(df, 20),
        s"frame $i ansi=$ansi")
    } finally spark.conf.set("spark.sql.ansi.enabled", saved)
  }

  test("resolve on an empty frame returns no roles") {
    val df = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("a", StringType), StructField("b", IntegerType))))
    val roles = Detection.resolve(df)
    assert(roles.text === None)
    assert(roles.value === None)
  }

  test("align joins sources sharing column names (headerless-CSV shape)") {
    import spark.implicits._
    // two sources with IDENTICAL inferred names: one carries text, one
    // carries the label; both have an all-distinct int index (_c0)
    val texts = (1 to 30).map(i =>
      (i, s"many words in this long text number $i indeed truly"))
      .toDF("_c0", "_c1")
    val labels = (1 to 30).map(i => (i, i % 2)).toDF("_c0", "_c1")
    val joined = TrainingSet.align(Seq(texts, labels), limit = 30)
    assert(joined.isDefined, "alignment must succeed")
    assert(joined.get.count() === 30)
    // all columns from both sources survive, disambiguated
    assert(joined.get.columns.length === 4)
    assert(joined.get.columns.distinct.length === 4, "ambiguous columns")
    // downstream detection works on the joined frame (no AMBIGUOUS_REFERENCE)
    assert(Detection.detectTextColumn(joined.get, 30).isDefined)
  }

  test("TrainingSet.align is total: returns None instead of crashing") {
    import spark.implicits._
    // sources with no detectable roles at all
    val junk1 = Seq(true, false).toDF("flag")
    val junk2 = Seq(0.5, 1.5).toDF("x")
    assert(TrainingSet.align(Seq(junk1, junk2)) === None)
  }
}
