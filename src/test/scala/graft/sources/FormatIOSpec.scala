package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Sniffer unit tests (intended S5-S7 semantics) + round-trip load/save
  * for every format (S1-S4, S11). */
class FormatIOSpec extends AnyFunSuite with SparkTestSession {

  private def tmpFile(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft-io")
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("delimiter sniffing: comma / pipe / colon / tab / fallback semicolon") {
    assert(FormatIO.sniffCsv(
      tmpFile("a.csv", "a,b,c\n1,2,3\n"), spark).delimiter === ",")
    assert(FormatIO.sniffCsv(
      tmpFile("b.csv", "a|b|c\n1|2|3\n"), spark).delimiter === "|")
    assert(FormatIO.sniffCsv(
      tmpFile("c.csv", "a:b:c\n1:2:3\n"), spark).delimiter === ":")
    assert(FormatIO.sniffCsv(
      tmpFile("d.csv", "a\tb\tc\n1\t2\t3\n"), spark).delimiter === "\t")
    assert(FormatIO.sniffCsv(
      tmpFile("e.csv", "a;b;c\n1;2;3\n"), spark).delimiter === ";")
  }

  test("delimiter sniffing: inconsistent counts fall through (Q1 fixed)") {
    // commas differ between lines (1 vs 2) but pipes agree
    assert(FormatIO.sniffCsv(
      tmpFile("f.csv", "a,x|b|c\n1|2|3,4,5\n"), spark).delimiter === "|")
  }

  test("header sniffing: header iff first row breaks numeric pattern (Q3 fixed)") {
    assert(FormatIO.sniffCsv(
      tmpFile("g.csv", "id,score\n1,2.5\n"), spark).header === true)
    assert(FormatIO.sniffCsv(
      tmpFile("h.csv", "1,2.5\n2,3.5\n"), spark).header === false)
  }

  test("escape sniffing: quoted long field detected") {
    val p = tmpFile("i.csv",
      "h1,h2\n\"a long quoted text field here\",2\n")
    assert(FormatIO.sniffCsv(p, spark).quote === Some("\""))
  }

  test("csv sniff reads a multi-part directory's first two lines in zero jobs") {
    val dir = Files.createTempDirectory("graft-io-sniff")
    for (i <- 0 until 4)
      Files.writeString(dir.resolve(s"part-$i.csv"), s"id|txt\n$i|x\n")
    var d: FormatIO.CsvDialect = null
    assert(jobsDuring { d = FormatIO.sniffCsv(dir.toString, spark) } === 0)
    assert(d === FormatIO.CsvDialect("|", header = true, quote = None))
  }

  test("csv sniff reads what text(path).limit(2) reads: largest split first, " +
      "across one-line files, globs and gzip") {
    import java.util.zip.GZIPOutputStream
    def gz(p: java.nio.file.Path, content: String): Unit = {
      val out = new GZIPOutputStream(Files.newOutputStream(p))
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    def viaLimit(path: String) = spark.read.text(path).limit(2).collect().map(_.getString(0))
    def dialectOf(lines: Array[String]) = {
      val delim = FormatIO.delimiterOf(lines)
      FormatIO.CsvDialect(delim, FormatIO.headerOf(lines, delim), FormatIO.escapeOf(lines, delim))
    }
    // the scan orders splits by size, not by name: "z.csv" is the
    // largest file, so its lines come first although "a.csv" sorts first
    val sized = Files.createTempDirectory("graft-io-sniff-size")
    Files.writeString(sized.resolve("a.csv"), "a,b\n1,2\n")
    Files.writeString(sized.resolve("z.csv"), "name|score|note\nsomeone|12|a longer row\n")
    // one-line files: the second line comes from the next split in order
    val oneLine = Files.createTempDirectory("graft-io-sniff-one")
    Files.writeString(oneLine.resolve("p0.csv"), "id;txt;extra field\n")
    Files.writeString(oneLine.resolve("p1.csv"), "7;x\n")
    val gzDir = Files.createTempDirectory("graft-io-sniff-gz")
    gz(gzDir.resolve("t.csv.gz"), "h1\th2\n1\t\"a long quoted text field\"\n")
    Files.writeString(gzDir.resolve("u.csv"), "q,r\n")
    val single = tmpFile("one.csv", "only|one|line\n")
    for (path <- Seq(sized.toString, sized.toString + "/*.csv", oneLine.toString,
                     gzDir.toString, gzDir.toString + "/t.csv.gz", single)) {
      val d = FormatIO.sniffCsv(path, spark)
      assert(d === dialectOf(viaLimit(path)), path)
    }
    assert(FormatIO.sniffCsv(sized.toString, spark).delimiter === "|")
  }

  test("csv sniffed load infers schema") {
    val p = tmpFile("j.csv", "a,b\n1,x\n2,y\n")
    val (df, tag) = FormatIO.load("csv", p, spark).get
    assert(tag === "csv")
    assert(df.columns.toSeq === Seq("a", "b"))
    assert(df.schema("a").dataType.typeName === "integer")
    assert(df.count() === 2)
  }

  test("round-trip: every format loads back what it saved (Q12 fixed)") {
    import spark.implicits._
    val df = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "txt")
    for (fmt <- Seq("json", "csv", "parquet", "orc")) {
      val out = Files.createTempDirectory(s"graft-rt-$fmt").resolve("out").toString
      FormatIO.save(fmt, df, out, overwrite = true)
      val (back, tag) = FormatIO.load(fmt, out, spark).get
      assert(tag === fmt)
      assert(back.count() === 2, s"format $fmt")
    }
    // text: single string column only
    val tdf = Seq("l1", "l2", "l3").toDF("value")
    val tout = Files.createTempDirectory("graft-rt-txt").resolve("out").toString
    FormatIO.save("txt", tdf, tout, overwrite = true)
    val (tback, ttag) = FormatIO.load("txt", tout, spark).get
    assert(ttag === "txt")
    assert(tback.count() === 3)
  }

  test("csv quarantine: corrupt rows land whole, good rows typed, contracts hold") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("n", IntegerType)))
    val path = tmpFile("q.csv",
      "id,name,n\n1,alpha,10\n2,beta,notanint\n###garbage###\n4,delta,40\n")
    val (good, bad) = FormatIO.loadCsvQuarantine(spark, path, schema)
    val g = good.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .sortBy(_._1)
    assert(g.toSeq === Seq((1L, "alpha", 10), (4L, "delta", 40)))
    // corrupt rows arrive WHOLE (the raw line, not nulled fields)
    val b = bad.collect().map(_.getString(0)).sorted
    assert(b.toSeq === Seq("###garbage###", "2,beta,notanint"))
    // typed schema on the good side, raw_line on the bad side
    assert(good.schema.fieldNames.toSeq === Seq("id", "name", "n"))
    assert(bad.schema.fieldNames.toSeq === Seq("raw_line"))
    // headerless mode parses every line
    val path2 = tmpFile("q2.csv", "7,eta,70\n8,theta,80\n")
    val (g2, b2) = FormatIO.loadCsvQuarantine(spark, path2, schema,
      header = false)
    assert(g2.count() === 2 && b2.count() === 0)
    // all-corrupt file: empty good side, full quarantine
    val path3 = tmpFile("q3.csv", "id,name,n\nx\ny\n")
    val (g3, b3) = FormatIO.loadCsvQuarantine(spark, path3, schema)
    assert(g3.count() === 0 && b3.count() === 2)
    // reserved marker name rejected loudly
    intercept[IllegalArgumentException] {
      FormatIO.loadCsvQuarantine(spark, path,
        StructType(Seq(StructField("__graft_corrupt", StringType))))
    }
  }

  test("csv quarantine: multi-file feed drops each file's header " +
      "positionally, loses no content-equal data row") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("n", IntegerType)))
    // a sharded feed: three part files, each with its own header line
    val dir = Files.createTempDirectory("graft-io-multi")
    Files.writeString(dir.resolve("part-0.csv"),
      "id,name,n\n1,alpha,10\n2,beta,20\n")
    Files.writeString(dir.resolve("part-1.csv"),
      "id,name,n\n3,gamma,30\nid,name,n\n4,delta,oops\n")
    Files.writeString(dir.resolve("part-2.csv"),
      "id,name,n\n5,eps,50\n")
    val (good, bad) = FormatIO.loadCsvQuarantine(spark, dir.toString, schema)
    val g = good.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .sortBy(_._1)
    // every per-file header dropped; all typed rows from all files kept
    assert(g.toSeq === Seq((1L, "alpha", 10), (2L, "beta", 20),
      (3L, "gamma", 30), (5L, "eps", 50)))
    // the header drop is POSITIONAL: part-1's line 3 is byte-identical
    // to the header but is NOT line 1 of its file, so it is kept — and
    // since "id" can't type as a long it lands in quarantine (visible),
    // alongside the genuinely corrupt row; nothing is silently lost
    val b = bad.collect().map(_.getString(0)).sorted
    assert(b.toSeq === Seq("4,delta,oops", "id,name,n"))
  }

  test("extension dispatch routes by substring (S8)") {
    val p = tmpFile("k.json", """{"a":1}""" + "\n" + """{"a":2}""")
    // .json in the path routes to the json reader
    val (df, tag) = FormatIO.loadFromPath(p, spark).get
    assert(tag === "json")
    assert(df.count() === 2)
  }

  test("loadFile: explicit type overrides extension") {
    val p = tmpFile("data.json", "line one\nline two\n")
    val (df, tag) = FormatIO.loadFile(Some("txt"), p, spark).get
    assert(tag === "txt")
    assert(df.columns.toSeq === Seq("value"))
  }

  test("word-list sink writes one file per category (S12)") {
    val dest = Files.createTempDirectory("graft-wl").resolve("pos").toString
    FormatIO.saveWordList(Seq("good", "nice", "great"), dest, spark)
    val (back, _) = FormatIO.load("txt", dest, spark).get
    assert(back.count() === 3)
  }
}
