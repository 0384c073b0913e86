package graft.state

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The durable-state core: control files, batch partitions, the
  * applied ledger and the `_kind` marker. */
class StateSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def withDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-state")
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(); ()
    }
    try body(dir) finally rmr(dir.toFile)
  }

  private def names(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator.asScala.map(_.getFileName.toString).toSeq.sorted
    } finally s.close()
  }

  test("a control file round-trips its text") {
    withDir { dir =>
      val text = "upTo=3\nbuckets=8\nsources=1,2"
      State.writeControl(spark, dir.toString, "_m.meta", text)
      assert(State.readControl(spark, dir.toString, "_m.meta") === Some(text))
    }
  }

  test("overwriting a control file leaves no temp file behind") {
    withDir { dir =>
      State.writeControl(spark, dir.toString, "_m.meta", "v=1")
      State.writeControl(spark, dir.toString, "_m.meta", "v=2")
      assert(State.readControl(spark, dir.toString, "_m.meta") === Some("v=2"))
      assert(!names(dir).exists(_.contains("_m.meta.tmp")), names(dir))
    }
  }

  test("an absent control file reads as None") {
    withDir { dir =>
      assert(State.readControl(spark, dir.toString, "_absent") === None)
      assert(State.readControl(spark, s"$dir/no/such/dir", "_m") === None)
    }
  }

  test("keyValues keeps every = after the first inside the value") {
    val kv = State.keyValues(
      "base.0.keys.ddl=__id BIGINT,__nk STRING COMMENT 'a=b'\n" +
        "no equals here\nupTo=7")
    assert(kv === Map("base.0.keys.ddl" -> "__id BIGINT,__nk STRING COMMENT 'a=b'",
      "upTo" -> "7"))
  }

  test("the batch ids of an absent dir are empty") {
    withDir { dir =>
      assert(State.batchIds(spark, s"$dir/absent") === Seq.empty)
    }
  }

  test("batch ids ignore _SUCCESS, staging dirs and control files") {
    withDir { dir =>
      Seq("__batch_id=3", "__batch_id=-2", ".outfold_tmp")
        .foreach(n => Files.createDirectory(dir.resolve(n)))
      Seq("_SUCCESS", "_compaction.meta")
        .foreach(n => Files.createFile(dir.resolve(n)))
      assert(State.batchIds(spark, dir.toString).sorted === Seq(-2L, 3L))
    }
  }

  test("the batch-excluding read skips the batch itself and ids at or below the boundary") {
    withDir { dir =>
      val t = s"$dir/t"
      assert(State.readExcluding(spark, t, 2L) === None)
      (1L to 3L).foreach(b =>
        State.writeBatch(Seq(b * 10, b * 10 + 1).toDF("v"), t, b))
      // a retry of batch 2 rewrites its partition, never doubles it
      State.writeBatch(Seq(20L, 21L).toDF("v"), t, 2L)
      def vs(df: org.apache.spark.sql.DataFrame) =
        df.as[Long].collect().toSeq.sorted
      assert(vs(State.readExcluding(spark, t, 2L).get) === Seq(10L, 11L, 30L, 31L))
      assert(vs(State.readExcluding(spark, t, 2L, above = 1L).get) ===
        Seq(30L, 31L))
      assert(vs(State.readBatches(spark, t, Seq(2L))) === Seq(20L, 21L))
      val tagged = State.readExcluding(spark, t, 3L, tagged = true).get
      assert(tagged.select(State.BatchCol).distinct().as[Long].collect()
        .sorted.toSeq === Seq(1L, 2L))
    }
  }

  test("the ledger records on the driver, probes and clears") {
    withDir { dir =>
      assert(!State.applied(spark, dir.toString, 4L))
      assert(jobsDuring(State.recordApplied(spark, dir.toString, 4L)) === 0)
      assert(Files.isDirectory(dir.resolve("applied/__batch_id=4")))
      assert(State.applied(spark, dir.toString, 4L))
      assert(!State.applied(spark, dir.toString, 5L))
      State.clearLedger(spark, dir.toString)
      assert(!State.applied(spark, dir.toString, 4L))
    }
  }

  test("the _kind marker round-trips and is read without a Spark job") {
    withDir { dir =>
      assert(State.kindOf(spark, dir.toString) === None)
      State.writeKind(spark, dir.toString, "ivfpq_res")
      assert(spark.read.parquet(s"$dir/_kind").head().getString(0) ===
        "ivfpq_res")
      var kind: Option[String] = None
      assert(jobsDuring { kind = State.kindOf(spark, dir.toString) } === 0)
      assert(kind === Some("ivfpq_res"))
    }
  }
}
