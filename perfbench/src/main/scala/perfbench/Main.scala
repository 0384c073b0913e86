package perfbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One measured operation: a CLI call, or a replay. It fails when it
  * throws or when a correctness check on its output fails. */
final case class Op(kind: String, seconds: Double, ok: Boolean)

/** What a workload's measured phase produced. `e2e` holds the
  * end-to-end metrics except `setup_s` and `peak_rss_mb`, which the
  * harness measures; `named` holds the workload's metrics under the
  * names the lifecycle gives them; `layers` the per-layer metrics of
  * the traced run. `traced` groups the top-level spans of each traced
  * lifecycle and `untraced` holds the seconds the same work took
  * untraced, one per group. */
final case class Outcome(ops: Seq[Op], e2e: Seq[Metric], named: Seq[Metric],
                         layers: Seq[Metric], detail: Seq[String],
                         traced: Seq[Seq[Span]] = Nil, untraced: Seq[Double] = Nil)

trait Workload {
  def name: String
  /** A small lifecycle on the measured code paths, run during set-up. */
  def warmUp(spark: SparkSession, dir: File): Unit
  /** Generates inputs from `seed` and measures for about `seconds`;
    * with a tracer, also runs the layer-by-layer traced lifecycle. */
  def run(spark: SparkSession, dir: File, seed: Long, seconds: Double,
          tracer: Option[Tracer]): Outcome
}

/** Ops recorded as they run; a throwing op is logged and counted as
  * failed, and the workload goes on with its next op. */
final class OpLog {
  private val ops = scala.collection.mutable.ArrayBuffer.empty[Op]

  /** Times `call`, then runs `check` on its output untimed. Returns
    * the call's seconds when it did not throw. */
  def op(kind: String)(call: => Unit)(check: => Boolean): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      call
      val s = (System.nanoTime() - t0) / 1e9
      val ok = check
      ops += Op(kind, s, ok)
      if (!ok) System.err.println(s"[perfbench] check failed: $kind")
      Some(s)
    } catch {
      case NonFatal(e) =>
        ops += Op(kind, (System.nanoTime() - t0) / 1e9, ok = false)
        System.err.println(s"[perfbench] $kind failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** Records a check that is not part of a timed op. */
  def check(kind: String)(ok: => Boolean): Unit = {
    val passed = try ok catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: $e"); false
    }
    ops += Op(kind, 0.0, passed)
    if (!passed) System.err.println(s"[perfbench] check failed: $kind")
  }

  /** Samples of `kind` ops that passed. */
  def seconds(kind: String): Seq[Double] =
    ops.filter(o => o.kind == kind && o.ok).map(_.seconds).toSeq

  def all: Seq[Op] = ops.toSeq
}

object Main {

  /** The first two are the benchmark's workloads (BENCHMARK.json); the
    * two lifecycles `curate_index` runs back to back also run alone. */
  val Workloads: Seq[Workload] =
    Seq(SentimentScore, CurateIndex, CurateStream, IndexServe)

  /** The end-to-end metrics every untraced run reports, in order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "op_median_s" -> "s",
    "peak_rss_mb" -> "MB", "quality" -> "ratio")

  /** How often set-up runs; `setup_s` is the median. */
  val SetupRounds = 3

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: File)

  def parse(args: Seq[String]): Either[String, Args] = {
    def loop(rest: List[String], m: Map[String, String]): Either[String, Map[String, String]] =
      rest match {
        case Nil => Right(m)
        case k :: v :: t if k.startsWith("--") => loop(t, m + (k.drop(2) -> v))
        case other => Left(s"unexpected argument: ${other.head}")
      }
    loop(args.toList, Map.empty).flatMap { m =>
      for {
        w <- m.get("workload").toRight("--workload is required")
        _ <- Workloads.find(_.name == w).toRight(s"unknown workload $w")
        seed <- m.get("seed").flatMap(_.toLongOption).toRight("--seed <n> is required")
        secs <- m.getOrElse("seconds", "10").toIntOption.filter(_ > 0)
          .toRight("--seconds must be a positive integer")
        trace <- m.getOrElse("trace", "0") match {
          case "0" => Right(false)
          case "1" => Right(true)
          case t => Left(s"--trace must be 0 or 1, got $t")
        }
        work <- m.get("work").toRight("--work <dir> is required")
      } yield Args(w, seed, secs, trace, new File(work))
    }
  }

  def main(argv: Array[String]): Unit = parse(argv.toSeq) match {
    case Left(err) =>
      System.err.println(s"perfbench: $err")
      sys.exit(2)
    case Right(a) =>
      val ok = try run(a) catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: run aborted: $e")
          e.printStackTrace()
          false
      }
      sys.exit(if (ok) 0 else 1)
  }

  private def session(cpus: Int): SparkSession = {
    val spark = graft.GraftSession.local(cpus.toString)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Collects garbage and lets Spark's cleaner release what the last
    * phase left (shuffle files, checkpoint blocks) before the next phase
    * is timed, so that phase does not pay for it at a random moment. */
  def quiesce(): Unit = {
    System.gc()
    Thread.sleep(500)
  }

  /** Logs how far into the run (JVM uptime) a phase ended. */
  def mark(phase: String): Unit =
    System.err.println(f"[perfbench] $phase at " +
      f"${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

  /** Peak resident memory of this JVM so far (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
    finally src.close()
  }

  /** Returns false when no result could be produced. */
  def run(a: Args): Boolean = {
    val w = Workloads.find(_.name == a.workload).get
    val cpus = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    Disk.deleteRecursively(a.work)
    a.work.mkdirs()
    // set-up: session start plus a warm-up lifecycle, several times; the
    // last session stays up for the measured phase
    var spark: SparkSession = null
    val setups = (1 to SetupRounds).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(cpus)
      val t1 = System.nanoTime()
      w.warmUp(spark, new File(a.work, s"warmup-$i"))
      System.err.println(f"[perfbench] setup $i: session ${(t1 - t0) / 1e9}%.2f s, " +
        f"warm-up ${(System.nanoTime() - t1) / 1e9}%.2f s")
      (System.nanoTime() - t0) / 1e9
    }
    quiesce()
    mark("set-up")
    try {
      val tracer = if (a.trace) Some(new Tracer(spark)) else None
      val out = w.run(spark, new File(a.work, "run"), a.seed, a.seconds.toDouble, tracer)
      tracer.foreach(_.close())
      mark("measured phase")
      val rss = peakRssMb()
      val e2e = Metric("setup_s", Stats.median(setups), "s") +:
        Metric("peak_rss_mb", rss, "MB") +: out.e2e
      val attempted = out.ops.length.toLong
      val failed = out.ops.count(!_.ok).toLong
      val named = Metric("setup_s", Stats.median(setups), "s") +:
        Metric("peak_rss_mb", rss, "MB") +:
        Metric("failed_ratio", failed.toDouble / math.max(1L, attempted), "ratio") +:
        out.named
      val layers = out.layers ++ tracer.toSeq.flatMap(t =>
        if (out.traced.isEmpty) Nil
        else Layers.sparkAndTrace(t, out.traced, out.untraced))
      val reported =
        if (a.trace) Layers.complete(layers)
        else EndToEnd.map { case (n, u) =>
          e2e.find(_.name == n).getOrElse(Metric(n, Double.NaN, u)) }
      val complete = reported.forall(m => !m.value.isNaN)
      val correct = failed == 0 && complete
      writeDetail(a, named, out.copy(layers = layers), setups, tracer)
      println(s"{\"workload\": ${Stats.jsonString(w.name)}, \"named\": " +
        s"${Stats.metricsJson(named)}}")
      println(Stats.resultLine(correct, math.max(1L, attempted), failed,
        reported.map(m => if (m.value.isNaN) m.copy(value = 0.0) else m)))
      mark("result")
      true
    } finally spark.stop()
  }

  private def writeDetail(a: Args, named: Seq[Metric], out: Outcome,
                          setups: Seq[Double], tracer: Option[Tracer]): Unit = {
    val f = new File(a.work.getParentFile, "results/" +
      s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.jsonl")
    val lines =
      Seq(s"{\"setup_rounds_s\": ${setups.map(Stats.jsonNumber).mkString("[", ", ", "]")}}",
        s"{\"named\": ${Stats.metricsJson(named)}}",
        s"{\"layers\": ${Stats.metricsJson(out.layers)}}") ++
        out.ops.map(o => s"{\"op\": ${Stats.jsonString(o.kind)}, \"s\": " +
          s"${Stats.jsonNumber(o.seconds)}, \"ok\": ${o.ok}}") ++
        out.detail ++ tracer.toSeq.flatMap(_.spansJsonLines.map("{\"span\": " + _ + "}"))
    Gen.write(f, lines.mkString("", "\n", "\n"))
  }
}

object Disk {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  /** Bytes and regular files under `dir`. */
  def census(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (dir.length(), 1L)
    else Option(dir.listFiles()).toSeq.flatten.map(census)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
}
