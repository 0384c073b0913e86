package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The curation-and-serving layer's two lifecycles in one session,
  * back to back: [[CurateStream]], then [[IndexServe]] on its own
  * vectors. One workload rather than two keeps the benchmark's runs
  * inside its time budget: each run pays the JVM and Spark cold start
  * once for both lifecycles. */
object CurateIndex extends Workload {
  val name = "curate_index"

  /** The curation stream's set-up only: the index lifecycle runs after
    * the curate one, in a session that is warm by then. */
  def warmUp(spark: SparkSession, dir: File): Unit =
    CurateStream.warmUp(spark, dir)

  private def value(ms: Seq[Metric], name: String): Double =
    ms.find(_.name == name).map(_.value).getOrElse(Double.NaN)

  def run(spark: SparkSession, dir: File, seed: Long, seconds: Double,
          tracer: Option[Tracer]): Outcome = {
    val c = CurateStream.run(spark, new File(dir, "curate"), seed, seconds / 2, tracer)
    Main.quiesce()
    val i = IndexServe.run(spark, new File(dir, "index"), Gen.subSeed(seed, 1),
      seconds / 2, tracer)
    // rows in over time to complete output, both lifecycles' writes
    val rows = CurateStream.Docs + IndexServe.Indexed
    val secs = CurateStream.Docs / value(c.e2e, "rows_per_s") +
      IndexServe.Indexed / value(i.e2e, "rows_per_s")
    val e2e = Seq(Metric("rows_per_s", rows / secs, "rows/s"),
      Metric("op_median_s", value(i.e2e, "op_median_s"), "s"),
      Metric("quality", value(c.e2e, "quality") * value(i.e2e, "quality"), "ratio"))
    val overhead = Seq(c.layers, i.layers).map(value(_, "cli.overhead_s"))
    val layers = (c.layers ++ i.layers).filterNot(_.name == "cli.overhead_s") ++
      (if (tracer.isDefined) Seq(Layers.m("cli.overhead_s", overhead.sum)) else Nil)
    val traced = if (tracer.isEmpty) Nil else Seq(c.traced.flatten ++ i.traced.flatten)
    val untraced = if (tracer.isEmpty) Nil
      else Seq(Stats.median(c.untraced) + i.untraced.sum)
    Outcome(c.ops ++ i.ops, e2e, c.named ++ i.named, layers, c.detail ++ i.detail,
      traced, untraced)
  }
}
