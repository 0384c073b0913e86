package graft

/** Ad-hoc single-query timer: runs only the named queries against a
  * given sfDir and prints per-query wall time (min over
  * SPARK_GRAFT_BENCH_RUNS passes, default 2). Bench.scala times the
  * whole battery; this is the iteration loop for ONE operator's plan
  * work, where a full-battery run wastes minutes per data point.
  *
  * Usage: runMain graft.TimeQueries <sfDir> <queryName> [queryName...]
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeQueries <sfDir> <name>...")
    val sfDir = args.head
    val names = args.drop(1).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val spark = GraftSession.local(cpus)
    Bench.warmUp(spark, sfDir)
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      // time a noop-sink write, NOT count(): count() lets the optimizer
      // prune unused columns, windows, and sorts, so a count()-timed
      // plan can be much cheaper than the plan verify actually
      // executes — misleading exactly the single-operator plan work
      // this harness exists for. The noop v2 sink materializes every
      // output column of every row and discards them executor-side.
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val rows = fn(spark, sfDir).count() // untimed, display only
      println(f"TIME $n%s rows=$rows%d min=${ts.min}%.3f s runs=[${ts.map(t => f"$t%.3f").mkString(",")}]")
    }
    spark.stop()
  }
}
