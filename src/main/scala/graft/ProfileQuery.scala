package graft

import scala.collection.mutable.ArrayBuffer

/** Diagnostic main: runs ONE registered query with a job-level
  * listener and prints, per Spark job, its wall-clock span, callsite,
  * and description — plus the driver-side GAPS between jobs (time
  * where no job ran at all: query construction, control-file I/O,
  * planning). This is the attribution tool for the job-count-floor
  * queries (the streamingTail lifecycles, the CLI lifecycles): the
  * bench says "21 s", this says which jobs and which driver gaps own
  * those seconds.
  *
  * Usage: runMain graft.ProfileQuery <sfDir> <queryName> [warm]
  * With the trailing `warm` the query runs once UNPROFILED first, so
  * the profiled pass reflects the bench's min-of-passes regime (JIT,
  * codegen cache, parquet footers hot) instead of cold-JVM costs.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileQuery <sfDir> <name> [warm]")
    val sfDir = args(0)
    val name = args(1)
    val warm = args.length > 2 && args(2) == "warm"
    require(SparkEntry.queries.contains(name), s"unknown query: $name")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    val spark = GraftSession.local(cpus)
    Bench.warmUp(spark, sfDir)

    final case class JobSpan(id: Int, start: Long, var end: Long,
                             site: String, ntasks: Int)
    final case class StageSpan(id: Int, name: String, ntasks: Int,
                               runMs: Long, durMs: Long, deserMs: Long,
                               gcMs: Long, cpuMs: Long)
    val jobs = ArrayBuffer.empty[JobSpan]
    val stages = ArrayBuffer.empty[StageSpan]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.synchronized {
          val site = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(e.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse("?"))
          jobs += JobSpan(e.jobId, e.time, -1L, site,
            e.stageInfos.map(_.numTasks).sum)
        }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == e.jobId).foreach(_.end = e.time)
        }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val si = e.stageInfo
          stages += StageSpan(si.stageId, si.name, si.numTasks,
            si.taskMetrics.executorRunTime,
            (for {a <- si.completionTime; b <- si.submissionTime}
              yield a - b).getOrElse(-1L),
            si.taskMetrics.executorDeserializeTime,
            si.taskMetrics.jvmGCTime,
            si.taskMetrics.executorCpuTime / 1000000L)
        }
    }
    val fn = SparkEntry.queries(name)
    if (warm) fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.currentTimeMillis()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val t1 = System.currentTimeMillis()
    spark.sparkContext.removeSparkListener(listener)
    val wall = (t1 - t0) / 1000.0
    println(f"PROFILE $name wall=$wall%.3f s jobs=${jobs.size}%d")
    val sorted = jobs.synchronized(jobs.sortBy(_.start).toVector)
    var cursor = t0
    var gapTotal = 0L
    sorted.foreach { j =>
      val gap = j.start - cursor
      if (gap > 20) {
        println(f"  GAP   ${gap / 1000.0}%7.3f s  (driver, before job ${j.id}%d)")
        gapTotal += gap
      }
      val dur = (if (j.end < 0) t1 else j.end) - j.start
      println(f"  JOB ${j.id}%4d ${dur / 1000.0}%7.3f s tasks=${j.ntasks}%4d  ${j.site.take(90)}%s")
      cursor = math.max(cursor, if (j.end < 0) t1 else j.end)
    }
    val tailGap = t1 - cursor
    if (tailGap > 20) gapTotal += tailGap
    val jobTotal = sorted.map(j => (if (j.end < 0) t1 else j.end) - j.start).sum
    println(f"SUMMARY wall=$wall%.3f s jobs=${jobs.size}%d jobTimeSum=${jobTotal / 1000.0}%.3f s driverGaps=${gapTotal / 1000.0}%.3f s")
    // per-callsite rollup: which operators own the job time
    sorted.groupBy(_.site).map { case (s, js) =>
      (s, js.size, js.map(j => (if (j.end < 0) t1 else j.end) - j.start).sum)
    }.toSeq.sortBy(-_._3).take(25).foreach { case (s, n, ms) =>
      println(f"  SITE ${ms / 1000.0}%7.3f s n=$n%3d  ${s.take(90)}%s")
    }
    // per-stage rollup by stage name: where executor CPU actually went
    val stagesV = stages.synchronized(stages.toVector)
    stagesV.groupBy(_.name).map {
      case (n, ss) => (n, ss.size, ss.map(_.runMs).sum, ss.map(_.durMs).sum)
    }.toSeq.sortBy(-_._3).take(30).foreach { case (n, c, run, dur) =>
      println(f"  STAGE run=${run / 1000.0}%8.3f s wall=${dur / 1000.0}%8.3f s n=$c%3d  ${n.take(110)}%s")
    }
    // and the top INDIVIDUAL stages (the rollup hides which specific
    // materialization burned the CPU when one callsite owns hundreds)
    stagesV.sortBy(-_.runMs).take(30).foreach { s =>
      println(f"  ONESTAGE id=${s.id}%4d run=${s.runMs / 1000.0}%8.3f s cpu=${s.cpuMs / 1000.0}%7.3f deser=${s.deserMs / 1000.0}%6.3f gc=${s.gcMs / 1000.0}%6.3f wall=${s.durMs / 1000.0}%7.3f s tasks=${s.ntasks}%4d  ${s.name.take(70)}%s")
    }
    val totDeser = stagesV.map(_.deserMs).sum
    val totRun = stagesV.map(_.runMs).sum
    val totCpu = stagesV.map(_.cpuMs).sum
    val totGc = stagesV.map(_.gcMs).sum
    println(f"STAGETOTALS run=${totRun / 1000.0}%.1f s cpu=${totCpu / 1000.0}%.1f s deser=${totDeser / 1000.0}%.1f s gc=${totGc / 1000.0}%.1f s tasks=${stagesV.map(_.ntasks).sum}%d")
    spark.stop()
  }
}
