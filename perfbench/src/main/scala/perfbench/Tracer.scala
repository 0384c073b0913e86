package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Task-metric sums of one stage, or of any set of stages. */
final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                        cpuNs: Long = 0, runMs: Long = 0, gcMs: Long = 0,
                        deserializeMs: Long = 0, shuffleReadBytes: Long = 0,
                        shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
                        inputBytes: Long = 0, outputBytes: Long = 0) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, cpuNs + o.cpuNs, runMs + o.runMs, gcMs + o.gcMs,
    deserializeMs + o.deserializeMs, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    inputBytes + o.inputBytes, outputBytes + o.outputBytes)
}

/** One traced layer call. Durations come from the monotonic clock; the
  * wall-clock milliseconds are the clock Spark stamps its listener events
  * with, so jobs can be placed inside spans after the fact. */
final case class Span(id: Int, name: String, parent: Int, opId: String,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A micro-batch as the streaming listener reported it. */
final case class BatchProgress(batchId: Long, inputRows: Long,
                               durationMs: Map[String, Long])

/** Micro-batch progress of every streaming query, from a
  * StreamingQueryListener the benchmark registers. Untraced runs use it
  * too: it is the only way to see batch times from outside the CLI, and
  * it costs one event per batch. */
final class Progress(spark: SparkSession) {
  private val seen = mutable.ArrayBuffer.empty[BatchProgress]

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val durations = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap
      Progress.this.synchronized {
        seen += BatchProgress(p.batchId, p.numInputRows, durations)
      }
    }
  }
  spark.streams.addListener(listener)

  /** Every batch reported so far, after the listener bus drained. */
  def batches: Seq[BatchProgress] = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized(seen.toSeq)
  }

  def close(): Unit = spark.streams.removeListener(listener)
}

/** Traces the program from outside: a SparkListener registered by the
  * benchmark (see [[Progress]] for the streaming side), plus spans the
  * benchmark opens around each public layer call. Spans and events stay
  * in memory; attribution (jobs, driver gap, self time) runs once at the
  * end, after the listener bus has drained. */
final class Tracer(spark: SparkSession) {

  private final case class JobRec(startMs: Long, stageIds: Seq[Int],
                                  var endMs: Long = -1L)

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageCounts = mutable.HashMap.empty[Int, Counts]
  private val completedStages = mutable.HashSet.empty[Int]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized { jobs(e.jobId) = JobRec(e.time, e.stageIds) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { completedStages += e.stageInfo.stageId }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        val c = Counts(tasks = 1, cpuNs = m.executorCpuTime,
          runMs = m.executorRunTime, gcMs = m.jvmGCTime,
          deserializeMs = m.executorDeserializeTime,
          shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
          inputBytes = m.inputMetrics.bytesRead,
          outputBytes = m.outputMetrics.bytesWritten)
        stageCounts(e.stageId) = stageCounts.getOrElse(e.stageId, Counts()) + c
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)

  private val spans = mutable.ArrayBuffer.empty[Span]
  // innermost open span first; a span opened on another thread (a
  // foreachBatch body on the stream thread) nests under the span the
  // main thread holds open while it waits for the stream
  private var open: List[Int] = Nil

  /** Runs `body` inside a span named `name`, child of the innermost open
    * span. */
  def span[T](name: String, opId: String = "")(body: => T): T = {
    val id = synchronized {
      val id = spans.length
      spans += Span(id, name, open.headOption.getOrElse(-1), opId,
        System.currentTimeMillis(), -1L, System.nanoTime(), -1L)
      open = id :: open
      id
    }
    try body
    finally synchronized {
      open = open.filterNot(_ == id)
      spans(id) = spans(id).copy(endMs = System.currentTimeMillis(),
        endNs = System.nanoTime())
    }
  }

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  private def jobsIn(s: Span): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
      .toSeq
  }

  /** Jobs, stages, tasks and task metrics of the jobs started inside
    * span `s`. A stage shared by two jobs counts once per span. */
  def counts(s: Span): Counts = {
    drain()
    synchronized {
      val js = jobsIn(s)
      val stageIds = js.flatMap(_.stageIds).distinct
        .filter(completedStages.contains)
      stageIds.map(id => stageCounts.getOrElse(id, Counts()))
        .foldLeft(Counts(jobs = js.length, stages = stageIds.length))(_ + _)
    }
  }

  /** Seconds of span `s` during which no Spark job was running: the
    * driver's own time (planning, analysis, file listing, the gaps
    * between jobs). */
  def driverGapSeconds(s: Span): Double = {
    drain()
    val busy = synchronized {
      jobs.values.toSeq.map(j => (j.startMs,
        if (j.endMs < 0) s.endMs else j.endMs))
    }
    (s.endMs - s.startMs - covered(s, busy)) / 1000.0
  }

  /** Seconds of span `s` not covered by its child spans. */
  def selfSeconds(s: Span): Double = {
    val children = allSpans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs))
    (s.endMs - s.startMs - covered(s, children)) / 1000.0
  }

  /** Milliseconds of `s` covered by the union of `intervals`. */
  private def covered(s: Span, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Every span with its attribution, one JSON object per line. */
  def spansJsonLines: Seq[String] = allSpans.map { s =>
    val c = counts(s)
    val fields = Seq(
      "id" -> s.id.toString, "name" -> Stats.jsonString(s.name),
      "parent" -> s.parent.toString, "op" -> Stats.jsonString(s.opId),
      "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
      "self_s" -> Stats.jsonNumber(selfSeconds(s)),
      "driver_gap_s" -> Stats.jsonNumber(driverGapSeconds(s)),
      "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
      "tasks" -> c.tasks.toString,
      "executor_cpu_s" -> Stats.jsonNumber(c.cpuNs / 1e9),
      "gc_s" -> Stats.jsonNumber(c.gcMs / 1e3),
      "deserialize_s" -> Stats.jsonNumber(c.deserializeMs / 1e3),
      "shuffle_read_bytes" -> c.shuffleReadBytes.toString,
      "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
      "spill_bytes" -> c.spillBytes.toString,
      "input_bytes" -> c.inputBytes.toString,
      "output_bytes" -> c.outputBytes.toString)
    fields.map { case (k, v) => s"\"$k\": $v" }.mkString("{", ", ", "}")
  }
}
