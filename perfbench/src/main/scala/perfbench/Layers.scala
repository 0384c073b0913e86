package perfbench

/** The per-layer metrics a traced run reports, named by module. Every
  * traced run reports all of them; a layer the workload does not reach
  * reads 0, which is the prediction for that workload. BENCHMARK.json's
  * `per_layer` list is this list. */
object Layers {

  final case class Def(name: String, unit: String, better: String)

  /** Micro-batches of the curate_stream workload, one metric each. */
  val CurateBatches = 3

  val all: Seq[Def] = {
    def s(n: String) = Def(n, "s", "lower")
    def b(n: String) = Def(n, "bytes", "lower")
    def c(n: String, better: String = "lower") = Def(n, "count", better)
    Seq(
      s("sources.sniff_s"), s("sources.write_s"), b("sources.write_bytes"),
      s("schema.detect_s"), c("schema.detect_jobs"),
      s("text.clean_s"), s("text.clean_cpu_s"),
      s("wordscore.score_s"), s("wordscore.score_cpu_s"),
      c("wordscore.tail_tokens", "higher"),
      Def("wordscore.cpu_us_per_tail_token", "us", "lower")) ++
      (0 until CurateBatches).map(i => s(s"ops.curate.batch_s.b$i")) ++
      Seq(c("ops.curate.batch_jobs"), s("ops.curate.batch_driver_gap_s"),
        b("ops.curate.batch_input_bytes"),
        b("ops.curate.state_bytes"), c("ops.curate.state_files"),
        c("ops.curate.admitted_rows", "higher"), c("ops.curate.dropped_rows"),
        s("ops.curate.replay_s"),
        s("streaming.add_batch_s"), s("streaming.get_batch_s"),
        s("streaming.wal_commit_s"),
        s("ops.simsearch.fit_s"), s("ops.simsearch.baseline_s"),
        s("ops.simsearch.append_s"), s("ops.simsearch.append_replay_s"),
        s("ops.simsearch.load_s"), s("ops.simsearch.search_s"),
        c("ops.simsearch.search_jobs"), s("ops.simsearch.search_driver_gap_s"),
        s("ops.simsearch.search_batch_s"),
        b("ops.simsearch.search_batch_shuffle_bytes"),
        b("ops.simsearch.index_bytes"), c("ops.simsearch.index_files"),
        c("spark.jobs"), c("spark.stages"), c("spark.tasks"),
        s("spark.driver_gap_s"), s("spark.executor_cpu_s"), s("spark.gc_s"),
        s("spark.deserialize_s"), b("spark.shuffle_read_bytes"),
        b("spark.shuffle_write_bytes"), b("spark.spill_bytes"),
        b("spark.input_bytes"), b("spark.output_bytes"),
        s("cli.overhead_s"), s("trace.traced_s"), s("trace.untraced_s"),
        Def("trace.overhead_ratio", "ratio", "lower"))
  }

  private val units = all.map(d => d.name -> d.unit).toMap

  /** A layer metric by name; its unit comes from [[all]]. */
  def m(name: String, value: Double): Metric = {
    require(units.contains(name), s"undeclared layer metric $name")
    Metric(name, value, units(name))
  }

  /** `produced`, extended with a 0 for every declared metric it lacks,
    * in declaration order. */
  def complete(produced: Seq[Metric]): Seq[Metric] = {
    val byName = produced.map(m => m.name -> m).toMap
    all.map(d => byName.getOrElse(d.name, Metric(d.name, 0.0, d.unit)))
  }

  /** The spark.* totals of each traced lifecycle (the sum over its
    * top-level spans, medians across lifecycles) and the comparison of
    * traced with untraced lifecycle times. */
  def sparkAndTrace(t: Tracer, lifecycles: Seq[Seq[Span]],
                    untracedS: Seq[Double]): Seq[Metric] = {
    val cs = lifecycles.map(_.map(t.counts).reduce(_ + _))
    def med(f: Counts => Double) = Stats.median(cs.map(f))
    val traced = Stats.median(lifecycles.map(_.map(_.seconds).sum))
    val untraced = Stats.median(untracedS)
    Seq(m("spark.jobs", med(_.jobs.toDouble)),
      m("spark.stages", med(_.stages.toDouble)),
      m("spark.tasks", med(_.tasks.toDouble)),
      m("spark.driver_gap_s",
        Stats.median(lifecycles.map(_.map(t.driverGapSeconds).sum))),
      m("spark.executor_cpu_s", med(_.cpuNs / 1e9)),
      m("spark.gc_s", med(_.gcMs / 1e3)),
      m("spark.deserialize_s", med(_.deserializeMs / 1e3)),
      m("spark.shuffle_read_bytes", med(_.shuffleReadBytes.toDouble)),
      m("spark.shuffle_write_bytes", med(_.shuffleWriteBytes.toDouble)),
      m("spark.spill_bytes", med(_.spillBytes.toDouble)),
      m("spark.input_bytes", med(_.inputBytes.toDouble)),
      m("spark.output_bytes", med(_.outputBytes.toDouble)),
      m("trace.traced_s", traced), m("trace.untraced_s", untraced),
      m("trace.overhead_ratio", traced / untraced - 1.0))
  }

  /** Median duration of the spans named `name`. */
  def medianSeconds(spans: Seq[Span], name: String): Double = {
    val xs = spans.filter(_.name == name).map(_.seconds)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
}
