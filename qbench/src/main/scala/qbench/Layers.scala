package qbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The per-layer metrics every traced run reports (BENCHMARK.json
  * `per_layer`), and the ways a traced run sizes a layer. Module self times
  * are workload-specific and go to the run's table and artifact. */
object Layers {
  private val sparkUnits: Seq[(String, String)] = Seq(
    "spark.analysis_s" -> "s", "spark.optimization_s" -> "s", "spark.planning_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.scheduler_delay_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.peak_exec_mem_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes")

  val names: Seq[String] = sparkUnits.map(_._1) ++ Seq(
    "spark.persisted_rdds_left", "spark.storage_used_bytes",
    "trace.overhead_share", "trace.noise_share", "trace.untraced_pass_s", "trace.traced_pass_s")

  /** Listener counters of the traced calls. */
  def spark(r: Result, counters: Map[String, Double]): Unit =
    for ((k, u) <- sparkUnits) r.layers(k) = (counters.getOrElse(k, 0.0), u)

  /** Two passes made after the untraced run's own, which have warmed the
    * JIT: one traced, with the listener attached, then one untraced.
    * Records the tracing overhead, traced ÷ untraced time minus 1, and as
    * the noise to read it against the spread of the per-call ratios
    * (interquartile range ÷ median). The traced pass runs first, so any
    * warming still under way counts against tracing. Also records the
    * listener counters of the traced pass. Returns the two samples. */
  def overhead[T](session: SparkSession, r: Result, runId: String)(pass: Tracer => T)(
      calls: T => Seq[Double]): Seq[T] = {
    val rec = new Recorder(session)
    val tracer = new Tracer(session, runId, Some(rec))
    val traced = rec.during(pass(tracer))
    val untraced = pass(Tracer.off(session))
    val (t, u) = (calls(traced), calls(untraced))
    val ratios = t.zip(u).map { case (a, b) => a / b }
    r.layers("trace.untraced_pass_s") = (u.sum, "s")
    r.layers("trace.traced_pass_s") = (t.sum, "s")
    r.layers("trace.overhead_share") = (t.sum / u.sum - 1, "share")
    r.layers("trace.noise_share") = ((Util.quantile(ratios, 0.75) - Util.quantile(ratios, 0.25)) /
      Util.median(ratios), "share")
    spark(r, tracer.totals)
    Spans.add(tracer)
    Seq(traced, untraced)
  }

  /** Seconds of the fastest of two traced calls of `body`. */
  def time(tr: Tracer, name: String)(body: => Unit): Double =
    Seq.fill(2)(Util.secs(tr.span(name)(body))._2).min

  /** Self time of a step that turns `input` into a frame: `input` is
    * materialized first, outside the span, so the span holds the step's
    * own work and none of what produced its input. Returns the self time
    * and the materialized input's successor for the next step to build on. */
  def step(r: Result, tr: Tracer, name: String, input: DataFrame)(f: DataFrame => DataFrame): (Double, DataFrame) = {
    val in = input.localCheckpoint(eager = true)
    val out = f(in)
    val s = time(tr, name)(Util.force(out))
    record(r, name, s)
    (s, out)
  }

  /** Records a self time; a negative one is a failed check, not a figure. */
  def record(r: Result, name: String, s: Double): Unit = {
    r.check(s"self time of $name is not negative", s >= 0, f"$s%.4f s")
    r.layers(s"${name}_s") = (s, "s")
  }
}
