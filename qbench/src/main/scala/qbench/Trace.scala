package qbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, LongAccumulator, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark counters of one job group, updated from listener threads. */
final class Counters {
  val jobs, stages, tasks = new LongAdder
  val runMs, cpuNs, gcMs, schedDelayMs = new LongAdder
  val shuffleRead, shuffleWrite, spill, input, output = new LongAdder
  val peakExecMem = new LongAccumulator((a, b) => math.max(a, b), 0L)

  def snapshot: Map[String, Double] = Map(
    "spark.jobs" -> jobs.sum.toDouble,
    "spark.stages" -> stages.sum.toDouble,
    "spark.tasks" -> tasks.sum.toDouble,
    "spark.executor_run_s" -> runMs.sum / 1e3,
    "spark.executor_cpu_s" -> cpuNs.sum / 1e9,
    "spark.gc_s" -> gcMs.sum / 1e3,
    "spark.scheduler_delay_s" -> schedDelayMs.sum / 1e3,
    "spark.shuffle_read_bytes" -> shuffleRead.sum.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWrite.sum.toDouble,
    "spark.spill_bytes" -> spill.sum.toDouble,
    "spark.peak_exec_mem_bytes" -> peakExecMem.get.toDouble,
    "spark.input_bytes" -> input.sum.toDouble,
    "spark.output_bytes" -> output.sum.toDouble)
}

/** Listener that charges every job, stage, task and SQL execution to the
  * job group that was active on the calling thread when it started. Spans
  * give each call its own group, so a job that finishes late is still
  * charged to the call that launched it, never to the next one. Counters
  * are atomic accumulators; read them only after [[Recorder.drain]]. */
final class Recorder(spark: SparkSession) extends SparkListener {
  private val groups = new ConcurrentHashMap[String, Counters]
  private val stageGroup = new ConcurrentHashMap[Integer, String]
  private val execGroup = new ConcurrentHashMap[java.lang.Long, String]
  // SQL execution id -> (analysis, optimization, planning) nanoseconds
  private val execPhases = new ConcurrentHashMap[java.lang.Long, (Long, Long, Long)]

  private def group(g: String): Counters =
    groups.computeIfAbsent(if (g == null) Recorder.NoGroup else g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    group(g).jobs.increment()
    val key = if (g == null) Recorder.NoGroup else g
    e.stageIds.foreach(id => stageGroup.put(id, key))
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execGroup.putIfAbsent(id.toLong, key))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    group(stageGroup.get(e.stageInfo.stageId)).stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = group(stageGroup.get(e.stageId))
    c.tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.add(m.executorRunTime)
      c.cpuNs.add(m.executorCpuTime)
      c.gcMs.add(m.jvmGCTime)
      val info = e.taskInfo
      if (info != null && info.finished) {
        val fetchMs = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        c.schedDelayMs.add(math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - fetchMs))
      }
      c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.peakExecMem.accumulate(m.peakExecutionMemory)
      c.input.add(m.inputMetrics.bytesRead)
      c.output.add(m.outputMetrics.bytesWritten)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
    case s: SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.qbench.Shim.phases(s).foreach(p => execPhases.put(s.executionId, p))
    case _ =>
  }

  def drain(): Unit = org.apache.spark.sql.qbench.Shim.drain(spark.sparkContext)

  /** Listen to the session until [[detach]]; untraced calls run without
    * this listener on the bus. */
  def attach(): Unit = spark.sparkContext.addSparkListener(this)

  /** Stop listening, after every event already posted has been delivered. */
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
  }

  /** Run `body` with the listener attached. */
  def during[T](body: => T): T = { attach(); try body finally detach() }

  /** Counters of the given groups, summed (peak memory: max). Drains first. */
  def read(gs: Iterable[String]): Map[String, Double] = {
    drain()
    val wanted = gs.toSet
    val snaps = wanted.toSeq.flatMap(g => Option(groups.get(g))).map(_.snapshot)
    val summed = Recorder.CounterNames.map { k =>
      val vs = snaps.map(_.getOrElse(k, 0.0))
      k -> (if (k == "spark.peak_exec_mem_bytes") (0.0 +: vs).max else vs.sum)
    }.toMap
    var (an, op, pl) = (0L, 0L, 0L)
    execPhases.asScala.foreach { case (id, (a, o, p)) =>
      if (wanted.contains(execGroup.getOrDefault(id, Recorder.NoGroup))) { an += a; op += o; pl += p }
    }
    summed ++ Map("spark.analysis_s" -> an / 1e9, "spark.optimization_s" -> op / 1e9,
      "spark.planning_s" -> pl / 1e9)
  }
}

object Recorder {
  val NoGroup = "_none"
  val CounterNames: Seq[String] = new Counters().snapshot.keys.toSeq.sorted
}

/** One recorded span: a call into one layer. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, endNs: Long, counters: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around layer calls when tracing is on; a plain call when
  * off. Spans are kept in memory and written out by [[Main]] at exit. */
final class Tracer(spark: SparkSession, val runId: String, recorder: Option[Recorder]) {
  private val nextId = new AtomicInteger(0)
  private val stack = mutable.Stack[Int](0)
  val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String)(body: => T): T = recorder match {
    case None => body
    case Some(rec) =>
      val id = nextId.incrementAndGet()
      val parent = stack.top
      val sc = spark.sparkContext
      stack.push(id)
      sc.setJobGroup(group(id), name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        if (parent == 0) sc.clearJobGroup()
        else sc.setJobGroup(group(parent), name, interruptOnCancel = false)
        spans += Span(id, name, parent, runId, t0, t1, rec.read(Seq(group(id))))
      }
  }

  /** Spark counters of every span recorded so far plus jobs outside any span. */
  def totals: Map[String, Double] = recorder.map(_.read(
    (1 to nextId.get).map(group) :+ Recorder.NoGroup)).getOrElse(Map.empty)

  /** Job group of one span, unique across tracers of a run. */
  private def group(id: Int): String = s"qbench-$runId-$id"
}

object Tracer {

  /** A tracer that records nothing: calls run untraced. */
  def off(spark: SparkSession): Tracer = new Tracer(spark, "untraced", None)
}
