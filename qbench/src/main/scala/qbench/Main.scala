package qbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Everything one run measured. Workloads fill it; [[Main]] reports it. */
final class Result {
  val setupSecs = mutable.ArrayBuffer.empty[Double]
  val passSecs = mutable.ArrayBuffer.empty[Double]
  var items = 0.0
  var itemSecs = 0.0
  var attempted = 0L
  var failed = 0L
  /** named checks: (name, passed, detail) */
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** the workload's own end-to-end metrics, by the names in qbench/README.md */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** per-layer metrics of a traced run */
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]

  /** Record one attempted operation; false when it failed or its output was wrong. */
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[qbench] CHECK FAILED $name $detail")
    ok
  }
}

/** What a workload gets: the session, its seed and time budget, a private
  * scratch directory, the generated tables and the recorded outputs. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val work: String, val tables: String,
                val expected: Expected) {
  def log(msg: String): Unit = System.err.println(s"[qbench] $msg")
}

trait Workload {
  def name: String
  def run(ctx: Ctx, r: Result): Unit
}

object Main {
  /** local[4]: the benchmark's fixed core count, whatever the machine has. */
  val Cores = 4

  val workloads: Seq[Workload] = Seq(CineServeWarm, DeclaredSuite)

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wName = opts.getOrElse("workload", "")
    val w = workloads.find(_.name == wName).getOrElse {
      System.err.println(s"unknown workload '$wName'; expected one of ${workloads.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val out = opts("out")
    Files.createDirectories(Paths.get(work))
    val loadStart = Util.loadAvg()
    val t0 = System.nanoTime()
    val spark = graft.Session.local(Cores, s"qbench-$wName")
    val sessionSecs = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, seed, seconds, trace, work, opts("tables"),
      new Expected(opts("digests"), wName, opts.get("record").contains("1")))
    val r = new Result
    val ok = try { w.run(ctx, r); true } catch {
      case e: Throwable =>
        System.err.println(s"[qbench] workload ${w.name} aborted: $e")
        e.printStackTrace()
        false
    }
    val meta = Util.meta(spark, opts, seed, loadStart, sessionSecs)
    spark.stop()
    if (!ok) sys.exit(1)
    ctx.expected.save()
    Report.emit(w.name, seed, trace, r, meta, out)
  }
}

object Util {
  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Force every column of every row, as graft.Bench does: a noop write. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Peak resident set of this JVM (VmHWM): in local mode the whole engine. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Persisted RDDs still registered and storage memory in use right now. */
  def leak(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    (sc.getPersistentRDDs.size, used)
  }

  /** Leak counters, read right after a timed region and before any cleanup. */
  def leakAfter(ctx: Ctx, r: Result): Unit = {
    val (rdds, used) = leak(ctx.spark)
    recordLeak(r, rdds, used)
  }

  def recordLeak(r: Result, rdds: Int, used: Long): Unit = {
    r.layers("spark.persisted_rdds_left") = (rdds.toDouble, "count")
    r.layers("spark.storage_used_bytes") = (used.toDouble, "bytes")
    r.named("persisted_rdds_left") = (rdds.toDouble, "count")
    r.named("storage_used_bytes") = (used.toDouble, "bytes")
  }

  def storageMemory(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum

  /** Drop what a call left cached. Runs outside every timed region. */
  def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** The timed passes of a run: as many as fill `seconds` at the
    * workload's nominal pass time. The count depends only on the budget,
    * never on measured times: a count that did would flip between runs
    * and, since the first timed pass runs with a colder JIT than the rest,
    * move the median with it. A traced run makes the same passes, then the
    * two of [[Layers.overhead]]. `calls` gives a sample's per-call seconds.
    * Returns the untraced run's samples and every sample; the traced pass
    * is the last but one. */
  def passes[T](ctx: Ctx, r: Result, nominalPassS: Double)(pass: Tracer => T)(
      calls: T => Seq[Double]): (Seq[T], Seq[T]) = {
    System.gc()
    val n = math.max(1, math.ceil(ctx.seconds / nominalPassS - 1e-9).toInt)
    val off = Tracer.off(ctx.spark)
    val s = (0 until n).map(_ => pass(off))
    if (!ctx.trace) (s, s)
    else (s, s ++ Layers.overhead(ctx.spark, r, s"seed${ctx.seed}-pass")(pass)(calls))
  }

  def meta(spark: SparkSession, opts: Map[String, String], seed: Long, loadStart: Double,
           sessionSecs: Double): Map[String, Any] = {
    // a fresh SQLConf holds no settings, so it lists every registered default
    val defaults = new org.apache.spark.sql.internal.SQLConf().getAllDefinedConfs
      .map(c => c._1 -> c._2).toMap
    val nonDefault = spark.conf.getAll.filter { case (k, v) =>
      k.startsWith("spark.sql.") && !defaults.get(k).contains(v)
    }
    Map(
      "git_commit" -> opts.getOrElse("commit", "unknown"),
      "source_hash" -> opts.getOrElse("source", "unknown"),
      "seed" -> seed,
      "cores" -> Main.Cores,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"),
      "jdk_vm" -> System.getProperty("java.vm.name"),
      "session_start_s" -> sessionSecs,
      "sql_conf_non_default" -> nonDefault.toSeq.sortBy(_._1).toMap,
      "loadavg_1m_start" -> loadStart,
      "loadavg_1m_end" -> loadAvg())
  }
}
