package qbench

import java.nio.file.{Files, Paths}

/** Writes the run's artifact and prints its results: a readable table of
  * every metric, then, as the last line of standard output, the one JSON
  * object a benchmark result line carries. */
object Report {

  /** End-to-end metrics of every workload, as named in BENCHMARK.json. */
  def endToEnd(r: Result): Seq[(String, Double, String)] = Seq(
    ("setup_s", Util.median(r.setupSecs.toSeq), "s"),
    ("pass_s", Util.median(r.passSecs.toSeq), "s"),
    ("items_per_s", r.items / r.itemSecs, "1/s"),
    ("peak_rss_mb", Util.peakRssMb(), "MB"))

  def emit(workload: String, seed: Long, trace: Boolean, r: Result,
           meta: Map[String, Any], outDir: String): Unit = {
    val checksOk = r.checks.forall(_._2)
    val e2e = endToEnd(r)
    val failedShare = if (r.attempted == 0) 1.0 else r.failed.toDouble / r.attempted
    val reported: Seq[(String, Double, String)] =
      if (trace) r.layers.toSeq.map { case (k, (v, u)) => (k, v, u) }
      else e2e
    val lineMetrics = if (trace) reported.filter(m => Layers.names.contains(m._1)) else reported
    val artifact = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "correct" -> checksOk, "attempted" -> r.attempted, "failed" -> r.failed,
      "failed_share" -> failedShare,
      "end_to_end" -> e2e.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "workload_metrics" -> r.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> r.layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "setup_samples_s" -> r.setupSecs.toSeq, "pass_samples_s" -> r.passSecs.toSeq,
      "checks" -> r.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
      "notes" -> r.notes.toMap,
      "meta" -> meta)
    Files.createDirectories(Paths.get(outDir))
    val path = Paths.get(outDir, s"$workload-seed$seed-trace${if (trace) 1 else 0}.json")
    Files.writeString(path, Json(artifact) + "\n")
    if (trace) Files.writeString(Paths.get(outDir, s"$workload-seed$seed-spans.json"),
      Json(Spans.dump) + "\n")
    System.err.println(s"[qbench] artifact $path")

    println(f"workload $workload seed $seed trace ${if (trace) 1 else 0}")
    println(f"  ${"attempted"}%-42s ${r.attempted}%14d")
    println(f"  ${"failed"}%-42s ${r.failed}%14d")
    println(f"  ${"failed_share"}%-42s ${failedShare}%14.6f  share")
    for ((k, v, u) <- e2e) println(f"  $k%-42s $v%14.6f  $u")
    for ((k, (v, u)) <- r.named) println(f"  $k%-42s $v%14.6f  $u")
    if (trace) for ((k, v, u) <- reported) println(f"  $k%-42s $v%14.6f  $u")
    for ((n, ok, d) <- r.checks if !ok) println(s"  CHECK FAILED $n $d")

    val line = Map(
      "correct" -> checksOk,
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> lineMetrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)
    println(Json(line))
    Console.out.flush()
  }
}

/** Spans of the traced run, kept in memory until exit. */
object Spans {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  def add(t: Tracer): Unit = synchronized { spans ++= t.spans }
  def all: Seq[Span] = synchronized(spans.toSeq)
  def dump: Seq[Map[String, Any]] =
    all.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "run_id" -> s.runId, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "seconds" -> s.seconds, "counters" -> s.counters))
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
