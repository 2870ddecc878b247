package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

final case class Metric(name: String, unit: String, better: String)

/** Every metric the benchmark prints, by name and unit. Per-layer
  * names read `<module>.<call>.<field>`; a layer a workload never enters
  * reads 0 on that workload. */
object Catalog {
  val AnalyzerSpans = Seq("sources.read", "analyzer.lengths", "analyzer.segments",
    "analyzer.pairs", "analyzer.sessionize", "analyzer.sections",
    "analyzer.corridors", "analyzer.overlaps", "analyzer.effective")
  val SinkSpans = Seq("sinks.pipelines_csv", "sinks.overlaps_csv", "sinks.json", "sinks.kml")
  val IndexSpans = Seq("write", "append", "delete", "compact").map(st => s"index.ann.$st")
  /** Spans reported per call (median over calls); all others are summed
    * within an iteration, then the median over iterations is taken. */
  val PerCall = Set("serve.ann")

  private def wall(s: String) = Metric(s"$s.wall_s", "s", "lower")
  private def jobs(s: String) = Metric(s"$s.jobs", "count", "lower")
  private def gap(s: String) = Metric(s"$s.gap_s", "s", "lower")
  private def shuffle(s: String) = Metric(s"$s.shuffle_mb", "MB", "lower")

  val endToEnd: Seq[Metric] = Seq(
    Metric("iteration_s", "s", "lower"),
    Metric("setup_s", "s", "lower"),
    Metric("peak_rss_mb", "MB", "lower"))

  val perLayer: Seq[Metric] =
    AnalyzerSpans.flatMap(s => Seq(wall(s), jobs(s), gap(s), shuffle(s))) ++
      Seq(Metric("analyzer.segments.rows", "count", "lower"),
        Metric("analyzer.pairs.rows", "count", "lower"),
        Metric("analyzer.sections.rows", "count", "lower"),
        Metric("analyzer.pairs.per_segment", "ratio", "lower")) ++
      SinkSpans.flatMap(s => Seq(wall(s), jobs(s))) ++
      IndexSpans.flatMap(s => Seq(wall(s), jobs(s), gap(s))) ++
      Seq(wall("index.ann.load"), wall("serve.ann"), jobs("serve.ann"), gap("serve.ann")) ++
      Seq(Metric("serve.ann.recall_at_10", "ratio", "higher")) ++
      Seq(Metric("spark.tasks_failed", "count", "lower"),
        Metric("trace.untraced_s", "s", "lower"),
        Metric("trace.traced_s", "s", "lower"),
        Metric("trace.overhead_s", "s", "lower"),
        Metric("trace.self_s", "s", "lower"),
        Metric("trace.gc_s", "s", "lower"),
        Metric("trace.spill_mb", "MB", "lower"))

  val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"
  val UnitRe = "[A-Za-z0-9_/%.-]{1,16}"
}

/** Turns one run's samples into the result line, the human-readable
  * summary and the result file. */
final class Report(o: Main.Opts, env: Env, w: Workload, setupS: Seq[Double],
    warmupS: Double, untraced: Seq[Timings], traced: Seq[Timings], tracer: Option[Tracer],
    rssMb: Double) {
  import Main.median
  private val Fields = Seq("wall_s", "jobs", "gap_s", "self_s", "shuffle_mb", "spill_mb", "gc_s")

  val correct: Boolean = env.problems.isEmpty

  private lazy val stats: Seq[SpanStats] =
    tracer.fold(Seq.empty[SpanStats])(t => SpanStats.of(t.spans, t.jobs, t.listener))

  /** Per-layer values by metric name. */
  lazy val layerValues: Map[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    for ((name, ss) <- stats.groupBy(_.span.name)) {
      val figs = ss.map(s => Seq(s.span.wallNs / 1e9, s.jobs.toDouble,
        s.gapNs / 1e9, s.selfNs / 1e9, s.shuffleBytes / 1e6, s.spillBytes / 1e6, s.gcMs / 1e3))
      val samples =
        if (Catalog.PerCall(name)) figs
        else ss.indices.groupBy(i => ss(i).span.iter).values
          .map(_.map(figs).reduce((a, b) => a.zip(b).map(p => p._1 + p._2))).toSeq
      for ((field, k) <- Fields.zipWithIndex)
        out(s"$name.$field") = median(samples.map(_(k)))
    }
    for ((k, v) <- env.layer) out(k) = median(v.toSeq)
    tracer.foreach { t =>
      out("spark.tasks_failed") = t.listener.tasksFailed.get.toDouble
      val (u, tr) = (median(untraced.map(_.headline)), median(traced.map(_.headline)))
      out("trace.untraced_s") = u
      out("trace.traced_s") = tr
      out("trace.overhead_s") = tr - u
      for (f <- Seq("self_s", "gc_s", "spill_mb"))
        out(s"trace.$f") = out.getOrElse(s"${w.root}.$f", 0.0)
    }
    out.toMap
  }

  lazy val metrics: Seq[(Metric, Double)] =
    if (o.trace) Catalog.perLayer.map(m => m -> layerValues.getOrElse(m.name, 0.0))
    else Seq(Catalog.endToEnd(0) -> median(untraced.map(_.headline)),
      Catalog.endToEnd(1) -> median(setupS),
      Catalog.endToEnd(2) -> rssMb)

  /** The workload's own named timings: median and sample count. */
  lazy val named: Seq[(String, String, Double, Int)] = w.units.map { case (n, unit) =>
    val xs = untraced.flatMap(_.named.filter(_._1 == n).map(_._2))
    (n, unit, if (xs.isEmpty) Double.NaN else median(xs), xs.size)
  }

  def resultLine: String = {
    val ms = metrics.map { case (m, v) =>
      s"${Json.str(m.name)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(m.unit)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${env.attempted}, "failed": ${env.failed}, "metrics": {$ms}}"""
  }

  def summaryLines: Seq[String] =
    named.map { case (n, unit, v, k) => f"$n%-18s $v%12.4f $unit%-3s (median, n=$k)" } ++
      Seq(f"${"setup_s"}%-18s ${median(setupS)}%12.4f s   (median, n=${setupS.size})",
        f"${"peak_rss_mb"}%-18s $rssMb%12.1f MB  (VmHWM, n=1)",
        f"${"error_rate"}%-18s ${env.failed.toDouble / math.max(1L, env.attempted)}%12.4f     " +
          s"(${env.failed} failed of ${env.attempted} attempted)")

  def write(dir: Path): Unit = {
    Files.createDirectories(dir)
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    val body = Json.obj(Seq(
      "workload" -> Json.str(o.workload),
      "seed" -> o.seed.toString,
      "trace" -> o.trace.toString,
      "seconds" -> Json.num(o.seconds),
      "machine" -> Json.obj(Seq(
        "nproc" -> Runtime.getRuntime.availableProcessors().toString,
        "loadavg" -> Json.str(Report.loadavg()),
        "git_sha" -> Json.str(sys.env.getOrElse("PERFBENCH_GIT_SHA", "unknown")),
        "source_sha256" -> Json.str(sys.env.getOrElse("PERFBENCH_SOURCE_SHA", "unknown")))),
      "correct" -> correct.toString,
      "attempted" -> env.attempted.toString,
      "failed" -> env.failed.toString,
      "problems" -> Json.arr(env.problems.toSeq.map(Json.str)),
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "warmup_s" -> Json.num(warmupS),
      "named" -> Json.obj(named.map { case (n, unit, v, k) =>
        n -> Json.obj(Seq("median" -> Json.num(v), "unit" -> Json.str(unit), "n" -> k.toString))
      }),
      "iterations" -> Json.arr(untraced.map(t => Json.num(t.headline))),
      "traced_iterations" -> Json.arr(traced.map(t => Json.num(t.headline))),
      "metrics" -> Json.obj(metrics.map { case (m, v) => m.name -> Json.num(v) })))
    Files.writeString(dir.resolve(s"$tag.json"), body + "\n")
    tracer.foreach { _ =>
      val lines = stats.map { s =>
        Json.obj(Seq("id" -> s.span.id.toString, "iter" -> s.span.iter.toString,
          "name" -> Json.str(s.span.name), "parent" -> s.span.parent.toString,
          "start_ns" -> s.span.startNs.toString, "end_ns" -> s.span.endNs.toString,
          "jobs" -> s.jobs.toString, "gap_s" -> Json.num(s.gapNs / 1e9),
          "self_s" -> Json.num(s.selfNs / 1e9),
          "shuffle_mb" -> Json.num(s.shuffleBytes / 1e6),
          "spill_mb" -> Json.num(s.spillBytes / 1e6),
          "gc_s" -> Json.num(s.gcMs / 1e3)))
      }
      Files.writeString(dir.resolve(s"$tag.spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
    summaryLines.foreach(l => println(s"[perfbench] $l"))
  }
}

object Report {
  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).mkString(" ") finally src.close()
    } catch { case _: Exception => "unknown" }
}

/** Just enough JSON writing for result lines and files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
