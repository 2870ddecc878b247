package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.pipeline._
import graft.sources.KmlSource

/** Seeded KML input for the corridor survey, built from the committed
  * Brazos/Delaware geometry (`fixtures/pipe/segments.parquet`): each
  * pipeline's ordered 5 m midpoints are decimated into LineString
  * vertices, and the network is replicated `copies` times, one KML file
  * per copy, shifted in longitude only by multiples of 1.2 degrees. A
  * longitude shift preserves every geodesic, so a k-copy analysis is
  * exactly k times the one-copy analysis. The seed picks the decimation
  * phase and which shift each file carries. */
object CorridorInput {
  final case class Line(id: Int, objectid: String, name: String, points: Seq[LonLat])

  val ShiftDeg = 1.2

  /** The bundle-dense core of the network the benchmark keeps. */
  final case class Window(minLon: Double, maxLon: Double, minLat: Double, maxLat: Double) {
    def contains(p: LonLat): Boolean =
      p.lon >= minLon && p.lon <= maxLon && p.lat >= minLat && p.lat <= maxLat
  }

  /** Each maximal run of a line's points inside `w`, as its own line. */
  def clip(lines: Seq[Line], w: Window): Seq[Line] = lines.flatMap { l =>
    val runs = l.points.foldLeft(List(List.empty[LonLat])) {
      case (cur :: done, p) if w.contains(p) => (p :: cur) :: done
      case (Nil :: done, _) => Nil :: done
      case (acc, _) => Nil :: acc
    }.map(_.reverse).filter(_.length >= 2).reverse
    runs.zipWithIndex.map { case (pts, i) =>
      l.copy(name = if (i == 0) l.name else s"${l.name} (${i + 1})", points = pts)
    }
  }

  final case class Plan(phase: Int, shifts: Seq[Int])

  def plan(seed: Long, copies: Int, step: Int): Plan = {
    val rnd = Main.random(seed)
    val phase = rnd.nextInt(step)
    Plan(phase, rnd.shuffle((0 until copies).toList))
  }

  /** First and last point, plus every `step`-th point from `phase`. */
  def decimate(points: Seq[LonLat], phase: Int, step: Int): Seq[LonLat] = {
    val n = points.length
    val idx = (0 +: (phase until n by step) :+ (n - 1)).distinct.sorted
    idx.map(points)
  }

  def load(spark: SparkSession, fixtures: Path): Seq[Line] = {
    val names = spark.read.parquet(fixtures.resolve("lengths.parquet").toString)
      .select("id", "OBJECTID", "Name").collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getString(2))).toMap
    spark.read.parquet(fixtures.resolve("segments.parquet").toString)
      .groupBy("p")
      .agg(sort_array(collect_list(struct(col("s"), col("lon"), col("lat")))).as("pts"))
      .collect()
      .map { r =>
        val id = r.getInt(0)
        val pts = r.getSeq[org.apache.spark.sql.Row](1).map(x => LonLat(x.getDouble(1), x.getDouble(2)))
        val (oid, name) = names(id)
        Line(id, oid, name, pts)
      }
      .sortBy(_.id).toSeq
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  def kml(lines: Seq[Line], dLon: Double): String = {
    val sb = new StringBuilder(
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<kml xmlns=\"http://www.opengis.net/kml/2.2\">\n<Document>\n")
    for (l <- lines if l.points.length >= 2) {
      sb ++= s"<Placemark><name>${esc(l.name)}</name><ExtendedData><SchemaData>" +
        s"<SimpleData name=\"OBJECTID\">${esc(l.objectid)}</SimpleData></SchemaData>" +
        "</ExtendedData><LineString><coordinates>"
      l.points.foreach(p => sb ++= s"${p.lon + dLon},${p.lat} ")
      sb ++= "</coordinates></LineString></Placemark>\n"
    }
    sb ++= "</Document>\n</kml>\n"
    sb.toString
  }

  /** The input files, in file-name order: (file name, KML text). */
  def render(lines: Seq[Line], seed: Long, copies: Int, step: Int,
      window: Window): Seq[(String, String)] = {
    val p = plan(seed, copies, step)
    val decimated = clip(lines, window).map(l => l.copy(points = decimate(l.points, p.phase, step)))
    p.shifts.zipWithIndex.map { case (shift, i) =>
      f"copy_$i%02d.kml" -> kml(decimated, shift * ShiftDeg)
    }
  }
}

/** `survey_corridors`: the paper's pipeline as a user runs it — KML
  * files into `Analyzer.analyze`, the result out through the four
  * sinks. Traced iterations call the analyzer's public stage functions
  * in `analyze`'s order, materializing each, so every stage gets its
  * own span. */
final class SurveyCorridors(env: Env) extends Workload {
  import SurveyCorridors._
  private val spark = env.spark
  private val params = AnalyzerParams()
  private val analyzer = new Analyzer(params)
  private val in = env.work.resolve("input")
  private val out = env.work.resolve("output")
  private var reference: AnalysisSummary = _

  val root = "survey"
  val minIterations = 3
  val units = Seq("survey_s" -> "s", "analyze_s" -> "s", "exports_s" -> "s")

  def setup(): Unit = {
    Main.deleteTree(in)
    Files.createDirectories(in)
    val lines = CorridorInput.load(spark, env.root.resolve("fixtures/pipe"))
    val files = CorridorInput.render(lines, env.seed, Copies, Step, Core)
    files.foreach { case (n, text) => Files.writeString(in.resolve(n), text) }
  }

  /** Analyzes and exports one copy — the reference every k-copy count is
    * checked against — then makes one untimed k-copy iteration: the
    * warm-up pass. */
  def prepare(): Unit = {
    Files.createDirectories(out)
    val one = analyzer.analyze(spark, in.resolve("copy_00.kml").toString)
    reference = one.summary
    exports(one, None)
    spark.catalog.clearCache()
    if (env.seed == Main.DefaultSeed) checkDefault(reference)
    iterate(None)
  }

  private def checkDefault(s: AnalysisSummary): Unit = {
    val got = Seq("pipelines" -> s.nPipelines.toDouble, "segments" -> s.nSegments.toDouble,
      "pair_groups" -> s.nPairGroups.toDouble, "sections" -> s.nBundledSections.toDouble,
      "total_m" -> s.totalMeters, "effective_m" -> s.effectiveMeters)
    for ((k, v) <- got) {
      val want = env.expected.get(s"survey.$k").map(_.toDouble)
      env.check(want.exists(close(v, _, 1e-9)), s"one-copy $k $v != recorded $want")
    }
  }

  def iterate(tracer: Option[Tracer]): Timings = {
    Main.deleteTree(out)
    Files.createDirectories(out)
    val t0 = System.nanoTime()
    val result = tracer match {
      case None => env.attempt("analyze")(analyzer.analyze(spark, in.toString))
      case Some(t) => t.span(root)(staged(t))
    }
    val t1 = System.nanoTime()
    result.foreach(r => tracer.fold(exports(r, None))(t => t.span(root)(exports(r, Some(t)))))
    val t2 = System.nanoTime()
    result.foreach(r => checkResult(r.summary))
    spark.catalog.clearCache()
    val (a, x) = ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    Timings(a + x, Seq("survey_s" -> (a + x), "analyze_s" -> a, "exports_s" -> x))
  }

  private def exports(r: AnalysisResult, t: Option[Tracer]): Unit = {
    def sink(name: String)(body: => Unit): Unit =
      env.attempt(name)(Tracer.within(t, name)(body))
    sink("sinks.pipelines_csv")(Sinks.writePipelinesCsv(r, out.resolve("pipelines.csv").toString))
    sink("sinks.overlaps_csv")(Sinks.writeOverlapsCsv(r, out.resolve("overlaps.csv").toString))
    sink("sinks.json")(Sinks.writeJson(r, params, out.resolve("result.json").toString))
    sink("sinks.kml")(Sinks.writeKml(r, out.resolve("corridors.kml").toString, topK = TopK))
  }

  /** `Analyzer.analyze`, one public stage at a time, each materialized
    * inside its own span. */
  private def staged(t: Tracer): Option[AnalysisResult] = env.attempt("analyze (staged)") {
    def keep[T](ds: Dataset[T]): Dataset[T] = ds.persist(StorageLevel.MEMORY_AND_DISK)
    val (pipelines, placemarks, nPipes, nPms) = t.span("sources.read") {
      val (p, m) = KmlSource.splitMany(KmlSource.readMany(spark, in.toString))
      (p, m, p.count(), m.count())
    }
    val (lengths, totalM, totalMi) = t.span("analyzer.lengths") {
      val l = keep(analyzer.pipelineLengths(pipelines))
      val r = l.agg(sum("Shape_Length"), sum("pipelinelength")).first()
      (l, r.getDouble(0), r.getDouble(1))
    }
    val segs = t.span("analyzer.segments") {
      val s = keep(analyzer.segments(pipelines))
      env.record("analyzer.segments.rows", s.count().toDouble)
      s
    }
    val pairs = t.span("analyzer.pairs") {
      val p = keep(analyzer.parallelPairs(segs))
      env.record("analyzer.pairs.rows", p.count().toDouble)
      p
    }
    val sess = t.span("analyzer.sessionize") {
      val s = keep(analyzer.sessionize(pairs)); s.count(); s
    }
    val sections = t.span("analyzer.sections") {
      val s = keep(analyzer.bundledSections(sess))
      env.record("analyzer.sections.rows", s.count().toDouble)
      s
    }
    val names = lengths.select(col("id"), col("Name"))
    val sectionsOut = t.span("analyzer.corridors") {
      val c = analyzer.sectionCorridors(sess, sections)
        .join(names.select(col("id").as("p1"), col("Name").as("pipeline_1")), Seq("p1"))
        .join(names.select(col("id").as("p2"), col("Name").as("pipeline_2")), Seq("p2"))
        .orderBy(desc("bundled_length_miles"))
      c.write.format("noop").mode("overwrite").save()
      c
    }
    val overlaps = t.span("analyzer.overlaps") {
      val o = analyzer.pipelineOverlaps(sess, sections)
        .join(names.select(col("id").as("p"), col("Name").as("name")), Seq("p"))
      o.write.format("noop").mode("overwrite").save()
      o
    }
    val effM = t.span("analyzer.effective") {
      math.max(0.0, math.min(totalM, analyzer.effectiveLengthMeters(segs, pairs, lengths)))
    }
    // summary figures the checks need, outside every stage span
    val nSegs = env.layer("analyzer.segments.rows").last.toLong
    env.record("analyzer.pairs.per_segment", env.layer("analyzer.pairs.rows").last / nSegs)
    val nGroups = pairs.select("p1", "p2").distinct().count()
    val nSections = env.layer("analyzer.sections.rows").last.toLong
    val bundled = sections.agg(sum(col("segment_count") * params.segmentM)).first()
    val savings = math.max(0.0, totalM - effM)
    AnalysisResult(lengths, placemarks.toDF(), sectionsOut, overlaps,
      AnalysisSummary(nPipes, nPms, totalM, totalMi, nSegs,
        nGroups, nSections, if (bundled.isNullAt(0)) 0.0 else bundled.getDouble(0),
        effM, effM / graft.geo.Geodesic.SurveyMile, savings,
        savings / graft.geo.Geodesic.SurveyMile, savings / totalM * 100))
  }

  private def checkResult(s: AnalysisSummary): Unit = {
    val r = reference
    def exact(what: String, got: Long, one: Long): Unit =
      env.check(got == Copies * one, s"$what: $got != $Copies x $one")
    exact("pipelines", s.nPipelines, r.nPipelines)
    exact("segments", s.nSegments, r.nSegments)
    exact("pair groups", s.nPairGroups, r.nPairGroups)
    exact("sections", s.nBundledSections, r.nBundledSections)
    env.check(close(s.totalMeters, Copies * r.totalMeters, 1e-9),
      s"total length ${s.totalMeters} != $Copies x ${r.totalMeters}")
    env.check(close(s.effectiveMeters, Copies * r.effectiveMeters, 1e-9),
      s"effective length ${s.effectiveMeters} != $Copies x ${r.effectiveMeters}")
    def dataLines(f: String): Long =
      Files.readAllLines(out.resolve(f)).asScala.count(_.nonEmpty) - 1L
    env.check(dataLines("pipelines.csv") == s.nPipelines,
      s"pipelines.csv rows ${dataLines("pipelines.csv")} != ${s.nPipelines}")
    env.check(dataLines("overlaps.csv") == s.nBundledSections,
      s"overlaps.csv rows ${dataLines("overlaps.csv")} != ${s.nBundledSections}")
    val placemarks = "<Placemark>".r.findAllIn(Files.readString(out.resolve("corridors.kml"))).size
    env.check(placemarks == 2 * math.min(TopK.toLong, s.nBundledSections),
      s"corridors.kml has $placemarks placemarks for ${s.nBundledSections} sections")
    env.check(Files.readString(out.resolve("result.json")).contains(
      s""""effective_total_meters": ${s.effectiveMeters}"""), "result.json lacks the summary")
  }
}

object SurveyCorridors {
  val Copies = 4
  val Step = 4
  val TopK = 20
  val Core = CorridorInput.Window(-103.30, -103.20, 31.30, 31.40)

  def close(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b))
}
