package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Analyzer, AnalyzerParams, Sinks}
import graft.sources.KmlParser

/** Sink roundtrips on the fixture analysis (SURVEY §2 O19-O21): every
  * export is read BACK — CSVs through the Spark reader, KML through
  * this engine's own KmlParser (sink→source closure), JSON/TXT by
  * content — and checked against the BASELINE.md golden numbers.
  */
class SinksSpec extends AnyFunSuite {

  private val fixture = graft.queries.PipelineQueries.FixtureKmz

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val params = AnalyzerParams(compat = true)
  private lazy val result = {
    spark.sparkContext.setLogLevel("WARN")
    new Analyzer(params).analyze(spark, fixture)
  }
  private lazy val outDir = Files.createTempDirectory("graft_sinks_").toString

  test("pipelines CSV roundtrip: 45 rows, total miles matches BASELINE") {
    val p = s"$outDir/pipelines.csv"
    Sinks.writePipelinesCsv(result, p)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(p)
    assert(back.count() == 45)
    val total = back.agg(org.apache.spark.sql.functions.sum("pipelinelength"))
      .first().getDouble(0)
    assert(math.abs(total - 183.966754) < 1e-4)
  }

  test("overlaps CSV roundtrip: 351 sections, flat columns") {
    val p = s"$outDir/overlaps.csv"
    Sinks.writeOverlapsCsv(result, p)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(p)
    assert(back.count() == 351)
    assert(back.columns.contains("bundled_length_miles"))
    val top = back.agg(org.apache.spark.sql.functions.max("bundled_length_miles"))
      .first().getDouble(0)
    assert(math.abs(top - 170.746) < 1e-3) // BASELINE top section
  }

  test("summary txt carries the BASELINE effective-length numbers") {
    val p = s"$outDir/summary.txt"
    Sinks.writeSummaryTxt(result, p)
    val txt = Files.readString(Paths.get(p))
    assert(txt.contains("183.967 miles"))
    assert(txt.contains("173.255 miles"))
    assert(txt.contains("10.711 miles"))
    assert(txt.contains("5.8%"))
  }

  test("JSON export: 45 pipelines, 351 sections, golden totals") {
    val p = s"$outDir/result.json"
    Sinks.writeJson(result, params, p)
    val json = Files.readString(Paths.get(p))
    // summary doc: totals inline, tables as pointers to distributed
    // JSON-lines dirs (the scale-safe shape — see Sinks.writeJson)
    assert(json.contains("\"computation_method\": \"clustered_segments_v1\""))
    assert(json.contains("183.9667")) // total_miles
    assert(json.contains("173.2553")) // effective_total_miles
    assert(json.contains("\"format\": \"json-lines\""))
    val pipes = spark.read.json(s"$p.tables/pipelines")
    assert(pipes.count() == 45)
    assert(pipes.columns.sorted.sameElements(
      Array("Name", "OBJECTID", "Shape_Length", "pipelinelength")))
    val sections = spark.read.json(s"$p.tables/bundled_sections")
    assert(sections.count() == 351)
    assert(sections.columns.contains("corridor_polygon"))
    assert(spark.read.json(s"$p.tables/pipeline_overlaps").count() ==
      result.overlaps.count())
  }

  test("JSON export survives a 100x result without driver materialization") {
    // 100x-replicated AnalysisResult (the FixtureScale pattern: lon-only
    // offsets keep copies independent; here only the SINK is under
    // test, so replication happens on the already-analyzed frames).
    // The old .toJSON.collect() shape embedded 35,100 polygon rows in
    // one driver string — this asserts the distributed writer path
    // round-trips the full row count with the driver holding only the
    // summary doc.
    import org.apache.spark.sql.functions._
    val k = 100
    val reps = spark.range(k).select(col("id").cast("int").as("rep"))
    def replicate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.crossJoin(reps).drop("rep")
    val scaled = graft.pipeline.AnalysisResult(
      replicate(result.pipelines), replicate(result.placemarks),
      replicate(result.sections), replicate(result.overlaps),
      result.summary)
    val p = s"$outDir/result_100x.json"
    Sinks.writeJson(scaled, params, p)
    assert(spark.read.json(s"$p.tables/pipelines").count() == 45L * k)
    assert(spark.read.json(s"$p.tables/bundled_sections").count() == 351L * k)
    // the driver-side artifact stays summary-sized no matter the scale
    assert(Files.size(Paths.get(p)) < 4096)
  }

  test("KML export parses back through the engine's own KML source") {
    val p = s"$outDir/corridors.kml"
    Sinks.writeKml(result, p)
    val feats = KmlParser.parseFile(p)
    // each section = 1 polygon ring (classified LineString: ≥2 coords,
    // no <Point>) + 1 center Point
    val (lines, points) = feats.partition(_.geometryType == "LineString")
    assert(points.length == 351)
    assert(lines.length == 351)
    // rings are closed and live inside the fixture's lon/lat range
    assert(lines.forall(f => f.coordinates.head == f.coordinates.last))
    assert(lines.flatMap(_.coordinates).forall(c =>
      c.lon > -105 && c.lon < -93 && c.lat > 28 && c.lat < 34))
  }
}
