package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Analyzer, AnalyzerParams, Sinks}

/** The survey end to end on a KML this spec writes itself, so it needs
  * no reference KMZ: three parallel ~1 km east-west lines 8 m apart
  * (A, B, C from south to north) plus one far line D, through
  * `Analyzer.analyze` and all four sinks. With the default 15 m
  * detection range A–B and B–C bundle but A–C (16 m) does not, so the
  * geometry fixes the pair groups and sections; A–B and B–C are equally
  * long, so their order in every sink rests on the tie-break alone.
  */
class SurveyExportSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dir: Path = Files.createTempDirectory("graft_survey_")

  private def line(name: String, lon0: Double, lat: Double): String = {
    // 0.00105° of longitude ≈ 100 m at 31° N: ten edges ≈ 1 km
    val pts = (0 to 10).map(i => f"${lon0 + i * 0.00105}%.7f,$lat%.7f,0").mkString(" ")
    s"<Placemark><name>$name</name><LineString><coordinates>$pts</coordinates></LineString></Placemark>"
  }

  private val LatStep = 8.0 / 111000.0 // ≈ 8 m of latitude

  private lazy val result = {
    spark.sparkContext.setLogLevel("WARN")
    val kml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
         |${line("A", -97.0, 31.0)}
         |${line("B", -97.0, 31.0 + LatStep)}
         |${line("C", -97.0, 31.0 + 2 * LatStep)}
         |${line("D", -96.5, 31.2)}
         |</Document></kml>""".stripMargin
    val f = dir.resolve("survey.kml")
    Files.writeString(f, kml)
    new Analyzer(AnalyzerParams()).analyze(spark, f.toString)
  }

  private def out(name: String): String = dir.resolve(name).toString

  /** Spark jobs `body` starts, counted by a local property so jobs of
    * other threads are not counted. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.site"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == "survey") n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "survey")
    try {
      body
      Bridge.drainListenerBus(sc, 30000)
      n.get
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  override def afterAll(): Unit = {
    Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { Files.deleteIfExists(p); () })
    super.afterAll()
  }

  test("analysis: counts follow the geometry, effective length below total") {
    val s = result.summary
    assert(s.nPipelines == 4)
    assert(s.nPlacemarks == 0)
    assert(s.nPairGroups == 2)
    assert(s.nBundledSections == 2)
    assert(s.totalMeters > 3900 && s.totalMeters < 4100)
    assert(s.effectiveMeters > 0 && s.effectiveMeters < s.totalMeters)
  }

  test("sinks: row counts match the summary, one section order in every sink") {
    Sinks.writePipelinesCsv(result, out("pipelines.csv"))
    Sinks.writeOverlapsCsv(result, out("overlaps.csv"))
    Sinks.writeJson(result, AnalyzerParams(), out("result.json"))
    Sinks.writeKml(result, out("corridors.kml"))

    def dataLines(f: String): Seq[String] =
      Files.readAllLines(Path.of(out(f))).asScala.toSeq.drop(1).filter(_.nonEmpty)
    assert(dataLines("pipelines.csv").length == 4)
    val csvRows = dataLines("overlaps.csv").map(_.split(","))
    val csvOrder = csvRows.map(c => (c(0), c(1)))
    assert(csvOrder.length == 2)
    assert(csvRows.map(_(2)).distinct.length == 1) // bundled_length_meters tie

    def jsonLines(table: String): Seq[String] = {
      val parts = Files.list(Path.of(out(s"result.json.tables/$table"))).iterator.asScala
        .map(_.toString).filter(p => p.endsWith(".json") && !p.contains("/.")).toSeq.sorted
      parts.flatMap(p => Files.readAllLines(Path.of(p)).asScala).filter(_.nonEmpty)
    }
    val pairRe = """"pipeline_1":"([^"]*)","pipeline_2":"([^"]*)"""".r
    val jsonOrder = jsonLines("bundled_sections").map { l =>
      val m = pairRe.findFirstMatchIn(l).get
      (m.group(1), m.group(2))
    }
    assert(jsonLines("pipelines").length == 4)
    assert(jsonLines("pipeline_overlaps").length == 3) // A, B and C; D bundles nowhere
    assert(jsonLines("placemarks").isEmpty)

    val kml = Files.readString(Path.of(out("corridors.kml")))
    val kmlOrder = """<name>(\w+) \+ (\w+) \(""".r.findAllMatchIn(kml)
      .map(m => (m.group(1), m.group(2))).toSeq
    assert("<Placemark>".r.findAllIn(kml).size == 4)

    // equal lengths: the (p1, p2, section) tie-break puts A–B first
    assert(csvOrder == Seq(("A", "B"), ("B", "C")))
    assert(jsonOrder == csvOrder)
    assert(kmlOrder == csvOrder)
    assert(!Files.list(dir).iterator.asScala.exists(_.toString.endsWith(".tmp")))
  }

  test("sinks after the first read the persisted export tables: one job each") {
    assert(result.sections.storageLevel != StorageLevel.NONE)
    Sinks.writeJson(result, AnalyzerParams(), out("warm.json"))
    // topK = 1: a limit over a cached frame already stops after the first
    // non-empty partition, however the session splits the two sections
    assert(jobsOf(Sinks.writeKml(result, out("warm.kml"), topK = 1)) <= 1)
    assert(jobsOf(Sinks.writeOverlapsCsv(result, out("warm.csv"))) <= 1)
  }

  test("release() leaves no frame of the result cached") {
    assert(result.cached.length == 8)
    assert(result.cached.forall(_.storageLevel != StorageLevel.NONE))
    result.release()
    val frames = result.cached ++
      Seq(result.pipelines, result.placemarks, result.sections, result.overlaps)
    assert(frames.forall(_.storageLevel == StorageLevel.NONE))
  }
}
