package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.{Analyzer, AnalyzerParams}
object DriveAnalyzer {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions","8").config("spark.ui.enabled","false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val an = new Analyzer(AnalyzerParams(compat = true))
    val r = an.analyze(spark, graft.queries.PipelineQueries.FixtureKmz)
    println(f"SUMMARY pipelines=${r.summary.nPipelines} placemarks=${r.summary.nPlacemarks} " +
      f"totalMi=${r.summary.totalMiles}%.6f segs=${r.summary.nSegments} groups=${r.summary.nPairGroups} " +
      f"sections=${r.summary.nBundledSections} bundledM=${r.summary.totalBundledMeters}%.0f " +
      f"effMi=${r.summary.effectiveMiles}%.6f savePct=${r.summary.savingsPercent}%.2f")
    println("TOP3:")
    r.sections.orderBy(desc("bundled_length_miles")).select("p1","p2","segment_count","bundled_length_miles","average_separation").show(3, false)
    println("OVERLAPS sample:")
    r.overlaps.orderBy(desc("bundled_length_miles")).show(3, false)

    // probe 1: two parallel pipelines 0.5 deg apart (generate_test_kml.py shape) -> no bundles
    val kml = """<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
<Placemark><name>Pipeline A</name><LineString><coordinates>-103.0,31.0,0 -102.9,31.0,0</coordinates></LineString></Placemark>
<Placemark><name>Pipeline B</name><LineString><coordinates>-103.0,31.5,0 -102.9,31.5,0</coordinates></LineString></Placemark>
</Document></kml>"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("/tmp/drive/far.kml"), kml)
    val r2 = an.analyze(spark, "/tmp/drive/far.kml")
    println(f"PROBE_FAR sections=${r2.summary.nBundledSections} effM=${r2.summary.effectiveMeters}%.3f totalM=${r2.summary.totalMeters}%.3f")

    // probe 2: KMZ with no .kml member
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream("/tmp/drive/empty.kmz"))
    zos.putNextEntry(new java.util.zip.ZipEntry("readme.txt")); zos.write("hi".getBytes); zos.closeEntry(); zos.close()
    try { an.analyze(spark, "/tmp/drive/empty.kmz"); println("PROBE_EMPTY no-error (BAD)") }
    catch { case e: Exception => println(s"PROBE_EMPTY error='${e.getMessage}'") }

    // probe 3: parameter clamping
    val clamped = new Analyzer(AnalyzerParams(detectionRangeM = -5, minParallelM = 0, segmentM = 0.1, angularTolDeg = 720)).p
    println(s"PROBE_CLAMP ${clamped.detectionRangeM} ${clamped.minParallelM} ${clamped.segmentM} ${clamped.angularTolDeg}")

    // probe 4: single-pipeline file -> skips overlap subplan
    val one = kml.replace("""<Placemark><name>Pipeline B</name><LineString><coordinates>-103.0,31.5,0 -102.9,31.5,0</coordinates></LineString></Placemark>""","")
    java.nio.file.Files.writeString(java.nio.file.Paths.get("/tmp/drive/one.kml"), one)
    val r3 = an.analyze(spark, "/tmp/drive/one.kml")
    println(f"PROBE_ONE pipes=${r3.summary.nPipelines} sections=${r3.summary.nBundledSections} effM=${r3.summary.effectiveMeters}%.3f totalM=${r3.summary.totalMeters}%.3f")
    spark.stop()
  }
}
