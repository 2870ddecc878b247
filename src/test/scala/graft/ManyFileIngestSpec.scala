package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.KmlSource

/** Many-file manifest ingest: 10⁴ tiny KMLs through the distributed
  * readMany/splitMany path. Pins the two properties the windowed
  * offset computation must deliver with zero driver-side collection:
  *
  *  1. GLOBAL ids are exactly 0..N-1 — no gap, no dup — regardless of
  *     how many files the manifest has;
  *  2. ids respect (source_file, scan) arrival order: each file's
  *     features get a CONTIGUOUS id range starting at the sum of all
  *     lexicographically-earlier files' counts, in scan order within
  *     the file — the reference's single-file counter semantics
  *     extended to a manifest.
  *
  * Files carry 1..3 features each (id ranges must handle ragged
  * counts), with names whose lexicographic order differs from their
  * creation order (offsets must follow NAME order, not listing
  * accidents).
  */
class ManyFileIngestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def kml(nFeatures: Int, tag: String): String = {
    val pms = (0 until nFeatures).map { i =>
      s"""<Placemark><name>${tag}_f$i</name><LineString><coordinates>
         |  -97.$i,31.0,0 -97.${i + 1},31.1,0
         |</coordinates></LineString></Placemark>""".stripMargin
    }.mkString("\n")
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
       |$pms
       |</Document></kml>""".stripMargin
  }

  test("10k-file manifest: ids are 0..N-1 in (file, scan) arrival order") {
    spark.sparkContext.setLogLevel("WARN")
    val dir: Path = Files.createTempDirectory("graft_manyfiles")
    val nFiles = 10000
    // creation order deliberately != lexicographic order (reverse)
    var expectTotal = 0
    val countsByName = (nFiles - 1 to 0 by -1).map { i =>
      val name = f"m$i%05d.kml" // zero-padded: lexicographic == numeric
      val n = i % 3 + 1
      Files.writeString(dir.resolve(name), kml(n, f"m$i%05d"))
      expectTotal += n
      name -> n
    }.toMap
    try {
      val (pipes, _) = KmlSource.splitMany(KmlSource.readMany(spark, dir.toString))
      val rows = pipes.select("id", "name").collect()
        .map(r => (r.getInt(0), r.getString(1)))
      // property 1: ids are exactly 0..N-1
      assert(rows.length == expectTotal)
      assert(rows.map(_._1).sorted.toSeq == (0 until expectTotal))
      // property 2: ids follow (file, scan) order — the feature name
      // encodes (file tag, scan position), so sorting by id must yield
      // names in (tag, position) order, each file's range contiguous
      val namesById = rows.sortBy(_._1).map(_._2)
      var pos = 0
      (0 until nFiles).foreach { i =>
        val tag = f"m$i%05d"
        val n = countsByName(s"$tag.kml")
        (0 until n).foreach { j =>
          assert(namesById(pos) == s"${tag}_f$j",
            s"id $pos: expected ${tag}_f$j, got ${namesById(pos)}")
          pos += 1
        }
      }
    } finally {
      import scala.jdk.CollectionConverters._
      Files.list(dir).iterator().asScala.foreach(Files.delete)
      Files.delete(dir)
    }
  }

  test("mixed files: pipeline ids 0..N-1 and PM_<n> placemark ids in (file, scan) order") {
    def doc(features: Seq[(String, Boolean)]): String = {
      val pms = features.map { case (name, line) =>
        val geom =
          if (line) "<LineString><coordinates>-97.0,31.0,0 -97.1,31.1,0</coordinates></LineString>"
          else "<Point><coordinates>-97.0,31.0,0</coordinates></Point>"
        s"<Placemark><name>$name</name>$geom</Placemark>"
      }.mkString("\n")
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
         |$pms
         |</Document></kml>""".stripMargin
    }
    val dir: Path = Files.createTempDirectory("graft_mixedfiles")
    // b.kml holds no pipeline; creation order != name order
    val files = Seq(
      "c.kml" -> Seq("c_l0" -> true, "c_p0" -> false),
      "b.kml" -> Seq("b_p0" -> false, "b_p1" -> false),
      "a.kml" -> Seq("a_l0" -> true, "a_p0" -> false, "a_l1" -> true, "a_p1" -> false))
    files.foreach { case (name, fs) => Files.writeString(dir.resolve(name), doc(fs)) }
    try {
      val (pipes, pms) = KmlSource.splitMany(KmlSource.readMany(spark, dir.toString))
      val pipeIds = pipes.select("id", "name").collect()
        .map(r => r.getInt(0) -> r.getString(1)).sortBy(_._1).toSeq
      assert(pipeIds == Seq(0 -> "a_l0", 1 -> "a_l1", 2 -> "c_l0"))
      val pmIds = pms.select("placemarkId", "name").collect()
        .map(r => r.getString(0) -> r.getString(1)).sortBy(_._2).toSeq
      assert(pmIds == Seq("PM_1" -> "a_p0", "PM_2" -> "a_p1", "PM_3" -> "b_p0",
        "PM_4" -> "b_p1", "PM_5" -> "c_p0"))
    } finally {
      import scala.jdk.CollectionConverters._
      Files.list(dir).iterator().asScala.foreach(Files.delete)
      Files.delete(dir)
    }
  }
}
