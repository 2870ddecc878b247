package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 source: `spark.read.format("kmz")` must read the fixture on
  * executors, prune columns into the reader, and agree with the
  * driver-side parse path. */
class KmzDataSourceSpec extends AnyFunSuite {

  private val fixture = graft.queries.PipelineQueries.FixtureKmz

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("format(\"kmz\") reads the reference fixture with the engine schema") {
    spark.sparkContext.setLogLevel("WARN")
    val df = spark.read.format("kmz").load(fixture)
    assert(df.columns.toSeq == Seq(
      "source_file", "seq", "name", "objectid", "geometry_type",
      "coordinates", "attrs"))
    // seq is the file-local scan position — dense 0..44 here
    assert(df.select("seq").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 45L))
    assert(df.count() == 45)
    assert(df.filter(col("geometry_type") === "LineString").count() == 45)
    // fixture has no <name>/<OBJECTID>: fallback semantics must hold
    assert(df.filter(col("name").startsWith("Item_")).count() == 45)
    assert(df.filter(col("objectid") === "N/A").count() == 45)
    // vertex total matches BASELINE (2,134)
    val verts = df.select(sum(size(col("coordinates")))).collect()(0).getLong(0)
    assert(verts == 2134)
  }

  test("multi-file directory ingestion: global arrival-order ids, additive totals") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    spark.sparkContext.setLogLevel("WARN")
    val dir = Files.createTempDirectory("graft_multikmz")
    // two copies with names that pin the per-file offset ordering, plus
    // a case-mangled extension (readMany's glob must accept .KMZ)
    Files.copy(Paths.get(fixture), dir.resolve("a_first.kmz"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(fixture), dir.resolve("b_second.KMZ"), StandardCopyOption.REPLACE_EXISTING)
    val many = graft.sources.KmlSource.readMany(spark, dir.toString)
    // the many-file default IS the DSv2 source: one input partition per
    // file, scan node is a BatchScan over KmzDataSource
    assert(many.queryExecution.executedPlan.toString.contains("BatchScan"),
      "readMany must route through the DSv2 kmz source")
    assert(many.rdd.getNumPartitions == 2, "one input partition per file")
    val (pipes, _) = graft.sources.KmlSource.splitMany(many)
    val ids = pipes.select("id").collect().map(_.getInt(0)).sorted
    // 45 + 45 features; ids globally unique 0..89 in (file, scan) order
    assert(ids.toSeq == (0 until 90))
    // file-derived totals are additive across files (lengths + segments
    // only — the full analyze would run the pair join on a corpus where
    // every pipeline has a zero-distance twin, which tests nothing new
    // about ingestion and costs minutes)
    val an = new graft.pipeline.Analyzer(graft.pipeline.AnalyzerParams(compat = true))
    val totalM = an.pipelineLengths(pipes)
      .agg(sum(col("Shape_Length"))).collect()(0).getDouble(0)
    assert(math.abs(totalM - 2 * 296066.384) < 0.02)
    assert(an.segments(pipes).count() == 2 * 59190)
  }

  test("column pruning reaches the reader (ReadSchema excludes coordinates)") {
    val df = spark.read.format("kmz").load(fixture).select("name", "objectid")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scan.contains("coordinates"), s"pruned scan should not read coordinates:\n$scan")
    assert(df.count() == 45)
  }

  test("DSv2 path agrees with the driver-side parse path") {
    import spark.implicits._
    val dsv2 = spark.read.format("kmz").load(fixture)
      .select("name", "objectid", "geometry_type")
      .as[(String, String, String)].collect().sorted
    val driver = graft.sources.KmlSource.read(spark, fixture)
      .map(f => (f.name, f.objectid, f.geometryType)).collect().sorted
    assert(dsv2.toSeq == driver.toSeq)
  }
}
