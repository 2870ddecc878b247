package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.geo.Geodesic
import graft.functions.GeoFunctions._
import graft.sources.KmlSource

/** The pipeline-survey analytics engine (SURVEY §2 O5-O17), Spark-first.
  *
  * Dataflow: pipelines → 5 m segments (flatMap generator) → grid-bucketed
  * distance self-join (the reference's KD-tree radius query re-expressed
  * as a shuffle-partitionable equi-join, reference :313-331) → window
  * sessionization (gaps-and-islands) → section aggregation → effective
  * length by 1/k clustering (reference :769-847).
  *
  * The pair join is computed ONCE and reused by both bundling and
  * effective length — the reference runs the same neighbor search twice
  * (:320-383 and :804-836), which is over half its runtime.
  *
  * Scale design: every step is a DataFrame op whose shuffle keys are
  * bounded (grid cells, pipeline pairs); nothing is collected to the
  * driver except the final summary row. Skewed corridors (many segments
  * in one cell) are split by AQE's skew-join handling.
  *
  * Each frame of an analysis is computed once: [[analyze]] persists the
  * parsed and numbered features, every intermediate and the two export
  * tables, so the summary and all sinks read one copy (the export tables
  * fill on the first sink that reads them). The frames stay cached until
  * the caller frees them with [[AnalysisResult.release]].
  */
class Analyzer(val params: AnalyzerParams = AnalyzerParams()) extends Serializable {
  val p: AnalyzerParams = params.clamped
  import Analyzer._

  // ---------------------------------------------------------------- O5
  /** Per-pipeline geodesic lengths: reference output schema
    * (OBJECTID, Name, Shape_Length, pipelinelength; reference :238-243).
    * Pipelines with <2 vertices are dropped (:227-229). */
  def pipelineLengths(pipelines: Dataset[PipelineRow]): DataFrame =
    pipelines.toDF()
      .filter(size(col("coordinates")) >= 2)
      .withColumn("Shape_Length", st_geodesic_length(col("coordinates")))
      .withColumn("pipelinelength", col("Shape_Length") / Geodesic.SurveyMile)
      .select(col("id"), col("objectid").as("OBJECTID"), col("name").as("Name"),
        col("Shape_Length"), col("pipelinelength"))

  // ---------------------------------------------------------------- O6
  /** 5 m resegmentation generator (reference :254-289). Compat mode
    * reproduces the reference's midpoint drift exactly (SURVEY Q2);
    * corrected mode spaces midpoints uniformly along each edge. */
  def segments(pipelines: Dataset[PipelineRow]): Dataset[SegmentRow] = {
    val spark = pipelines.sparkSession
    import spark.implicits._
    val segLen = p.segmentM
    val compat = p.compat
    pipelines.flatMap(pl => segmentOne(pl, segLen, compat))
  }

  // ------------------------------------------------------------ O7-O10
  /** Distance self-join: one row per unordered cross-pipeline segment
    * pair within detection range with parallel bearings; p1 < p2 is the
    * join condition, so symmetric dedup (SURVEY Q6) is structural.
    *
    * The KD-tree becomes a 3×3 neighbor-grid equi-join: cell size = the
    * query radius in degrees, so any in-radius pair lands in adjacent
    * cells. Compat mode keeps the reference's isotropic degree-space L2
    * prefilter (SURVEY Q1 — it MISSES genuinely-close east-west pairs at
    * high latitude; faithful). Corrected mode drops it (the exact
    * geodesic postfilter is authoritative) and widens the lon cells by a
    * 1/cos(72°) factor so nothing in range escapes the grid.
    *
    * Output: p1, s1, lon1, lat1, p2, s2, lon2, lat2, distance. */
  def parallelPairs(segs: Dataset[SegmentRow]): DataFrame = {
    val rDeg = p.detectionRangeM / 111000.0
    val cellLon = if (p.compat) rDeg else rDeg * 3.25
    val cellLat = rDeg

    val base = segs.toDF()
      .withColumn("cx", floor(col("lon") / cellLon).cast("long"))
      .withColumn("cy", floor(col("lat") / cellLat).cast("long"))

    val left = base.select(
        col("p").as("p1"), col("s").as("s1"), col("lon").as("lon1"),
        col("lat").as("lat1"), col("bearing").as("b1"), col("cx"), col("cy"))
      .withColumn("off", explode(neighborOffsets))
      .select(col("p1"), col("s1"), col("lon1"), col("lat1"), col("b1"),
        (col("cx") + col("off.dx")).as("jx"), (col("cy") + col("off.dy")).as("jy"),
        col("off.dx").as("off_dx"), col("off.dy").as("off_dy"))

    val right = base.select(
      col("p").as("p2"), col("s").as("s2"), col("lon").as("lon2"),
      col("lat").as("lat2"), col("bearing").as("b2"),
      col("cx").as("kx"), col("cy").as("ky"))

    val prefilter =
      if (p.compat)
        (col("lon1") - col("lon2")) * (col("lon1") - col("lon2")) +
          (col("lat1") - col("lat2")) * (col("lat1") - col("lat2")) <= lit(rDeg * rDeg)
      else lit(true)

    left.join(right,
        col("jx") === col("kx") && col("jy") === col("ky") &&
          col("p1") < col("p2") &&
          bearing_diff(col("b1"), col("b2")) <= lit(p.angularTolDeg) &&
          prefilter)
      .withColumn("distance",
        st_geodesic_distance(col("lon1"), col("lat1"), col("lon2"), col("lat2")))
      .filter(col("distance") <= lit(p.detectionRangeM))
      // off_dx/off_dy = segment 2's grid cell minus segment 1's: the 3×3
      // bucket-scan position. The baseline's neighbor enumeration scans
      // dx, then dy, then bucket arrival order — the tie-break order
      // sessionization must use in compat mode (verified to reproduce
      // BASELINE.md's 351 sections / 1,012,135 m exactly).
      .select(col("p1"), col("s1"), col("lon1"), col("lat1"), col("p2"),
        col("s2"), col("lon2"), col("lat2"), col("distance"),
        col("off_dx").as("compat_dx"), col("off_dy").as("compat_dy"))
  }

  // ---------------------------------------------------------------- O11
  /** Gaps-and-islands sessionization (reference :410-430, SURVEY Q5):
    * within each pipeline pair ordered by (s1, s2), a new section starts
    * when s1 advances >2 or s2 advances >2 — SIGNED deltas, faithful to
    * the reference (backward jumps never break a section). Adds a
    * `section` id column. */
  def sessionize(pairs: DataFrame): DataFrame = {
    // Compat: reproduce the baseline's insertion order — ascending s1
    // (outer scan), then the 3×3 bucket-scan position of the neighbor,
    // then s2 (arrival order within a bucket). Corrected: plain (s1, s2).
    val orderCols =
      if (p.compat) Seq(col("s1"), col("compat_dx"), col("compat_dy"), col("s2"))
      else Seq(col("s1"), col("s2"))
    val w = Window.partitionBy("p1", "p2").orderBy(orderCols: _*)
    pairs
      .withColumn("ls1", lag("s1", 1).over(w))
      .withColumn("ls2", lag("s2", 1).over(w))
      .withColumn("brk",
        when(col("ls1").isNull ||
          col("s1") - col("ls1") > 2 || col("s2") - col("ls2") > 2, 1L).otherwise(0L))
      .withColumn("section",
        sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("ls1", "ls2", "brk")
  }

  // ---------------------------------------------------------------- O12
  /** Section aggregation (reference :432-474): per (p1, p2, section)
    * count, average separation, buffered bbox + center; sections shorter
    * than min_parallel_length are dropped (reference :425-430). */
  def bundledSections(sessionized: DataFrame): DataFrame = {
    val buffer = 0.001
    sessionized
      .groupBy("p1", "p2", "section")
      .agg(
        count(lit(1)).as("segment_count"),
        avg("distance").as("average_separation"),
        min(least(col("lon1"), col("lon2"))).as("raw_min_lon"),
        max(greatest(col("lon1"), col("lon2"))).as("raw_max_lon"),
        min(least(col("lat1"), col("lat2"))).as("raw_min_lat"),
        max(greatest(col("lat1"), col("lat2"))).as("raw_max_lat"))
      .withColumn("bundled_length_meters", col("segment_count") * p.segmentM)
      .filter(col("bundled_length_meters") >= p.minParallelM)
      .withColumn("bundled_length_miles", col("bundled_length_meters") / Geodesic.SurveyMile)
      .withColumn("min_lon", col("raw_min_lon") - buffer)
      .withColumn("max_lon", col("raw_max_lon") + buffer)
      .withColumn("min_lat", col("raw_min_lat") - buffer)
      .withColumn("max_lat", col("raw_max_lat") + buffer)
      .withColumn("center_lon", (col("min_lon") + col("max_lon")) / 2)
      .withColumn("center_lat", (col("min_lat") + col("max_lat")) / 2)
      .drop("raw_min_lon", "raw_max_lon", "raw_min_lat", "raw_max_lat")
  }

  // ---------------------------------------------------------------- O13
  /** Corridor polygons per kept section (reference :476-712): a typed
    * [[CorridorAgg]] Aggregator accumulates (orderKey, midpoint)
    * records + a running max separation per section — map-side-merging,
    * no `collect_list` array column, roughly half the per-section state
    * (SURVEY §7.3) — then its finish step sorts by the compat order key
    * and runs the pure [[CorridorGeometry.fromCenterline]] kernel.
    * Adds oriented_polygon / oriented_width_m / corridor_polygon /
    * corridor_fallback columns. */
  def sectionCorridors(sessionized: DataFrame, sections: DataFrame): DataFrame = {
    // corrected mode orders by (s1, s2): zero out the bucket-scan keys
    val dxCol = if (p.compat) col("compat_dx") else lit(0)
    val dyCol = if (p.compat) col("compat_dy") else lit(0)
    val corridorAgg = udaf(new CorridorAgg(p.segmentM, p.detectionRangeM, p.compat))
    val corr = sessionized
      .join(sections.select("p1", "p2", "section", "center_lon", "center_lat"),
        Seq("p1", "p2", "section"))
      .groupBy("p1", "p2", "section")
      .agg(corridorAgg(
        col("s1"), dxCol, dyCol, col("s2"),
        col("lon1"), col("lat1"), col("lon2"), col("lat2"),
        col("center_lon"), col("center_lat")).as("_corr"))

    sections.join(corr, Seq("p1", "p2", "section"))
      .withColumn("oriented_polygon", col("_corr.oriented_polygon"))
      .withColumn("oriented_width_m", col("_corr.oriented_width_m"))
      .withColumn("corridor_polygon", col("_corr.corridor_polygon"))
      .withColumn("corridor_fallback", col("_corr.corridor_fallback"))
      .drop("_corr")
  }

  // ---------------------------------------------------------------- O14
  /** Per-pipeline overlap rollup (reference :714-716, :747-756): distinct
    * bundled segment indices per pipeline over KEPT sections only. */
  def pipelineOverlaps(sessionized: DataFrame, sections: DataFrame): DataFrame = {
    val kept = sessionized.join(
      sections.select("p1", "p2", "section"), Seq("p1", "p2", "section"), "left_semi")
    val members = kept.select(col("p1").as("p"), col("s1").as("s"))
      .union(kept.select(col("p2").as("p"), col("s2").as("s")))
      .distinct()
    members.groupBy("p")
      .agg(count(lit(1)).as("bundled_segments"))
      .withColumn("bundled_length_meters", col("bundled_segments") * p.segmentM)
      .withColumn("bundled_length_miles", col("bundled_length_meters") / Geodesic.SurveyMile)
  }

  // ---------------------------------------------------------------- O17
  /** Effective survey length by 1/k clustering (reference :769-847),
    * reusing the pair join: k(segment) = 1 + #distinct other pipelines
    * with a parallel in-range segment; each segment contributes
    * segLen / k; per-pipeline remainders below segmentation resolution
    * are added back in full (tails). Returns the UNclamped total like
    * the reference's compute_effective_length_by_clusters. */
  def effectiveLengthMeters(
      segs: Dataset[SegmentRow], pairs: DataFrame, lengths: DataFrame): Double = {
    val oriented = pairs.select(col("p1").as("p"), col("s1").as("s"), col("p2").as("o"))
      .union(pairs.select(col("p2").as("p"), col("s2").as("s"), col("p1").as("o")))
    val kDf = oriented.groupBy("p", "s").agg(countDistinct("o").as("others"))
    val effRow = segs.toDF().join(kDf, Seq("p", "s"), "left")
      .select(sum(lit(p.segmentM) / (coalesce(col("others"), lit(0L)) + lit(1L))).as("eff"))
      .first()
    val eff = if (effRow.isNullAt(0)) 0.0 else effRow.getDouble(0)

    val segSums = segs.toDF().groupBy("p").agg((count(lit(1)) * p.segmentM).as("segmented"))
    val tailsRow = lengths
      .join(segSums, lengths("id") === segSums("p"), "left")
      .select(sum(greatest(col("Shape_Length") - coalesce(col("segmented"), lit(0.0)), lit(0.0)))
        .as("tails"))
      .first()
    val tails = if (tailsRow.isNullAt(0)) 0.0 else tailsRow.getDouble(0)
    eff + tails
  }

  // ---------------------------------------------------------------- O22
  /** Complete analysis of a KMZ/KML file OR a directory/glob of them
    * (reference analyze_complete :849-899): scan → lengths → (if ≥2
    * pipelines) pair join → bundling → effective length → summary with
    * clamps. Ingestion runs the distributed path ([[KmlSource.readMany]]
    * + [[KmlSource.numberMany]]): files parse on executors and arrival-
    * order ids come from per-file windows + offset join — no driver
    * collect of features. The caller releases the result. */
  def analyze(spark: SparkSession, path: String): AnalysisResult = {
    import spark.implicits._
    // pipelines (read by lengths and segments) and placemarks are two
    // projections of one numbered frame: number the features once
    val numbered = KmlSource.numberMany(KmlSource.readMany(spark, path))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (pipelines, placemarks) = KmlSource.splitNumbered(numbered)
    val counts = numbered.agg(
      count(when(col("is_pipeline"), 1)), count(when(!col("is_pipeline"), 1))).first()
    val nPipes = counts.getLong(0)
    val nPms = counts.getLong(1)
    if (nPipes == 0 && nPms == 0) {
      numbered.unpersist()
      throw new IllegalArgumentException("No valid features found in the file")
    }

    val lengths = pipelineLengths(pipelines).persist(StorageLevel.MEMORY_AND_DISK)
    val totals = lengths.agg(
      sum("Shape_Length").as("m"), sum("pipelinelength").as("mi")).first()
    val totalM = if (totals.isNullAt(0)) 0.0 else totals.getDouble(0)
    val totalMi = if (totals.isNullAt(1)) 0.0 else totals.getDouble(1)

    if (nPipes < 2) {
      // schema-correct EMPTY sections/overlaps: run the real dataflow
      // over zero segments (plan-only cost) so sinks and consumers see
      // the same columns as the ≥2-pipeline path
      val sess0 = sessionize(parallelPairs(spark.emptyDataset[SegmentRow]))
      val (sections0, overlaps0) = enrichOutputs(lengths, sess0, bundledSections(sess0))
      return AnalysisResult(lengths, placemarks.toDF(), sections0, overlaps0,
        AnalysisSummary(nPipes, nPms, totalM, totalMi, 0, 0, 0, 0.0,
          totalM, totalMi, 0.0, 0.0, 0.0),
        Seq(numbered, lengths, sections0, overlaps0))
    }

    val segs = segments(pipelines).persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = parallelPairs(segs).persist(StorageLevel.MEMORY_AND_DISK)
    val sessionized = sessionize(pairs).persist(StorageLevel.MEMORY_AND_DISK)
    val sections = bundledSections(sessionized).persist(StorageLevel.MEMORY_AND_DISK)

    val (sectionsOut, overlaps) = enrichOutputs(lengths, sessionized, sections)

    val nSegments = segs.count()
    val nPairGroups = pairs.select("p1", "p2").distinct().count()
    val bundled = sections.agg(count(lit(1)), sum(col("segment_count") * p.segmentM)).first()
    val nSections = bundled.getLong(0)
    val totalBundledM = if (bundled.isNullAt(1)) 0.0 else bundled.getDouble(1)

    val effRaw = effectiveLengthMeters(segs, pairs, lengths)
    val effM = math.max(0.0, math.min(totalM, effRaw)) // clamp, reference :876
    val savingsM = math.max(0.0, totalM - effM)
    val savingsPct = if (totalM > 0) savingsM / totalM * 100 else 0.0

    AnalysisResult(lengths, placemarks.toDF(), sectionsOut, overlaps,
      AnalysisSummary(nPipes, nPms, totalM, totalMi, nSegments, nPairGroups,
        nSections, totalBundledM, effM, effM / Geodesic.SurveyMile,
        savingsM, savingsM / Geodesic.SurveyMile, savingsPct),
      Seq(numbered, lengths, segs, pairs, sessionized, sections, sectionsOut, overlaps))
  }

  /** Re-analysis (reference entry point C, reanalyze :1588-1655): the
    * SAME input re-run under new parameters. The reference re-invokes
    * analyze_complete on its cached current_file — a full recompute
    * with no incremental reuse — and this mirrors that contract; the
    * persisted intermediates of THIS analyzer are not shared. It never
    * sees the previous result, so the caller releases that one. */
  def reanalyze(spark: SparkSession, path: String, newParams: AnalyzerParams): AnalysisResult =
    new Analyzer(newParams).analyze(spark, path)

  /** Names + corridor polygons on sections (reference bundled_sections
    * shape, :718-745, sorted by length desc, ties by pipeline pair and
    * section so every sink lists them in one order) and names on
    * overlaps. Both are persisted: they are the export tables every
    * sink reads. */
  private def enrichOutputs(
      lengths: DataFrame, sessionized: DataFrame, sections: DataFrame): (DataFrame, DataFrame) = {
    val names = lengths.select(col("id"), col("Name"))
    val sectionsOut = sectionCorridors(sessionized, sections)
      .join(names.select(col("id").as("p1"), col("Name").as("pipeline_1")), Seq("p1"))
      .join(names.select(col("id").as("p2"), col("Name").as("pipeline_2")), Seq("p2"))
      .orderBy(desc("bundled_length_miles"), asc("p1"), asc("p2"), asc("section"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val overlaps = pipelineOverlaps(sessionized, sections)
      .join(names.select(col("id").as("p"), col("Name").as("name")), Seq("p"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    (sectionsOut, overlaps)
  }

  private val neighborOffsets = {
    val offs = for (dx <- -1 to 1; dy <- -1 to 1)
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))
    array(offs.toSeq: _*)
  }
}

/** Full analysis output: the reference's nested result dict (:885-897)
  * as Datasets + a typed summary.
  *
  * `cached` holds every frame the producing analysis persisted. The
  * caller owns them: [[release]] frees them once the exports are
  * written. A result built by hand caches nothing of its own. */
final case class AnalysisResult(
    pipelines: DataFrame,
    placemarks: DataFrame,
    sections: DataFrame,
    overlaps: DataFrame,
    summary: AnalysisSummary,
    cached: Seq[Dataset[_]] = Nil) {

  /** Unpersists every frame in `cached`; the result's frames stay
    * usable but recompute from their sources when read again. */
  def release(): Unit = cached.foreach(_.unpersist())
}

object Analyzer {
  /** Faithful port of the reference's per-pipeline segmentation loop
    * (reference :254-289). Pure function — unit-testable without Spark.
    *
    * compat=true reproduces Q2 exactly: `ratio` stays scaled by the
    * ORIGINAL edge length while (lon1, lat1) is reassigned to each
    * emitted midpoint, so midpoints bunch toward the far vertex on long
    * edges. compat=false emits uniformly spaced midpoints. Both modes
    * emit exactly floor(Σ edge length / segLen) segments with the <segLen
    * remainder carried across vertices. */
  def segmentOne(pl: PipelineRow, segLen: Double, compat: Boolean): Seq[SegmentRow] = {
    val coords = pl.coordinates
    if (coords.length < 2) return Nil
    val out = scala.collection.mutable.ArrayBuffer[SegmentRow]()
    var accumulated = 0.0
    var i = 0
    while (i < coords.length - 1) {
      val origLon1 = coords(i).lon
      val origLat1 = coords(i).lat
      val lon2 = coords(i + 1).lon
      val lat2 = coords(i + 1).lat
      val inv = Geodesic.inverse(origLon1, origLat1, lon2, lat2)
      val azimuth = inv.azimuth1Deg
      val distance = inv.distanceM
      val accBefore = accumulated
      accumulated += distance
      if (compat) {
        var lon1 = origLon1
        var lat1 = origLat1
        while (accumulated >= segLen) {
          val ratio = (segLen - (accumulated - distance)) / distance
          val midLon = lon1 + ratio * (lon2 - lon1)
          val midLat = lat1 + ratio * (lat2 - lat1)
          out += SegmentRow(pl.id, out.length, midLon, midLat, azimuth)
          accumulated -= segLen
          lon1 = midLon; lat1 = midLat
        }
      } else {
        var j = 1
        while (accumulated >= segLen) {
          val along = j * segLen - accBefore // arc position on this edge
          val ratio = math.min(math.max(along / distance, 0.0), 1.0)
          out += SegmentRow(pl.id, out.length,
            origLon1 + ratio * (lon2 - origLon1),
            origLat1 + ratio * (lat2 - origLat1), azimuth)
          accumulated -= segLen
          j += 1
        }
      }
      i += 1
    }
    out.toSeq
  }
}
