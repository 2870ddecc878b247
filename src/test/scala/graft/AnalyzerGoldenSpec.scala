package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Analyzer, AnalyzerParams}

/** Golden end-to-end test (SURVEY §5 item 2): the engine in compat mode
  * on the reference's shipped fixture must reproduce the replicated
  * baseline numbers from BASELINE.md (default parameters 15/200/5/15).
  */
class AnalyzerGoldenSpec extends AnyFunSuite {

  private val fixture = graft.queries.PipelineQueries.FixtureKmz

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val result = {
    spark.sparkContext.setLogLevel("WARN")
    new Analyzer(AnalyzerParams(compat = true)).analyze(spark, fixture)
  }

  test("pipelines / placemarks extracted (BASELINE: 45 / 0)") {
    assert(result.summary.nPipelines == 45)
    assert(result.summary.nPlacemarks == 0)
  }

  test("total geodesic length (BASELINE: 296066.384 m / 183.966754 mi)") {
    assert(math.abs(result.summary.totalMeters - 296066.384) < 0.01)
    assert(math.abs(result.summary.totalMiles - 183.966754) < 1e-5)
  }

  test("5 m segment count (BASELINE: 59190)") {
    assert(result.summary.nSegments == 59190)
  }

  test("pipeline-pair groups (BASELINE: 17)") {
    assert(result.summary.nPairGroups == 17)
  }

  test("bundled sections (BASELINE: 351)") {
    assert(result.summary.nBundledSections == 351)
  }

  test("total bundled length over-count artifact (BASELINE: 1,012,135 m, SURVEY Q4)") {
    assert(math.abs(result.summary.totalBundledMeters - 1012135.0) < 5.0)
  }

  test("effective survey length (BASELINE: 278828.050 m = 173.255372 mi)") {
    assert(math.abs(result.summary.effectiveMeters - 278828.050) < 0.05)
    assert(math.abs(result.summary.effectiveMiles - 173.255372) < 1e-4)
  }

  test("savings (BASELINE: 17238.333 m = 10.711382 mi = 5.82 %)") {
    assert(math.abs(result.summary.savingsMeters - 17238.333) < 0.05)
    assert(math.abs(result.summary.savingsMiles - 10.711382) < 1e-4)
    assert(math.abs(result.summary.savingsPercent - 5.82) < 0.005)
  }

  // reference entry point C (reanalyze :1588-1655): same file, new
  // params, full recompute — file-derived facts are invariant, the
  // min-parallel filter only drops sections, the pair join is untouched
  test("reanalyze: same file under stricter min_parallel_length") {
    val re = new Analyzer(AnalyzerParams(compat = true)).reanalyze(
      spark, fixture, AnalyzerParams(compat = true, minParallelM = 1000.0))
    assert(re.summary.nPipelines == 45)
    assert(math.abs(re.summary.totalMeters - result.summary.totalMeters) < 1e-6)
    assert(re.summary.nSegments == 59190)
    assert(re.summary.nPairGroups == 17)
    assert(re.summary.nBundledSections < 351 && re.summary.nBundledSections > 0)
    // effective length uses the 1/k clustering, not the section filter
    assert(math.abs(re.summary.effectiveMeters - result.summary.effectiveMeters) < 1e-6)
  }

  // corrected mode end-to-end: the documented divergences (uniform
  // midpoints, widened grid cells, no Q1 narrow prefilter) change pair
  // DETAIL, not file-derived facts — lengths and segment counts are
  // position-independent, and the analysis still finds the corridor
  // structure (pair groups / sections in the same ballpark)
  test("corrected mode: same totals and segment count, sane corridor structure") {
    val c = new Analyzer(AnalyzerParams(compat = false)).analyze(spark, fixture)
    assert(c.summary.nPipelines == 45)
    assert(math.abs(c.summary.totalMeters - result.summary.totalMeters) < 1e-6)
    assert(c.summary.nSegments == 59190) // Q2 changes positions, never counts
    // corrected midpoints shift pair detail; the corridor structure
    // itself is stable (17 groups in compat — allow small drift)
    assert(c.summary.nPairGroups >= 15 && c.summary.nPairGroups <= 20)
    assert(c.summary.nBundledSections > 0)
    assert(c.summary.effectiveMeters > 0 && c.summary.effectiveMeters <= c.summary.totalMeters)
  }

  // reference README "Parameter Impact" behavioral spec: a wider
  // detection range admits a SUPERSET of segment pairs (the compat
  // prefilter radius scales with the range and the geodesic postfilter
  // bound loosens), so per-segment cluster size k can only grow and the
  // 1/k effective length can only shrink (= more savings)
  test("parameter impact: wider detection range -> superset pairs, lower effective length") {
    val re = new Analyzer(AnalyzerParams(compat = true)).reanalyze(
      spark, fixture, AnalyzerParams(compat = true, detectionRangeM = 30.0))
    assert(re.summary.nSegments == 59190)
    assert(re.summary.nPairGroups >= 17)
    assert(re.summary.effectiveMeters <= result.summary.effectiveMeters + 1e-6)
    assert(re.summary.savingsMeters >= result.summary.savingsMeters - 1e-6)
  }
}
