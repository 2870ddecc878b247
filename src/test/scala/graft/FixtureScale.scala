package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.{Analyzer, AnalyzerParams, PipelineRow}
import graft.sources.KmlSource

/** Fixture-replication golden at scale (manual main) — the reference's
  * own "1000+ pipelines" design target (README.md:178) exercised
  * through the CURRENT distributed ingest + analysis chain.
  *
  * The Brazos/Delaware fixture (45 pipelines, 59,190 segments, 351
  * bundled sections) is replicated k× with LON-ONLY offsets of 1.2°
  * (fixture lon span 0.9°, so copies sit ≥ 0.3° ≈ 28 km apart — far
  * beyond the 500 m detection range; a pure rotation about the Earth's
  * axis preserves every geodesic distance EXACTLY, so per-copy results
  * must be bit-identical in count space). At k=100 that is 4,500
  * pipelines / 5.919 M segments starting at lon −170, ending ≈ −51 —
  * all valid coordinates.
  *
  * Golden assertions: segments = k·59,190, pair groups = k·17,
  * sections = k·351 — any cross-copy contamination or lost pair fails
  * loudly. Prints wall time per stage group for SURVEY §6.
  */
object FixtureScale {

  private val fixture = graft.queries.PipelineQueries.FixtureKmz

  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(100)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    spark.range(100000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    val an = new Analyzer(AnalyzerParams(compat = true))
    val t0 = System.nanoTime()
    val (pipes1, _) = KmlSource.splitMany(KmlSource.readMany(spark, fixture))
    val base = pipes1.collect() // 45 rows — the template, not the data
    val nBase = base.length
    val pipes = spark.range(k).flatMap { i =>
      val dLon = -66.0 + 1.2 * i // copies span lon [-170, -51]
      base.map(p => PipelineRow(p.id + i.toInt * nBase, p.objectid, p.name,
        p.coordinates.map(c => c.copy(lon = c.lon + dLon))))
    }.repartition(32).cache()
    println(f"[fixture-scale] ${k}x ingest+replicate: ${pipes.count()}%,d pipelines " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    val t1 = System.nanoTime()
    val segs = an.segments(pipes).cache()
    val nSegs = segs.count()
    println(f"[fixture-scale] ${k}x segments: $nSegs%,d in ${(System.nanoTime() - t1) / 1e9}%.1f s")

    val t2 = System.nanoTime()
    val pairs = an.parallelPairs(segs).cache()
    val nGroups = pairs.select("p1", "p2").distinct().count()
    println(f"[fixture-scale] ${k}x grid join: $nGroups%,d pair groups " +
      f"in ${(System.nanoTime() - t2) / 1e9}%.1f s")

    val t3 = System.nanoTime()
    val sections = an.bundledSections(an.sessionize(pairs))
    val nSections = sections.count()
    println(f"[fixture-scale] ${k}x sessionize+sections: $nSections%,d sections " +
      f"in ${(System.nanoTime() - t3) / 1e9}%.1f s")

    // effective survey length is additive across independent copies, so
    // the 1x golden (278,828.050 m, BASELINE.md) must scale EXACTLY —
    // a float drift or cross-copy pair leak shows up here as meters
    val t4 = System.nanoTime()
    val lengths = an.pipelineLengths(pipes)
    val effM = an.effectiveLengthMeters(segs, pairs, lengths)
    println(f"[fixture-scale] ${k}x effective length: $effM%.3f m " +
      f"in ${(System.nanoTime() - t4) / 1e9}%.1f s")
    println(f"[fixture-scale] ${k}x TOTAL wall: ${(System.nanoTime() - t0) / 1e9}%.1f s")

    assert(nSegs == k * 59190L, s"segments $nSegs != ${k * 59190L}")
    assert(nGroups == k * 17L, s"pair groups $nGroups != ${k * 17L}")
    assert(nSections == k * 351L, s"sections $nSections != ${k * 351L}")
    assert(math.abs(effM - k * 278828.050) < 0.01 * k,
      s"effective $effM != $k * 278828.050")
    println(s"[fixture-scale] GOLDEN OK: ${k}x counts and effective length are exactly k * fixture")
    spark.stop()
  }
}
