package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SimilarityOps

/** Closed-loop IVF recall targeting: tuneIvf must return the
  * measured-cheapest (K, nProbe) meeting the SLO, with the audit and
  * the cost meter both run through the serving operator's own
  * machinery. */
class TuneIvfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val emb = {
    spark.sparkContext.setLogLevel("WARN")
    Tables.t(spark, "/root/testdata/sf0.01", "embeddings").cache()
  }
  private val pred = col("vec_id") % 100 === 0

  test("tuneIvf returns the measured-cheapest config meeting 0.8 recall at sf0.01") {
    val (chosen, all) = SimilarityOps.tuneIvf(emb, pred, k = 10, recallSlo = 0.8)
    assert(all.size == SimilarityOps.DefaultIvfGrid.size)
    assert(chosen.isDefined, s"no config met the SLO: $all")
    val c = chosen.get
    info(s"chosen: $c")
    all.foreach(m => info(s"  measured: $m"))
    assert(c.recallPpm >= 800000L)
    // cheapest among SLO-meeting configs, by the declared tie-break
    val meeting = all.filter(_.recallPpm >= 800000L)
    assert(meeting.nonEmpty)
    val best = meeting.sortBy(m => (m.rerankRows, m.nCentroids, m.nProbe)).head
    assert(c == best)
    // the committed serving config is in the table and meets the SLO
    // (the sweep that picked IvfCentroids/IvfProbe by hand, now closed)
    val committed = all.find(m =>
      m.nCentroids == SimilarityOps.IvfCentroids && m.nProbe == SimilarityOps.IvfProbe)
    assert(committed.isDefined)
    assert(committed.get.recallPpm >= 800000L,
      s"committed serving config no longer meets its own SLO: $committed")
    // the tuner is allowed to beat the hand-picked config, never to
    // return something more expensive
    assert(c.rerankRows <= committed.get.rerankRows)
  }

  test("recall audit and cost meter agree with an independent recompute") {
    val (chosen, _) = SimilarityOps.tuneIvf(emb, pred, k = 10, recallSlo = 0.8,
      grid = Seq((SimilarityOps.IvfCentroids, SimilarityOps.IvfProbe)))
    val c = chosen.get
    // independent recall recompute through the audit query itself
    val rec = SimilarityOps.ivfRecall(emb, pred, 10, c.nCentroids, c.nProbe)
      .agg(sum("n_hit"), sum("n_exact")).collect()(0)
    assert(c.recallPpm == rec.getLong(0) * 1000000L / rec.getLong(1))
    // cost sanity: rerank rows bounded by |queries| × corpus
    val nQ = emb.filter(pred).count(); val n = emb.count()
    assert(c.rerankRows > 0 && c.rerankRows < nQ * n,
      s"rerank rows ${c.rerankRows} outside (0, ${nQ * n})")
    // and strictly below the brute-force cost — the point of IVF
    assert(c.rerankRows < nQ * (n - 1) / 2)
  }

  test("unreachable SLO returns None, with the full table still measured") {
    val (chosen, all) = SimilarityOps.tuneIvf(emb, pred, k = 10,
      recallSlo = 1.1, grid = Seq((16, 4), (32, 8)))
    assert(chosen.isEmpty)
    assert(all.size == 2)
    // an empty query set audits nothing: 0 ppm everywhere, not a throw
    val (none, empty) = SimilarityOps.tuneIvf(emb, lit(false), k = 10,
      recallSlo = 0.8, grid = Seq((16, 4), (32, 8)))
    assert(none.isEmpty)
    assert(empty.size == 2 && empty.forall(_.recallPpm == 0L), s"$empty")
  }
}
