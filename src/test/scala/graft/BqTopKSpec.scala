package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SimilarityOps

/** Binary (sign-bit) quantization serving (`bqTopK`): the cheapest
  * rung of the quantized-ANN ladder. Pins the exactness contract (a
  * corpus-wide Hamming shortlist collapses to the brute-force
  * exact-dot ranking — sign quantization can cost recall only
  * through shortlist truncation), the packed-word identity against a
  * per-dimension reference, the exhaustive-recall invariant, and the
  * measured recall@10 at the default shortlist. */
class BqTopKSpec extends AnyFunSuite {

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

  private def bruteDotTopK(k: Int) = {
    val q = emb.filter(pred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val n = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val w = Window.partitionBy("q_id").orderBy(col("dotp").desc, col("n_id").asc)
    q.join(n, col("q_id") =!= col("n_id"))
      .withColumn("dotp", SimilarityOps.dot(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank").cast("long").as("rank"))
  }

  test("corpus-wide Hamming shortlist collapses to the brute-force ranking") {
    val n = emb.count().toInt
    val full = SimilarityOps.bqTopK(emb, pred, k = 10, shortlist = n)
      .select("q_id", "n_id", "rank")
    val truth = bruteDotTopK(10)
    assert(full.exceptAll(truth).isEmpty && truth.exceptAll(full).isEmpty)
  }

  test("packed sign-bit words match a per-dimension reference bit for bit") {
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    assert(dim == 64, "the packing test assumes the 64-dim oracle corpus")
    val rows = emb.limit(200).collect()
    val eye = (0 until dim).map(i =>
      Seq.tabulate(dim)(j => if (i == j) 1.0 else 0.0))
    val packed = emb.limit(200)
      .select(col("vec_id"), graft.functions.VectorFunctions
        .plane_band_keys(col("embedding"), eye, SimilarityOps.BqWordBits).as("cw"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    rows.foreach { r =>
      val v = r.getSeq[Float](1)
      val want = Seq(
        (0 until 32).map(i => if (v(i) > 0f) 1L << i else 0L).sum,
        (32 until 64).map(i => if (v(i) > 0f) 1L << (i - 32) else 0L).sum)
      assert(packed(r.getLong(0)) == want, s"vec ${r.getLong(0)}")
    }
  }

  test("bqRecall: exhaustive shortlist reports recall 1.0 exactly, per query") {
    val n = emb.count().toInt
    val audit = SimilarityOps.bqRecall(emb, pred, k = 10, shortlist = n)
    assert(audit.filter(col("recall_ppm") =!= 1000000L).isEmpty)
    assert(audit.count() == emb.filter(pred).count())
  }

  test("tuneShortlist: recall monotone in the shortlist; picks the cheapest " +
    "grid point meeting the SLO; impossible SLO returns None, never best-effort") {
    val n = emb.count().toInt
    val (chosen, measured) = SimilarityOps.tuneShortlist(emb, pred,
      recallSlo = 0.7, grid = Seq(10, 50, n))
    val byGrid = measured.sortBy(_.shortlist).map(_.recallPpm)
    assert(byGrid.zip(byGrid.tail).forall { case (a, b) => a <= b },
      s"a longer shortlist is a superset before an exact rerank: $measured")
    assert(measured.last.recallPpm == 1000000L,
      "a corpus-wide shortlist must audit exact")
    assert(chosen.isDefined && chosen.get.recallPpm >= 700000L)
    assert(measured.filter(_.recallPpm >= 700000L)
      .minBy(_.shortlist).shortlist == chosen.get.shortlist,
      "chosen must be the cheapest passing grid point")
    val (none, _) = SimilarityOps.tuneShortlist(emb, pred,
      recallSlo = 1.1, grid = Seq(10, 50))
    assert(none.isEmpty, "an unmeetable SLO must return None")
    val (noQueries, empty) = SimilarityOps.tuneShortlist(emb, lit(false),
      recallSlo = 0.7, grid = Seq(10, 50))
    assert(noQueries.isEmpty && empty.size == 2 && empty.forall(_.recallPpm == 0L),
      s"an empty query set audits nothing: 0 ppm, not a throw ($empty)")
  }

  test("recall@10 at the default shortlist, measured") {
    val served = SimilarityOps.bqTopK(emb, pred, k = 10)
      .select("q_id", "n_id")
    val truth = bruteDotTopK(10).select("q_id", "n_id")
    val hits = served.intersect(truth).count()
    val total = truth.count()
    info(f"bq recall@10 = ${hits.toDouble / total}%.2f ($hits/$total)")
    // 1 bit/dim is the harshest quantizer in the ladder; on the
    // isotropic synthetic corpus anything clearly above chance
    // (10/500) demonstrates the signal survives the sign cut
    assert(hits.toDouble / total > 0.10)
  }
}
