package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SimilarityOps

/** ANN quality: the IVF path trades recall for candidate-set size; both
  * are measured here against the brute-force baseline (the quantities
  * the DuckDB hash-compare can't express). */
class SimilarityOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // shared across the IVF tests: the brute-force truth set (the most
  // expensive job here — computed once per suite) and the recall of a
  // given centroid choice against it
  private lazy val emb = {
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.t(spark, "/root/testdata/sf0.01", "embeddings")
  }
  private val pred = col("vec_id") % 100 === 0
  private lazy val exact = SimilarityOps.bruteForceTopK(emb, pred)
    .select(col("q_id"), col("n_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  private def ivfSet(cents: Option[org.apache.spark.sql.DataFrame]) =
    SimilarityOps.ivfTopK(emb, pred,
        nCentroids = SimilarityOps.IvfCentroids, nProbe = SimilarityOps.IvfProbe,
        centroids = cents)
      .select(col("q_id"), col("n_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  private lazy val sampledSet = ivfSet(None)
  private def recallOf(s: Set[(Long, Long)]) = s.intersect(exact).size.toDouble / exact.size

  test("IVF top-10 recall vs brute force >= 0.8 at the driver-query params") {
    val recall = recallOf(sampledSet)
    val scanned = SimilarityOps.IvfProbe.toDouble / SimilarityOps.IvfCentroids
    info(f"IVF recall@10 = $recall%.3f scanning ~${scanned * 100}%.0f%% of the corpus " +
      f"(nProbe=${SimilarityOps.IvfProbe} of ${SimilarityOps.IvfCentroids} cells)")
    // isotropic random embeddings are the worst case for coarse
    // quantization — recall ≈ scanned fraction + quantization uplift
    assert(recall >= 0.8, f"recall $recall%.3f")
    assert(sampledSet.size == exact.size, "same result cardinality (k per query)")
  }

  test("radiusSearch: every row clears tau; agrees with ivfTopK on the " +
    "probed cells (any top-k row at >= tau is in the radius set, and any " +
    "radius row reachable at k is in top-k); partitioning-invariant") {
    val tauU = 250000L
    val radius = SimilarityOps.radiusSearch(emb, pred, tauU = tauU)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(radius.nonEmpty)
    assert(radius.forall(_._3 >= tauU), "tau is a hard floor")
    val radiusSet = radius.map(r => (r._1, r._2)).toSet
    // same probe conventions as ivfTopK: the two answers must agree on
    // their overlap region
    val topk = SimilarityOps.ivfTopK(emb, pred,
        nCentroids = SimilarityOps.IvfCentroids, nProbe = SimilarityOps.IvfProbe)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(3) * 1e6)))
    topk.filter(_._3 >= tauU).foreach { case (q, n, s) =>
      assert(radiusSet.contains((q, n)),
        s"top-k row ($q,$n,$s) clears tau but is missing from the radius set")
    }
    // fates are pure functions of content
    val b = SimilarityOps.radiusSearch(emb.repartition(7), pred, tauU = tauU)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(b == radius.toSet)
  }

  test("graphTopK: dense ranks, no self hits, <=k rows per query; recall " +
    "measured across beam widths (monotone in practice at 3 hops); " +
    "partitioning-invariant") {
    val res = SimilarityOps.graphTopK(emb, pred).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(res.nonEmpty)
    assert(res.forall(r => r._1 != r._2), "no self hit")
    res.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1L to rows.length).toSeq,
        s"ranks dense for query $q")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-_).toSeq,
        s"sims non-increasing for query $q")
      assert(rows.length <= 10)
    }
    // At ONE beam level, top-B of a total order is a prefix, so a
    // larger beam visits a superset. At GraphHops > 2 the LATER beams
    // rank DIFFERENT candidate sets per width (beam-8's hop-2 set is
    // larger than beam-4's), so strict beam-monotonicity is no longer
    // an invariant — it is measured, and the assertion below only
    // requires that a doubled beam does not COLLAPSE recall (the
    // regression a broken visited-set union would cause), not that it
    // never dips by a boundary node.
    def hitSet(beam: Int) = SimilarityOps.graphTopK(emb, pred, beam = beam)
      .select(col("q_id"), col("n_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val g4 = hitSet(SimilarityOps.GraphBeam)
    val g8 = hitSet(2 * SimilarityOps.GraphBeam)
    val rec4 = g4.intersect(exact).size.toDouble / exact.size
    val rec8 = g8.intersect(exact).size.toDouble / exact.size
    info(f"graph recall@10 = $rec4%.3f (beam ${SimilarityOps.GraphBeam}), " +
      f"$rec8%.3f (beam ${2 * SimilarityOps.GraphBeam}) — " +
      "isotropic random corpus, the graph-navigation worst case")
    assert(g4.intersect(exact).nonEmpty, "finds at least one true neighbor")
    assert(rec8 >= rec4 * 0.9,
      "a doubled beam must not collapse recall (allowing boundary dips " +
        "— beam-monotonicity is not an invariant at 3 hops)")
    val b = SimilarityOps.graphTopK(emb.repartition(7), pred).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(b == res.toSet, "fates are pure functions of content")
  }

  test("tuneGraph: measures the whole beam grid; returns the " +
    "cheapest beam meeting the SLO, or None for an impossible SLO") {
    val (chosen, measured) = SimilarityOps.tuneGraph(emb, pred,
      recallSlo = 0.01)
    info(measured.map(m =>
      f"beam ${m.beam}%2d: recall ${m.recallPpm / 1e6}%.3f, " +
        f"${m.visitRows} visit rows").mkString("; "))
    assert(measured.map(_.beam) == SimilarityOps.DefaultBeamGrid)
    // no strict monotone assertion: at 3 hops later beams rank
    // different candidate sets per width (see graphTopK spec); the
    // grid's ENDS must still order — a wide beam beating the narrow
    // one is what makes the knob a knob
    assert(measured.last.recallPpm >= measured.head.recallPpm,
      s"widest beam must not trail the narrowest, got ${measured.mkString(", ")}")
    assert(measured.forall(m => m.recallPpm >= 0L && m.recallPpm <= 1000000L))
    assert(chosen.nonEmpty && chosen.get.beam ==
      measured.filter(_.recallPpm >= 10000L).map(_.beam).min,
      "cheapest passing beam (visitRows is monotone in beam)")
    val (none, all) = SimilarityOps.tuneGraph(emb, pred, recallSlo = 1.01)
    assert(none.isEmpty && all.length == SimilarityOps.DefaultBeamGrid.length,
      "an impossible SLO returns None, never silent best-effort")
    val (noQueries, empty) = SimilarityOps.tuneGraph(emb, lit(false),
      recallSlo = 0.01, grid = Seq(2, 4))
    assert(noQueries.isEmpty && empty.size == 2 && empty.forall(_.recallPpm == 0L),
      s"an empty query set audits nothing: 0 ppm, not a throw ($empty)")
  }

  test("graphRecall: per-query audit rows recompose to the set-level recall " +
    "of graphTopK vs bruteForceTopK") {
    val rows = SimilarityOps.graphRecall(emb, pred).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val served = SimilarityOps.graphTopK(emb, pred)
      .select(col("q_id"), col("n_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(_._2).sum == exact.size, "n_exact totals the truth set")
    assert(rows.map(_._3).sum == served.intersect(exact).size,
      "n_hit totals the served-truth intersection")
    rows.foreach { case (q, nExact, nHit, ppm) =>
      assert(ppm == nHit * 1000000L / math.max(nExact, 1L), s"ppm exact for $q")
    }
  }

  test("filteredTopK: every hit matches the predicate with dense ranks; " +
    "pre-filtering is the true top-k of the eligible subset — " +
    "post-filtering ivfTopK returns a strict subset") {
    val filtered = SimilarityOps.filteredTopK(emb, pred).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(filtered.nonEmpty)
    assert(filtered.forall(_._3 % SimilarityOps.FilterLabelMod == 0),
      "the metadata predicate holds on every returned row")
    filtered.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq,
        s"dense ranks for query $q")
    }
    val labels = emb.select(col("vec_id"), col("label").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val post = SimilarityOps.ivfTopK(emb, pred,
        nCentroids = SimilarityOps.IvfCentroids, nProbe = SimilarityOps.IvfProbe)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => labels(p._2) % SimilarityOps.FilterLabelMod == 0).toSet
    val pre = filtered.map(r => (r._1, r._2)).toSet
    assert(post.subsetOf(pre), "post-filtering can only lose results")
    assert(post.size < pre.size,
      s"and here it demonstrably does: ${post.size} post vs ${pre.size} pre")
  }

  test("k-means-trained IVF centroids: recall at the same nProbe does not regress") {
    val sampled = recallOf(sampledSet)
    val trained = recallOf(ivfSet(Some(
      SimilarityOps.kmeansCentroids(emb, k = SimilarityOps.IvfCentroids, iters = 3))))
    info(f"IVF recall: sampled centroids $sampled%.3f vs 3-iter k-means $trained%.3f")
    // Lloyd iterations can only improve the quantizer's fit to the
    // corpus; allow a hair of slack for cell-boundary reshuffling
    assert(trained >= sampled - 0.02, f"trained $trained%.3f vs sampled $sampled%.3f")
    assert(trained >= 0.8)
  }

  test("near-dup LSH finds all true near-duplicates (cos >= 0.98) at scale params") {
    import spark.implicits._
    // 60 base vectors + a lightly perturbed copy of each: cos ≈ 0.995.
    // Deterministic LCG so the test is stable.
    def lcg(seed: Long): Iterator[Double] =
      Iterator.iterate(seed)(s => (s * 6364136223846793005L + 1442695040888963407L))
        .map(s => ((s >>> 11).toDouble / (1L << 53).toDouble) - 0.5)
    val rows: Seq[(Long, Array[Float])] = (0 until 60).flatMap { i =>
      val base: Array[Double] = lcg(i * 7919L + 1).take(64).toArray
      val noise: Array[Double] = lcg(i * 104729L + 2).take(64).toArray
      val pert: Array[Float] =
        base.indices.map(j => (base(j) + 0.03 * noise(j)).toFloat).toArray
      Seq((i.toLong, base.map(_.toFloat)), (i.toLong + 1000L, pert))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val found = SimilarityOps.nearDupPairs(emb, tau = 0.98) // scale default: 8 bands x 16 bits
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truePairs = SimilarityOps.nearDupPairsExact(emb, tau = 0.98)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = if (truePairs.isEmpty) 1.0
      else found.intersect(truePairs).size.toDouble / truePairs.size
    info(f"near-dup LSH recall at cos>=0.98 = $recall%.3f (${found.size}/${truePairs.size} pairs)")
    assert(truePairs.size >= 50, s"perturbation should keep most planted pairs (${truePairs.size})")
    assert(recall >= 0.9, f"recall $recall%.3f")
    assert(found.subsetOf(truePairs), "exact rerank admits no false positives")
  }

  test("hashed planes give near-uniform buckets; LCG planes are correlated") {
    val emb = graft.Tables.t(spark, "/root/testdata/sf0.01", "embeddings")
    val lcg = SimilarityOps.lshBuckets(emb)
      .select("bucket").distinct().count()
    val hashed = SimilarityOps.lshBucketsHashed(emb)
      .select("bucket").distinct().count()
    // 500 vectors over 256 buckets: independent planes fill most of the
    // space; the LCG's linear structure collapses it to a handful
    assert(hashed > 100, s"hashed planes should spread (saw $hashed/256)")
    assert(lcg < 64, s"documenting the LCG correlation (saw $lcg/256)")
  }

  test("kmeansFixed: separated groups converge to exact fixed-point group " +
    "means; rerun is bit-identical") {
    import spark.implicits._
    // two tight groups around (1,0) and (0,1); init = first 2 vec_ids,
    // one from each group, so Lloyd separates them in round 1
    val g1 = Seq(0L -> Array(1.00f, 0.01f), 2L -> Array(0.98f, 0.02f),
      4L -> Array(1.02f, 0.00f))
    val g2 = Seq(1L -> Array(0.01f, 1.00f), 3L -> Array(0.02f, 0.98f),
      5L -> Array(0.00f, 1.02f))
    val emb = (g1 ++ g2).toDF("vec_id", "embedding")
    def run() = SimilarityOps.kmeansFixed(emb, k = 2, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val got = run()
    // exact fixed-point means with truncating div: group 1 dim 1 =
    // (1000000+979999+1020000)/3 — quantization floors 0.98f's double
    def q(x: Float): Long = math.floor(x.toDouble * 1e6).toLong
    def mean3(a: Float, b: Float, c: Float): Long = (q(a) + q(b) + q(c)) / 3
    assert(got((0L, 1L)) == ((mean3(1.00f, 0.98f, 1.02f), 3L)))
    assert(got((0L, 2L)) == ((mean3(0.01f, 0.02f, 0.00f), 3L)))
    assert(got((1L, 1L)) == ((mean3(0.01f, 0.02f, 0.00f), 3L)))
    assert(got((1L, 2L)) == ((mean3(1.00f, 0.98f, 1.02f), 3L)))
    assert(run() == got, "fixed-point training must be bit-deterministic")
  }

  test("ivfRecall: probing every cell yields recall 1.0 for all queries " +
    "(exhaustive IVF ≡ brute force); default probe stays within [0,1]") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val full = SimilarityOps.ivfRecall(emb, col("vec_id") % 50 === 0,
      nCentroids = SimilarityOps.IvfCentroids,
      nProbe = SimilarityOps.IvfCentroids)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(full.nonEmpty)
    full.foreach { case (q, ppm) =>
      assert(ppm == 1000000L, s"exhaustive probe must be exact: q=$q ppm=$ppm")
    }
    val part = SimilarityOps.ivfRecall(emb, col("vec_id") % 50 === 0)
      .collect().map(r => r.getLong(3))
    assert(part.forall(p => p >= 0L && p <= 1000000L))
  }

  test("servingMrr: exhaustive probing ranks the true neighbor first for every " +
    "query; partial probing stays in [0, 1e6] and misses score exactly 0") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val full = SimilarityOps.servingMrr(emb, col("vec_id") % 50 === 0,
      nCentroids = SimilarityOps.IvfCentroids,
      nProbe = SimilarityOps.IvfCentroids).collect()
    assert(full.nonEmpty)
    full.foreach { r =>
      assert(r.getLong(2) == 1L && r.getLong(3) == 1000000L,
        s"exhaustive IVF ≡ brute force, so the truth must rank 1: $r")
    }
    val part = SimilarityOps.servingMrr(emb, col("vec_id") % 50 === 0).collect()
    part.foreach { r =>
      val (rank, rr) = (r.getLong(2), r.getLong(3))
      assert(rank >= 0L && rr >= 0L && rr <= 1000000L)
      assert(if (rank == 0L) rr == 0L else rr == 1000000L / rank,
        s"rr must be exactly the integer reciprocal of the rank: $r")
    }
  }

  test("servingNdcg: exhaustive probing scores exactly 1e6 everywhere; " +
    "partial probing replays the integer discount arithmetic locally") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pred = col("vec_id") % 50 === 0
    val full = SimilarityOps.servingNdcg(emb, pred,
      nCentroids = SimilarityOps.IvfCentroids,
      nProbe = SimilarityOps.IvfCentroids).collect()
    assert(full.nonEmpty)
    full.foreach { r =>
      assert(r.getLong(2) == r.getLong(1) && r.getLong(5) == 1000000L,
        s"exhaustive IVF ≡ brute force ⇒ every truth hit at its own rank: $r")
    }
    // partial probing: recompute DCG from the served+truth frames with
    // the same integer milli-log2 discounts
    def l2m(n: Long): Long = {
      val b = 64 - java.lang.Long.numberOfLeadingZeros(n)
      1000L * (b - 1) + ((n * 1000L) >> (b - 1)) - 1000L
    }
    val truth = SimilarityOps.bruteForceTopK(emb, pred, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = SimilarityOps.ivfTopK(emb, pred, 10,
        SimilarityOps.IvfCentroids, SimilarityOps.IvfProbe).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val wantDcg = served.filter(s => truth((s._1, s._2)))
      .groupBy(_._1)
      .map { case (q, rows) =>
        q -> rows.map(s => 1000000000L / l2m(s._3 + 1)).sum
      }
    val part = SimilarityOps.servingNdcg(emb, pred).collect()
    part.foreach { r =>
      val (q, nRel, dcg, idcg, ndcg) =
        (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(dcg == wantDcg.getOrElse(q, 0L), s"dcg replay mismatch for q=$q")
      assert(idcg == (1L to nRel).map(rk => 1000000000L / l2m(rk + 1)).sum)
      assert(ndcg == dcg * 1000000L / math.max(idcg, 1L))
      assert(ndcg >= 0L && ndcg <= 1000000L)
    }
  }

  test("adaptiveTopK: full-width prefix + corpus-sized shortlist reproduces " +
    "bruteForceTopK exactly; narrow prefix keeps ranks/sims well-formed") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val n = emb.count().toInt
    val pred = col("vec_id") % 50 === 0
    val exact = SimilarityOps.bruteForceTopK(emb, pred, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = SimilarityOps.adaptiveTopK(emb, pred, k = 10,
      prefixDim = dim, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == exact,
      "full-width prefix with an unbounded shortlist must be the exact ranking")
    val narrow = SimilarityOps.adaptiveTopK(emb, pred).collect()
    assert(narrow.nonEmpty)
    narrow.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val ranks = rows.map(_.getLong(2)).sorted
      assert(ranks.head == 1L && ranks.toSeq == (1L to ranks.length).toSeq,
        s"ranks must be dense from 1 for q=$q")
      val byRank = rows.sortBy(_.getLong(2)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"rerank sims must be non-increasing for q=$q")
    }
  }

  test("mrlRecall: a full-width prefix arm has recall exactly 1.0 per query; " +
    "every arm stays in [0, 1e6] and ppm is the exact integer ratio") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val pred = col("vec_id") % 50 === 0
    val full = SimilarityOps.mrlRecall(emb, pred, prefixDims = Seq(dim)).collect()
    assert(full.nonEmpty)
    full.foreach { r =>
      assert(r.getLong(4) == 1000000L,
        s"prefix = full width ⇒ identical ranking ⇒ recall 1.0: $r")
    }
    val arms = SimilarityOps.mrlRecall(emb, pred).collect()
    assert(arms.map(_.getLong(1)).distinct.sorted.toSeq == Seq(4L, 8L, 16L, 32L))
    arms.foreach { r =>
      val (nx, nh, ppm) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nh >= 0L && nh <= nx)
      assert(ppm == nh * 1000000L / math.max(nx, 1L),
        s"ppm must be the exact integer ratio: $r")
    }
  }

  test("nearDupRecall: exact dups (hi band) recall 1.0 — identical bytes " +
    "share every band key; recall never exceeds 1.0 anywhere") {
    import spark.implicits._
    val base = Array.tabulate(64)(i => math.sin(i * 0.7).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.001f // cos ≈ 1 → hi band
    val far = Array.tabulate(64)(i => math.cos(i * 1.3).toFloat)
    val rows = Seq(1L -> base, 2L -> base, 3L -> near, 4L -> far)
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.nearDupRecall(rows)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    // identical/near-identical vectors have identical sign patterns on
    // every hyperplane → all their band keys collide → found
    assert(got.contains("hi"))
    assert(got("hi")._2 == 1000000L, s"exact dups must be found: $got")
    got.values.foreach { case (n, ppm) =>
      assert(n > 0 && ppm <= 1000000L)
    }
  }

  test("rqEncode: two-scale structure is captured — level 1 learns the " +
    "coarse centers, level 2 the shared offsets, reconstruction ≤ 1 ulp") {
    import spark.implicits._
    // centers A=(1,0)/B=(0,1), offsets ±(0.2,0), 2 copies each: level-1
    // means recover the centers exactly, residuals collapse to ±offset,
    // level-2 learns them — error bounded by the floor-quantization ulp
    val rows = Seq(
      0L -> Array(1.2f, 0.0f), 1L -> Array(0.2f, 1.0f),
      2L -> Array(0.8f, 0.0f), 3L -> Array(-0.2f, 1.0f),
      4L -> Array(1.2f, 0.0f), 5L -> Array(0.2f, 1.0f),
      6L -> Array(0.8f, 0.0f), 7L -> Array(-0.2f, 1.0f))
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.rqEncode(rows, k1 = 2, r1 = 2, k2 = 2, r2 = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.size == 8)
    got.foreach { case (id, (_, _, err)) =>
      assert(err <= 1L, s"vec $id err_sq $err exceeds the quantization ulp")
    }
    // c1 separates the A group (ids 0,2,4,6) from the B group
    val aC1 = Set(0L, 2L, 4L, 6L).map(got(_)._1)
    val bC1 = Set(1L, 3L, 5L, 7L).map(got(_)._1)
    assert(aC1.size == 1 && bC1.size == 1 && aC1 != bC1)
    // c2 separates +offset (0,1,4,5) from −offset (2,3,6,7)
    val posC2 = Set(0L, 1L, 4L, 5L).map(got(_)._2)
    val negC2 = Set(2L, 3L, 6L, 7L).map(got(_)._2)
    assert(posC2.size == 1 && negC2.size == 1 && posC2 != negC2)
  }

  test("rqTopK: shortlist covering the corpus ⇒ exact L2 top-k " +
    "(the rerank restores precision regardless of code coarseness)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count().toInt
    val pred = col("vec_id") % 50 === 0
    val full = SimilarityOps.rqTopK(emb, pred, k = 5, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // exact L2 top-5 reference from raw vectors, same sequential fold
    // and (dist, n_id) tie-break as the operator's rerank
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val qs = vecs.keys.filter(_ % 50 == 0)
    val ref = qs.flatMap { q =>
      vecs.keys.filter(_ != q).map { m =>
        val d = vecs(q).zip(vecs(m))
          .map { case (a, b) => (a.toDouble - b.toDouble) * (a.toDouble - b.toDouble) }
          .sum
        (q, m, d)
      }.toSeq.sortBy(t => (t._3, t._2)).take(5).zipWithIndex
        .map { case ((qq, mm, _), i) => (qq, mm, (i + 1).toLong) }
    }.toSet
    assert(full == ref,
      s"corpus-wide shortlist must equal exact L2 ranking\n got=$full\n ref=$ref")
  }

  test("kmeansOutliers: a far point flags, tight cluster members don't") {
    import spark.implicits._
    // two tight groups (the first two vec_ids seed the clusters) plus
    // one point far from both modes but nearest cluster 0
    val rows = Seq(
      0L -> Array(1.00f, 0.00f), 1L -> Array(0.00f, 1.00f),
      2L -> Array(0.99f, 0.01f), 3L -> Array(0.01f, 0.99f),
      4L -> Array(1.01f, 0.00f), 5L -> Array(0.00f, 1.01f),
      9L -> Array(5.00f, 0.00f)) // the outlier
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.kmeansOutliers(rows, k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(4))).toMap
    assert(got(9L)._2 == 1L, s"far point must flag: $got")
    Seq(0L, 1L, 2L, 3L, 4L, 5L).foreach { id =>
      assert(got(id)._2 == 0L, s"tight member $id must not flag: $got")
    }
    // accounting: every vector assigned to some cluster in [0, k)
    assert(got.values.forall(v => v._1 == 0L || v._1 == 1L))
  }
}
