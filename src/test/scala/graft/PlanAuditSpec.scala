package graft

import scala.util.Try
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audit: the physical plans the engine ships are asserted,
  * not hoped for — broadcasts where a side is small, pushdown/pruning
  * reaching the parquet scan, no accidental cartesians in the pairwise
  * ops. Failures here mean a future edit silently degraded a plan. */
class PlanAuditSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  // Plan assertions need a PINNED context: getOrCreate may return a
  // root session another suite built with different creation options
  // (GeodesicJoinRuleSpec / VecSimJoinRuleSpec register GraftExtensions
  // and disable broadcast — observed as intended-broadcast non-equi
  // joins degenerating to CartesianProduct in the sweep, and the
  // theta-join rules re-gridding the analyzer's own distance join).
  // newSession + explicit confs (incl. PinnedConfs' excludedRules for
  // the injected optimizer rules) makes every test order-independent.
  lazy val spark: SparkSession = {
    val root = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val s = root.newSession()
    graft.tools.PlanDump.PinnedConfs.foreach { case (k, v) => s.conf.set(k, v) }
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  private def plan(name: String): String = {
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
  }

  // The two suite-wide sweeps audit the same plans: each query's
  // QueryExecution is built once, on first use, and both read its
  // (memoized) executedPlan / sparkPlan instead of re-planning all
  // queries a second time.
  private lazy val sweep: Seq[(String, Try[QueryExecution])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> Try(fn(spark, sf).queryExecution)
    }

  test("q1_pricing: column pruning reaches the lineitem scan") {
    val p = plan("q1_pricing")
    val scan = p.linesIterator.find(_.contains("FileScan parquet")).get
    // needs 5 columns; the 16-column lineitem table must not be read whole
    assert(scan.contains("l_returnflag") && scan.contains("l_quantity"))
    assert(!scan.contains("l_comment") && !scan.contains("l_shipmode"),
      s"unpruned scan: $scan")
  }

  test("join_q5_region: small dims broadcast, no cartesian") {
    val p = plan("join_q5_region")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("filter pushdown reaches the parquet scan (date filter)") {
    val p = plan("join_q3_revenue")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("IsNotNull")), p)
  }

  test("sample_uniform_k: ORDER BY hash LIMIT k plans as TakeOrderedAndProject") {
    // per-partition top-k + driver merge of k-row partials — never a
    // global sort (the difference between O(n log k) per partition and
    // a full range-shuffle at corpus scale)
    val p = plan("sample_uniform_k")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"global sort leaked in:\n$p")
  }

  test("dedup_lsh_pairs: band join is an equi-join, not a cartesian") {
    val p = plan("dedup_lsh_pairs")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"band join must be keyed:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in LSH join:\n$p")
  }

  test("sim_topk: corpus side is broadcast (queries x corpus stays narrow)") {
    val p = plan("sim_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected broadcast for the corpus side:\n$p")
  }

  test("asof join: single shuffle, no join node at all") {
    val p = plan("asof_purchase_click")
    assert(!p.contains("Join"), s"asof must not contain a join:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"asof should shuffle once, saw $exchanges:\n$p")
  }

  test("txt ops: single scan, no shuffle (narrow pipeline)") {
    val p = plan("txt_token_stats")
    assert(!p.contains("Exchange"), s"token stats must be shuffle-free:\n$p")
  }

  test("source_partitioned_pruning: the scan prunes to one partition dir") {
    val p = plan("source_partitioned_pruning")
    val scan = p.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("PartitionFilters")).getOrElse(p)
    assert(scan.contains("event_type = purchase") ||
      p.contains("PartitionFilters: [isnotnull(event_type"),
      s"partition filter must reach the scan:\n$p")
  }

  test("join_shuffle_hash_hint: the hint wins over broadcast/sort-merge") {
    val p = plan("join_shuffle_hash_hint")
    assert(p.contains("ShuffledHashJoin"), s"hint must force shuffle-hash:\n$p")
  }

  test("committed plans (top-10 expensive + 9 pipe_* fixture stages) match regeneration") {
    // fixtures/plans/*.txt are written by graft.tools.PlanDump and
    // committed; regenerating them here means a plan regression (lost
    // broadcast, extra exchange, dropped pushdown) fails CI and shows
    // up as a git diff on the committed artifact — refresh with
    //   sbt "runMain graft.tools.PlanDump [names...]"
    // after an INTENTIONAL plan change. Isolated newSession with every
    // plan-relevant conf pinned from PlanDump.PinnedConfs: newSession
    // inherits the ROOT session's creation options, and earlier suites
    // may have rebuilt the root with e.g. broadcast disabled
    // (GeodesicJoinRuleSpec) — observed as a broadcast→SMJ flip here.
    val s2 = spark.newSession()
    graft.tools.PlanDump.PinnedConfs.foreach { case (k, v) => s2.conf.set(k, v) }
    // the cache manager is SHARED across sessions of one SparkContext:
    // any earlier suite that .cache()'d a testdata table (TuneIvfSpec,
    // MmrSpec, ...) would otherwise splice InMemoryRelation into the
    // regenerated plans here — observed as a suite-ORDER-dependent
    // "Scan parquet → InMemoryTableScan" drift. Dropping the cache
    // only costs those suites a recompute.
    s2.sharedState.cacheManager.clearCache()
    // every audited plan is compared; drifts and build failures are
    // collected and reported together, so one query that cannot be
    // planned (e.g. a missing input file) hides none after it
    val problems = graft.tools.PlanDump.Audited.flatMap { name =>
      val committed = java.nio.file.Paths.get(
        graft.tools.PlanDump.PlansDir, s"$name.txt")
      if (!java.nio.file.Files.exists(committed))
        Some(s"missing committed plan for $name — run graft.tools.PlanDump $name")
      else scala.util.Try(graft.tools.PlanDump.normalizedPlan(s2, name)) match {
        case scala.util.Failure(e) => Some(s"$name failed to plan: $e")
        case scala.util.Success(got) =>
          val want = java.nio.file.Files.readString(committed)
          if (got == want) None
          else {
            val diff = want.linesIterator.zipAll(got.linesIterator, "<EOF>", "<EOF>")
              .zipWithIndex.find { case ((w, g), _) => w != g }
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"/tmp/plan_drift_$name.txt"), got)
            Some(s"plan drift for $name at line ${diff.map(_._2)}: " +
              s"committed=${diff.map(_._1._1)} regenerated=${diff.map(_._1._2)} " +
              s"(full regenerated plan: /tmp/plan_drift_$name.txt)")
          }
      }
    }
    assert(problems.isEmpty, problems.mkString(
      s"${problems.size} of ${graft.tools.PlanDump.Audited.size} audited plans " +
        "do not match (if intentional, refresh with graft.tools.PlanDump <names> " +
        "and commit):\n", "\n", ""))
  }

  test("plan fingerprint is session-stable on scalar-subquery plans") {
    // Round-5 instability, two independent causes, both fixed:
    //  1. hashing `canonicalized.toString` — canonicalization reorders
    //     commutative comparisons by expression hashCode, which embeds
    //     ExprId.jvmId (a RANDOM per-JVM UUID), so `a > subquery`
    //     rendered as `(subquery < a)` or `(a > subquery)` per JVM.
    //     Fixed by hashing the plan's own toString with exprIds masked.
    //  2. the 100-char scan-metadata truncation cut DataFilters at a
    //     point that shifts with exprId DIGIT WIDTH (a session
    //     counter). Fixed by pinning spark.sql.maxMetadataStringLength
    //     high in every fingerprinting session (PlanDump/Bench).
    // Here: fingerprint the 4 affected queries in two fresh sessions
    // with the exprId counter deliberately advanced in between; text
    // and hash must match, and no volatile token may survive masking.
    val names = Seq("q15_top_supplier", "subquery_above_avg",
      "q19_brandqty", "q17_small_qty")
    def inFreshSession(): Map[String, String] = {
      val s = spark.newSession()
      graft.tools.PlanDump.PinnedConfs.foreach { case (k, v) => s.conf.set(k, v) }
      names.map(n => n -> graft.tools.PlanFingerprint.textOf(
        SparkEntry.queries(n)(s, sf))).toMap
    }
    val first = inFreshSession()
    // advance exprId/plan_id counters the way a long bench run does
    SparkEntry.queries.keys.toSeq.sorted.filterNot(names.contains).take(25)
      .foreach { n =>
        try SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan
        catch { case _: Throwable => () }
      }
    val second = inFreshSession()
    names.foreach { n =>
      assert(first(n) == second(n),
        s"$n fingerprint text drifted between fresh sessions:\n" +
          first(n).linesIterator.zipAll(second(n).linesIterator, "<EOF>", "<EOF>")
            .find { case (a, b) => a != b }.mkString("\n"))
      // mask completeness: any raw session counter or identity hash
      // left in the text would reintroduce cross-run churn
      val volatileToken = "#\\d+|plan_id=\\d+|@[0-9a-f]{6,}|\\$Lambda\\$\\d+|RDD\\[\\d+\\]".r
      val leaked = volatileToken.findFirstIn(first(n))
      assert(leaked.isEmpty, s"unmasked volatile token in $n: $leaked")
      // truncation-free: a '...' inside scan metadata means the
      // maxMetadataStringLength pin is not reaching this session
      assert(!first(n).linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("..., ")),
        s"truncated scan metadata in $n — maxMetadataStringLength not pinned")
    }
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      // force the shuffle-join path and drop the probe-side size gate so
      // the injection fires at test scale; at real scale the defaults
      // (10 GB probe side) target exactly the 100 TB case
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_totalprice") > 400000)
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected a bloom-filter runtime filter on the probe side:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  // Every query in the suite, one sweep: a cartesian product anywhere is
  // a 100 TB death sentence, and a nested-loop join is only acceptable
  // where one side is a deliberately-broadcast small relation.
  test("suite-wide: no cartesian products; nested loops only where intended") {
    // intentional BroadcastNestedLoopJoin / cross shapes:
    //  - sim_topk / sim_ivf_topk: corpus x broadcast(tiny filtered set)
    //    (non-equi or all-centroid condition, small side broadcast)
    //  - pipe_totals / pipe_effective_length / agg_heavy_hitters:
    //    crossJoin of 1-ROW aggregates — depending on inherited session
    //    conf these plan as BroadcastNestedLoopJoin or CartesianProduct;
    //    both are scalar x scalar and irrelevant at any scale
    //  - join_bloom_prefilter: fact x broadcast(1-ROW bloom aggregate)
    //    — the runtime-filter scalar attach; BloomPrefilterSpec pins
    //    that the bit-test still lands below the fact-side exchange
    //  - skyline_parts: phase-2 dominance anti-join IS a deliberate
    //    BNLJ — the probe side is the frontier-sized candidate set
    //    (broadcast), and dominance is inherently non-equi
    //  - agg_kmv_ops: crossJoin of two 1-ROW frames (sketch algebra x
    //    exact anchors), scalar x scalar like pipe_totals
    //  - emb_semdedup: corpus x broadcast(K centroids) assignment —
    //    the same all-centroid shape as sim_ivf_topk's assign step
    //  - dedup_incr_bloom: history x broadcast(1-ROW bloom aggregate),
    //    the join_bloom_prefilter scalar attach on the anti-join's
    //    archive side
    // sim_radius_search shares sim_ivf_topk's candidate front end
    // (corpus x broadcast(K centroids) assignment + probe ranking)
    // sim_filtered_topk is the ivf_topk idiom with a narrow label
    // predicate on the assignment side — same deliberate crosses
    val allowNested = Set("sim_topk", "sim_ivf_topk", "sim_radius_search",
      "sim_filtered_topk",
      "join_bloom_prefilter",
      "skyline_parts", "emb_semdedup", "dedup_incr_bloom",
      // mix_cluster_cap / serve_index_build / serve_index_append reuse
      // emb_semdedup's corpus x broadcast(K centroids) assignment front
      // end; emb_semdedup_recall additionally pays the exhaustive
      // all-pairs audit arm on the bounded count-driven subsample
      "mix_cluster_cap", "serve_index_build", "serve_index_append",
      "emb_semdedup_recall",
      // PQ/RQ/SQ: the 1-row codebook crossJoin and the queries-broadcast
      // ADC join (q_id != n_id) are both deliberate broadcast-NLJ
      // shapes (RQ's and SQ8's integer-ADC scans are the same idiom)
      "sim_pq_topk", "sim_rq_topk", "sim_sq_topk",
      // the binary-quantization rung: same broadcast-query-codes
      // Hamming scan + bounded rerank idiom as the SQ/PQ members
      "sim_bq_topk", "sim_bq_recall",
      // multi-probe assignment scores every vector against the
      // broadcast K-centroid table (the ivf_topk idiom); DSIR scoring
      // rides a 1-row broadcast weight-array crossJoin
      "emb_knn_graph", "emb_hard_negatives", "curate_dsir_select",
      "sim_ivfpq_topk",
      // graph serve: the kNN-graph build's broadcast K-centroid
      // assignment cross, plus the seed step's bounded
      // K-entry-nodes x |Q|-query-batch cross; the recall twin adds
      // the usual exhaustive audit arm on the bounded batch
      "sim_graph_topk", "sim_graph_recall",
      // layered graph rung: the entry step scores the BOUNDED entry
      // table (top-layer members, sized by the depth knob, plus the
      // 8-row fallback) against the |Q|-query batch — a deliberate
      // bounded cross, the flat rung's seed idiom; the recall twin
      // adds the usual exhaustive audit arm on the bounded batch, and
      // the append's insert search pays the same entry cross
      "sim_graph_layered_topk", "sim_graph_layered_recall",
      "serve_graph_index_layered_append", "sim_graph_layered_filtered_topk",
      // the self-measuring recall audits COMPARE against the exhaustive
      // estimator, so the brute-force side (corpus x broadcast queries /
      // all-pairs d1 < d2) is the deliberate audit cost — paid on the
      // sampled audit set only, never the serving path
      "sim_ivf_recall", "sim_neardup_recall", "sim_rq_recall",
      "sim_sq_recall",
      // the MRR ranking audit's truth side is the same bounded-batch
      // exhaustive scan the recall audits pay
      "sim_serving_mrr",
      // the nDCG audit pays the identical truth-side scan
      "sim_serving_ndcg",
      // Matryoshka serving: stage 1 is the corpus × broadcast-queries
      // prefix-kernel scan (the sim_topk idiom at 1/4 the arithmetic);
      // the truncation audit runs one such scan per prefix width
      "sim_adaptive_topk", "sim_mrl_recall",
      // MMR reranks the brute-force top-C shortlist (the sim_topk
      // corpus × broadcast-queries idiom feeds it); the greedy rounds
      // themselves are keyed small-frame joins
      "sim_mmr_topk",
      // hybrid RRF's vector arm IS the sim_topk brute-force shape
      // (1-query broadcast); the fusion joins two ≤k-row lists
      "sim_hybrid_rrf",
      // the query router reuses the ivf_topk idiom twice: corpus ×
      // broadcast(K centroids) for the cell-size manifest, bounded
      // query batch × broadcast centroids for the probe ranking
      "serve_query_router",
      // the shard balancer's manifest derivation is the same
      // deliberate corpus × broadcast(K centroids) assignment cross
      "serve_shard_plan")
    val allowCross = Set("pipe_totals", "pipe_effective_length",
      "agg_heavy_hitters", "agg_kmv_ops")
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    sweep.foreach { case (name, qe) =>
      val p = qe.map(_.executedPlan.toString).recover {
        case e => failures += s"$name: plan failed: ${e.getMessage}"; ""
      }.get
      if (!allowCross(name) && p.contains("CartesianProduct"))
        failures += s"$name: CartesianProduct"
      if (!(allowNested(name) || allowCross(name)) && p.contains("BroadcastNestedLoopJoin"))
        failures += s"$name: unexpected BroadcastNestedLoopJoin"
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  // A Window with an EMPTY partitionSpec single-threads its whole input
  // through one task — a 100 TB death sentence unless the frame is
  // aggregate-sized by construction. Queries that legitimately need a
  // global cumulative/rank run it over a bounded frame and partition by
  // a literal instead (sim_hybrid_rrf's ≤2k-row fusion lists), or are
  // allowlisted here with the bound stated.
  test("suite-wide: no unpartitioned window in any query plan") {
    import org.apache.spark.sql.execution.window.WindowExec
    // every legitimate bounded global frame (hybrid-RRF fusion lists,
    // DSIR/drift bucket totals, temperature-mix group rates, the
    // perceptron PR curve, KmlSource's per-file offsets) runs through
    // WindowUtil.boundedGlobal, whose non-foldable constant key states
    // the bound in the plan — so an EMPTY partitionSpec here can only
    // be an accidental corpus-sized global window
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    sweep.foreach { case (name, qe) =>
      val bad = qe.map(_.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w.nodeName
      }).getOrElse(Nil) // plan failures caught above
      if (bad.nonEmpty)
        failures += s"$name: ${bad.size} unpartitioned Window node(s)"
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
