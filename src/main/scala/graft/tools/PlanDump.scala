package graft.tools

import org.apache.spark.sql.SparkSession

/** Committed-plan regression artifact (manual main): dumps the
  * normalized formatted physical plan of the TOP-10 most expensive
  * bench queries (by BENCH_FULL.json at sf0.1, round 4) to
  * `fixtures/plans/<name>.txt`, plus a `_fingerprints.txt` index of
  * [[PlanFingerprint]] lines. The files are committed; PlanAuditSpec
  * regenerates them in CI and fails on ANY drift — so a plan
  * regression (lost broadcast, new shuffle, dropped pushdown) shows up
  * as a reviewable git diff, not as an unexplained bench delta three
  * rounds later.
  *
  * Planning context is pinned (sf0.01, shuffle.partitions=4, AQE on,
  * broadcast threshold default) because plan CHOICE depends on stats;
  * the artifact captures the shape under the correctness-gate scale.
  */
object PlanDump {

  /** Top-10 of BENCH_r04 by wall time — the queries whose plans cost
    * the most if they silently regress. */
  val Audited: Seq[String] = Seq(
    "emb_dedup_keep", "dedup_cc_groups", "dedup_containment",
    "dedup_cc_keep", "rec_cte_tree", "q9_profit", "event_funnel",
    "layout_compact", "dedup_ngram_jaccard", "dq_profile",
    // round-6 additions in the same cost band, plus the bloom
    // runtime-filter whose PLAN (bit-test below the fact exchange)
    // is the operator's entire value
    "graph_triangles", "agg_quantile_sketch", "join_bloom_prefilter",
    // round-6 second wave: pagerank joins the cost band; kmv_ops'
    // plan must show the sketch path free of any distinct exchange
    "graph_pagerank", "agg_kmv_ops",
    // tier-(c) custom physical operator: the plan must keep showing
    // AsofJoinExec fed by exactly two ENSURE_REQUIREMENTS exchanges
    // + two sorts (EnsureRequirements owns the distributed contract)
    "asof_native_purchase_click",
    // round-8 bucketed layout: the plan (bucket-aware scans, SMJ with
    // zero exchanges below the join) is the operator's entire value
    "layout_bucket_join",
    // round-8 broadcast as-of: the plan (BroadcastExchange right, no
    // hash exchange, no sort, left untouched) is the operator's value,
    // and the fixture also pins that the UNHINTED strategy keeps
    // choosing broadcast at the audit scale
    "asof_bcast_purchase_click",
    // round-9 single-pass rewrite: the fixture pins that lineitem is
    // scanned ONCE (conditional agg + partkey window), not 3×
    "q20_excess_suppliers",
    // round-9 additions: winnowing joins the dedup cost band (the
    // fingerprint derivation must stay a NARROW projection — no gram
    // explode, no per-gram window shuffle); mix_upsample's plan value
    // is the absence of any exchange (pure map-side explode)
    "dedup_winnow_pairs", "mix_upsample",
    // round-9 second wave: both plans' value is what they DON'T do —
    // the budget window and the shard layout each move one narrow
    // hash exchange (no text through the shuffle, no global sort)
    "mix_token_budget", "export_shards",
    // round-9 third wave: txt_bm25's fixture pins the single-scan
    // zero-exchange shape (per-term HOF counts + TakeOrdered — a
    // regression to the explode/df-join form shows up as x>0);
    // dedup_incr_bloom's value is the bloom bit-test BELOW the
    // history-side distinct, ahead of the anti-join; emb_semdedup
    // must keep the pair join keyed on the cluster id (a lost key
    // degenerates to all-pairs); mix_temperature's window must stay
    // on the group-sized frame with the rate join broadcast
    "txt_bm25", "dedup_incr_bloom", "emb_semdedup", "mix_temperature",
    // round-9 fourth wave: sim_pq_topk's fixture pins the PQ serving
    // shape — zero-shuffle encode (corpus scan × broadcast 1-row
    // codebook), map-side ADC + partial top-k (one agg exchange), and
    // the rerank broadcasting the SHORTLIST (never the corpus)
    "sim_pq_topk",
    // round-9 fourth wave (cont.): curate_dsir_select's value is the
    // scoring pass being a PURE narrow expression over the corpus scan
    // (one token-explode agg for the 64-bucket weights, then zero
    // shuffle until the TakeOrdered); emb_knn_graph must keep the
    // candidate join keyed on the cell id (lost key = all-pairs)
    "curate_dsir_select", "emb_knn_graph",
    // composed IVF-PQ: the fixture pins the serving plan — cell-keyed
    // ADC join broadcasting the PROBE side (the corpus never
    // shuffles), codebook re-attached post-join from a 1-row
    // broadcast, shortlist as a map-side partial top-k
    "sim_ivfpq_topk",
    // round-9 fifth wave: span removal joins the dedup cost band (its
    // value is the absence of any per-token shuffle — spans and starts
    // move keyed, tokens only ever move inside their doc's array);
    // curate_pipeline is the capstone composition — the fixture pins
    // that chaining dedup→span→gate→rollup adds only the final
    // rollup exchange over the standalone span plan
    "dedup_span_remove", "curate_pipeline",
    // round-9 sixth wave: RQ serving is the bench's cost ceiling — the
    // fixture pins the integer-ADC broadcast shape (codes never
    // shuffle; queries broadcast; rerank broadcasts the shortlist)
    "sim_rq_topk",
    // round-10: the rest of the round-9 surface joins the audited set
    // so its sf1 slopes are MEASURED, not argued from shape — the
    // perceptron family (training must stay corpus-scan × rounds with
    // driver-scalar updates), the BPE trainer (one corpus scan, vocab-
    // bound rounds), label propagation (auto-K knnGraph + |E|-bound
    // round joins), hard negatives (cell-keyed candidates, one-window
    // ranking), kmeans outliers, the chi-square drift monitor (one
    // scan), and the three self-measuring recall audits (brute force
    // bounded to the query sample; deliberate BNLJ, name-allowed)
    "txt_perceptron_train", "txt_perceptron_score", "txt_perceptron_pr",
    "bpe_train_merges", "emb_label_prop", "emb_hard_negatives",
    "emb_outliers", "dq_drift_chi2", "dq_drift_psi",
    "sim_ivf_recall", "sim_neardup_recall", "sim_rq_recall",
    // round-11 ranking-order audit: the exhaustive truth side is the
    // same bounded-batch BNLJ the recall audits pay; the audited side
    // is ivfTopK's own pinned plan plus ONE |Q|-row broadcast join
    "sim_serving_mrr",
    // round-11 Matryoshka pair: prefix-kernel shortlist scan + exact
    // rerank (corpus never shuffled, query/shortlist broadcast), and
    // the per-width truncation audit (one bounded scan per arm)
    "sim_adaptive_topk", "sim_mrl_recall",
    // round-11 streaming serve (batch twin): the CellProbe kernel
    // assignment makes the corpus side a ZERO-exchange narrow
    // projection (vs ivfTopK's assign groupBy shuffle) — measured 19%
    // faster on identical results; this fixture pins that shape
    "stream_ann_topk",
    // round-10 additions: anchored span dedup (same keyed-span shape
    // as the strided detector — narrow anchor filter, no per-token
    // shuffle) and the unigram-LM tokenizer pair (corpus touched once;
    // EM rounds vocab-bound; encode a pure narrow projection)
    "dedup_span_anchored", "unigram_train", "txt_unigram_corpus",
    // round-11 content-defined chunking: the chunk array must come
    // out of the ONE narrow kernel scan (no per-token explode or
    // doc-keyed window) — only the sharing rollup exchanges
    "dedup_cdc_chunks",
    // round-11 WordPiece: the corpus encode's value is the train-then-
    // apply shape — one narrow zero-exchange scan through the greedy
    // longest-match kernel (the trainer's own plan is literal rows)
    "txt_wordpiece_corpus",
    // round-11 KN perplexity scoring: the plan's value is the three
    // BROADCAST model/lambda/cont joins over the one bigram-explode
    // corpus scan — a hash-shuffle join on (w1,w2) would move the
    // whole exploded corpus and is the regression this fixture catches
    "txt_kn_ppl",
    // round-11 quality capstone: three per-doc derivations (gopher
    // narrow flags, repetition agg pair, the KN broadcast apply)
    // composed by doc_id-keyed joins — the corpus enters each arm once
    "curate_quality_ensemble",
    // round-11 DoReMi pair: the unigram reference scorer is one
    // token-explode scan + ONE broadcast vocab join; the reweighting
    // composes it with the KN arm and rolls up to a handful of domain
    // rows — the EG step must stay window-over-domain-rows, never a
    // corpus-sized frame
    "txt_uniref_ppl", "mix_doremi",
    // round-10 second wave: SQ8 serving (codes stay a narrow
    // projection of the corpus scan, integer-ADC join broadcasts the
    // query codes, shortlist is a map-side partial top-k, rerank
    // broadcasts the shortlist — the sim_pq_topk contract at full
    // dimension); the Feistel shuffle (pure narrow bit arithmetic +
    // ONE hash exchange for the per-shard position windows — any
    // global sort appearing here is a regression); the leakage-safe
    // split (the dedup_cc_groups CC shape + one narrow hash
    // projection — no extra exchange over the groups plan)
    "sim_sq_topk", "sim_sq_recall", "export_shuffle", "split_leakage_safe",
    // round-11 binary-quantization rung: the SQ plan shape with the
    // integer ADC replaced by XOR+popcount over two packed words
    "sim_bq_topk", "sim_bq_recall",
    // MMR: the fixture pins that the per-round greedy joins stay keyed
    // on q_id over shortlist-sized frames — the corpus appears ONLY in
    // the candidate stage
    "sim_mmr_topk",
    // integer entropy: one keyed (doc, token) count + one per-doc agg,
    // both map-side combinable — a third exchange appearing here is a
    // regression
    "txt_entropy",
    // fixed-point PCA: the count-driven Gram sample must keep the
    // sf1 probe's cost flat (the recall-audit discipline applied to
    // covariance estimation); the ABTT apply pass must stay a pure
    // narrow projection over one corpus scan
    "emb_pca_power", "emb_abtt",
    // hybrid RRF: the plan must keep corpus-scale work inside the two
    // top-k arms (BM25 one-scan, vector broadcast-query partial
    // top-k) with the fusion windows on ≤k-row frames
    "sim_hybrid_rrf",
    // LSH recall audit: both sides must stay subsample-scoped (the
    // exhaustive shared-shingle join is the paid estimator cost)
    "dedup_lsh_recall",
    // round-10 capstone: composing CC → split → keeper → Feistel must
    // add only the keeper filter + one keyed join over the CC plan
    "curate_export_manifest",
    // round-11 serving-manifest pair: the build's value is ONE corpus
    // scan feeding both arms (codes narrow, assignment broadcast-K
    // argmax) with a single cid-keyed agg; the append must keep the
    // delta batch assigned against a FROZEN broadcast centroid table
    // (any centroid recompute touching new rows is a regression)
    "serve_index_build", "serve_index_append",
    // round-12 batch: the epoch pair (planner = one source-keyed agg
    // + driver waterfall scalars; materializer = broadcast plan join
    // + narrow explode, no corpus exchange beyond the planner's);
    // packed sequences / interleave / pack sizing (each ONE narrow
    // hash exchange for per-key windows — text never shuffles, no
    // global sort); the query router (corpus × broadcast-K manifest
    // agg + bounded-batch probe windows); the text-index build (one
    // (term,doc)-keyed explode agg, head posting riding the rollup as
    // max(struct) — a per-term postings window is the regression);
    // the stream-legal quality keep (a PURE narrow projection — any
    // exchange is a regression); top-ngrams (hash-only pass 1, text
    // confined to scan stages, broadcast k-row winners); the longest
    // keeper (one keyed agg over the CC derivation); the data card
    // (flags + hash scans, two narrow keyed exchanges, ppm rollup)
    "mix_epoch_plan", "mix_epoch_materialize", "export_packed_sequences",
    "serve_query_router", "serve_text_index", "stream_quality_keep",
    "dedup_top_ngrams", "dedup_cc_keep_longest",
    "mix_interleave", "export_pack_efficiency", "dq_datacard",
    // round-12 third wave: RHO selection (two broadcast train-then-
    // apply scorer arms + a doc_id-keyed 3-long join + driver mean —
    // a corpus-frame window or hash model join is the regression) and
    // the shard balancer (ONE corpus-keyed agg to K rows, then pure
    // rank arithmetic on bounded windows — corpus never shuffled)
    "curate_rho_select", "serve_shard_plan",
    // contamination report: train pays ONE shingle-distinct agg, the
    // bounded eval table broadcasts onto it — a shuffle join on sh or
    // a second train scan is the regression
    "dedup_contamination_report",
    // attribution: band-keyed candidate join (never all-pairs), the
    // shingle-array rerank joins CANDIDATES only, per-query window
    "dedup_attribution_topk",
    // its streaming twin's batch plan: band-keyed stream-static joins
    // + the TopKJaccDistinctAgg partial top-k (no distinct exchange,
    // no window — an ObjectHashAggregate regression to sort-based
    // shows up here)
    "stream_attribution",
    // cluster-size histogram: one |components|-row agg over the CC
    // chain — a corpus-sized exchange beyond the CC rounds regresses
    "dedup_cluster_hist",
    // anneal: two source-keyed aggs (full corpus + gate-filtered) —
    // the keeper filter must ride the scan as a narrow flag join,
    // everything else driver scalars; a third corpus pass regresses
    "mix_anneal_plan",
    // nDCG: the recall/MRR audit chains + one <=|Q|*k join — the
    // bounded-batch BNLJ truth side is deliberate (name-allowed)
    "sim_serving_ndcg",
    // round-13 physical-index pair: serve_index_write's value is the
    // artifact roundtrip (manifest agg over the LOADED cid-partitioned
    // scan — a re-derivation from the raw corpus is the regression);
    // stream_bm25_topk's is the pruned artifact serve (PartitionFilters
    // on tb for postings AND terms, partial top-k agg — a per-query
    // window sort or an unpruned postings scan regresses)
    "serve_index_write", "stream_bm25_topk",
    // radius search: ivfTopK's cell-scoped candidate join MINUS the
    // per-query window — the integer tau predicate must stay a narrow
    // filter (any top-k state or extra exchange appearing regresses)
    "sim_radius_search",
    // filtered search: the label must ride the assignment struct and
    // filter as a narrow predicate on the candidate rows — a second
    // corpus join appearing for the metadata is the regression
    "sim_filtered_topk",
    // graph serve: the corpus appears ONLY in the edge build + the
    // tiny per-hop candidate lookups (broadcast probe side) — a
    // corpus-sized exchange in the search stages regresses the
    // O(hops·beam·degree)-per-query contract; the artifact twin's
    // final stage must read the node store through a literal nb
    // PartitionFilter (an unpruned scan or a window appearing
    // regresses the frontier-bucket contract)
    "sim_graph_topk", "stream_graph_topk",
    // round-14 slope-coverage closure (the r13 verdict's unmeasured
    // set): the graph lifecycle's write/append jobs (append = the
    // bench's most expensive query — its slope is now measured, not
    // argued), the graph recall audit, the remaining physical-index
    // writes (one corpus pass into bucketed parquet + read-back
    // manifest each), the UniMax pair (one lang-keyed agg + driver
    // scalars; materialize = broadcast plan join + narrow explode),
    // and the langid confusion audit (one keyed agg past the
    // classifier kernel)
    "serve_graph_index_write", "serve_graph_index_append",
    "sim_graph_recall", "serve_attr_index_write", "serve_text_index_write",
    "mix_unimax", "mix_unimax_materialize", "txt_langid_confusion",
    // round-14 lifecycle closures: write → append → compact for both
    // artifact families, manifest read back from the COMPACTED
    // generation (three build jobs composed — the honest cost of the
    // full maintenance cycle, slope-measured)
    "serve_graph_index_compact", "serve_ann_index_compact",
    // round-15 DELETE lifecycle: tombstone mask read back through the
    // serving load — the anti-join must sit ABOVE the bucketed scans
    // (partition pruning survives the mask, spec-pinned)
    "serve_ann_index_delete", "serve_graph_index_delete",
    // round-15 LAYERED rung: the (layer, sb)-partitioned artifact's
    // build and its descent serve (literal layer+sb PartitionFilters
    // per hop, spec-pinned)
    "sim_graph_layered_topk", "serve_graph_index_layered_write",
    "sim_graph_layered_recall", "serve_graph_index_layered_append",
    "serve_graph_index_layered_compact",
    // round-15 text delete lifecycle (decontaminate set reused as the
    // takedown corpus): masked postings + stats recompute at compaction
    "serve_text_index_delete",
    // round-16 text append lifecycle: directory-additive postings +
    // frozen terms join (live df over old ∪ delta vs stale idf)
    "serve_text_index_append",
    // round-16 attribution lifecycle closure: exact directory-additive
    // append; delete + compactAttr physically dropping both tables
    "serve_attr_index_append", "serve_attr_index_delete",
    // round-15 third wave: layered delete mask + filtered layered serve
    "serve_graph_index_layered_delete", "sim_graph_layered_filtered_topk",
    // round-15 filtered graph serve: emit-stage label filter over the
    // unfiltered bucket-pruned traversal
    "sim_graph_filtered_topk",
    // the 9 reference-core fixture stages: cheap individually, but
    // their plan shape IS the reference pipeline — a silently lost
    // broadcast or extra exchange here regresses every pipe_* run
    "pipe_lengths", "pipe_segments_count", "pipe_pair_groups",
    "pipe_sections", "pipe_sections_all", "pipe_overlaps",
    "pipe_top_sections", "pipe_totals", "pipe_effective_length")

  val PlansDir = "fixtures/plans"
  val Sf = "/root/testdata/sf0.01"

  /** Session-independent rendering: formatted explain with the same
    * volatile tokens masked as [[PlanFingerprint]] (exprIds, plan_ids,
    * lambda addresses, object hashes). */
  def normalizedPlan(spark: SparkSession, name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, Sf)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    PlanFingerprint.mask(formatted)
  }

  /** Every conf a plan CHOICE depends on is pinned explicitly — the
    * regeneration check runs inside the shared test JVM where earlier
    * suites may have rebuilt the root session with different creation
    * options (e.g. GeodesicJoinRuleSpec disables broadcast), and
    * `newSession()` inherits those as initial options. */
  val PinnedConfs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.autoBroadcastJoinThreshold" -> "10485760",
    // no mid-metadata truncation: the default 100-char cut lands at a
    // position that depends on exprId digit width (session counter),
    // so truncated DataFilters text churns fingerprints and fixtures
    "spark.sql.maxMetadataStringLength" -> "100000",
    // the fixtures document plans WITHOUT session-extension optimizer
    // rules: a suite that rebuilt the root session with GraftExtensions
    // (GeodesicJoinRuleSpec / VecSimJoinRuleSpec) otherwise leaks the
    // theta-join rewrite rules into PlanAuditSpec's getOrCreate, and
    // GeodesicJoinRule re-fires on the analyzer's ALREADY-gridded
    // distance join (a second redundant Generate — same rows, +3 plan
    // nodes, fixture drift). The ops-layer plans pre-grid themselves;
    // the rules exist for ad-hoc SQL users.
    "spark.sql.optimizer.excludedRules" ->
      "graft.plans.GeodesicJoinRule,graft.plans.VecSimJoinRule")

  def session(): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
    PinnedConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Writes every audited plan, or only the audited queries named in
    * `args`, and their `_fingerprints.txt` lines (the other lines are
    * kept as committed). */
  def main(args: Array[String]): Unit = {
    val unknown = args.filterNot(Audited.contains)
    require(unknown.isEmpty, s"not audited: ${unknown.mkString(", ")}")
    val names = if (args.isEmpty) Audited else args.toSeq
    val spark = session()
    val dir = java.nio.file.Paths.get(PlansDir)
    java.nio.file.Files.createDirectories(dir)
    val fpFile = dir.resolve("_fingerprints.txt")
    val committed = if (!java.nio.file.Files.exists(fpFile)) Map.empty[String, String]
      else java.nio.file.Files.readString(fpFile).linesIterator
        .map(l => l.takeWhile(_ != ' ') -> l).toMap
    val fresh = names.map { name =>
      val plan = normalizedPlan(spark, name)
      java.nio.file.Files.writeString(dir.resolve(s"$name.txt"), plan)
      val fp = PlanFingerprint.of(
        graft.SparkEntry.queries(name)(spark, Sf)).render
      println(s"[plandump] $name $fp")
      name -> s"$name $fp"
    }.toMap
    val fps = Audited.flatMap(n => fresh.get(n).orElse(committed.get(n)))
    java.nio.file.Files.writeString(fpFile, fps.mkString("", "\n", "\n"))
    spark.stop()
  }
}
