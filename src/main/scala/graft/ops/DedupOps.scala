package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import TextOps.{tokens, HashMod}

/** Deduplication operators for training-data pipelines: exact hashing,
  * MinHash signatures + banded LSH candidate pairs, n-gram Jaccard
  * verification, SimHash. All column-expression / join based — the LSH
  * band join is the 100 TB path (shuffle keyed on band hash, never
  * all-pairs); the pairwise Jaccard join is keyed on shared shingles
  * with a document-frequency cap so hot shingles can't explode.
  *
  * Hashing goes through md5-hex→int64 (portable across Spark/DuckDB) so
  * every operator carries an exact oracle.
  */
object DedupOps {

  /** Word 3-gram shingles of the lowercased token stream. */
  def shingles(c: Column): Column = {
    val w = tokens(c)
    when(size(w) >= 3,
      transform(sequence(lit(1), size(w) - 2), i =>
        concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct shingle hashes in [0, HashMod) — native kernel; the HOF
    * chain (`array_distinct(transform(...md5...))`) is interpreted and
    * duplicated at every use site (no subexpression elimination). */
  def shingleHashes(c: Column): Column = graft.functions.TextNative.shingle_hashes(c)

  /** MinHash parameters: signature i = min over shingles of
    * (A(i)*h + B(i)) mod p. A*h stays < 2^63 because h < p ≈ 2^30. */
  val A = Seq(131L, 137L, 139L, 149L)
  val B = Seq(17L, 19L, 23L, 29L)
  /** Sentinel for empty shingle sets (min over empty). */
  val EmptySig = HashMod

  def minhashSignatures(docs: DataFrame, textCol: String = "text",
      passthrough: Seq[String] = Nil): DataFrame = {
    // one-pass native kernel: all four lanes from a single shingle scan
    val sig = graft.functions.TextNative.minhash_sig(col(textCol), A, B)
    val sigCols = A.indices.map(i => element_at(col("_sig"), i + 1).as(s"m$i"))
    docs.withColumn("_sig", sig)
      .select((col("doc_id") +: passthrough.map(col) ++: sigCols): _*)
  }

  /** Per-doc LSH band keys (doc_id, band, key): 2 bands × 2 rows over
    * the 4-hash signature. Shared by the batch pair join below and the
    * streaming claim operator ([[graft.streaming.StreamLshDedup]]) —
    * narrow ops only, so the same derivation runs on a stream.
    * `passthrough` columns ride along per band row (the expiring
    * streaming variant needs the watermarked event-time column to
    * survive into the keyed state operator). */
  def bandKeys(docs: DataFrame, textCol: String = "text",
      passthrough: Seq[String] = Nil): DataFrame = {
    val sigs = minhashSignatures(docs, textCol, passthrough)
    sigs.select(col("doc_id") +: passthrough.map(col) :+
      explode(array(
        struct(lit(0).as("band"), concat_ws("_", col("m0"), col("m1")).as("key")),
        struct(lit(1).as("band"), concat_ws("_", col("m2"), col("m3")).as("key")))).as("b"): _*)
      .select(col("doc_id") +: passthrough.map(col) :+
        col("b.band").as("band") :+ col("b.key").as("key"): _*)
  }

  /** [[bandKeys]] recomputed from an ALREADY-HASHED shingle array
    * column instead of raw text (r16 optimization): an attribution
    * index build that has just written its shingle table derives the
    * band table from THAT — one raw-text kernel pass instead of two.
    * Bit-identical to bandKeys over the originating text (min over a
    * hash set is order-independent; same lanes, same empty sentinel,
    * same key rendering — spec-pinned in AttrLifecycleSpec). */
  private[graft] def bandKeysFromShingles(shingles: DataFrame,
      idCol: String, shsCol: String): DataFrame = {
    val sig = graft.functions.TextNative.minhash_sig_hashes(col(shsCol), A, B)
    shingles.withColumn("_sig", sig)
      .select(col(idCol).as("doc_id") +:
        A.indices.map(i => element_at(col("_sig"), i + 1).as(s"m$i")): _*)
      .select(col("doc_id"),
        explode(array(
          struct(lit(0).as("band"), concat_ws("_", col("m0"), col("m1")).as("key")),
          struct(lit(1).as("band"), concat_ws("_", col("m2"), col("m3")).as("key")))).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"))
  }

  /** Banded LSH candidate pairs: docs agreeing on all rows of any band
    * become a pair. The join is keyed on (band_id, band_hash) —
    * bounded shuffle. */
  def lshCandidatePairs(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val bands = bandKeys(docs, textCol)
    val l = bands.select(col("band"), col("key"), col("doc_id").as("d1"))
    val r = bands.select(col("band").as("band2"), col("key").as("key2"), col("doc_id").as("d2"))
    l.join(r, col("band") === col("band2") && col("key") === col("key2") &&
        col("d1") < col("d2"))
      .select("d1", "d2").distinct()
  }

  /** Exact n-gram Jaccard over candidate pairs that share at least
    * `minSharedRare` rare shingles. Two candidate-recall knobs, both
    * scale guards against quadratic blowup:
    *  - hot shingles (document frequency > dfCap) are dropped from
    *    candidate generation (a df-50 shingle alone yields 1,225 pairs);
    *  - a pair must co-occur in ≥ minSharedRare distinct rare shingles
    *    (support threshold — the same idea as requiring a full minhash
    *    band to agree). Measured on the sf0.1 corpus: 10× fewer
    *    candidates (1.13M → 112k) at full recall of the jaccard ≥ 0.2
    *    truth set; a pair sharing exactly one rare shingle is almost
    *    never a near-dup (P(jaccard ≥ 0.2 | 1 shared) ≈ 0 here).
    * Jaccard itself is exact over the full shingle sets of surviving
    * candidates. */
  /** Audit-subsample target and truth threshold for [[lshRecall]]. */
  val LshAuditTarget = 200
  val LshRecallTau = 0.2

  /** SELF-MEASURING MinHash-LSH recall audit — the text-dedup twin of
    * the embedding family's audit quartet (sim_ivf/neardup/rq/sq
    * recall): the banded candidate generator measured against the
    * EXACT n-gram Jaccard truth set (ungated — no df-cap, no
    * support threshold: the audit must not inherit the serving path's
    * recall knobs), reported per Jaccard band in exact ppm. Theory
    * says P(candidate) = 1−(1−j²)² for the 2-band × 2-row banding —
    * the audit measures the corpus's actual curve.
    *
    * Scale: the exhaustive side is all-pairs over shared shingles, so
    * BOTH sides run on a count-driven ~[[LshAuditTarget]]-doc
    * subsample (mod = N/target — the nearDupRecall estimator
    * discipline; band collision and Jaccard are pairwise properties,
    * so subsample recall is unbiased for the corpus). Jaccard is
    * integer ppm — `(shared·10⁶) div (n1+n2−shared)` — so banding
    * decisions replay exactly. */
  def lshRecall(docs: DataFrame, minJaccard: Double = LshRecallTau,
      auditTarget: Int = LshAuditTarget): DataFrame = {
    val mod = math.max(1L, docs.count() / auditTarget)
    val sub = docs.filter(col("doc_id") % mod === 0)
    val sh = sub.select(col("doc_id"), explode(shingleHashes(col("text"))).as("h"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shared = sh.toDF("d1", "h")
      .join(sh.toDF("d2", "h2"), col("h") === col("h2") && col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("shared"))
    val tauPpm = math.round(minJaccard * 1000000L)
    val exact = shared
      .join(sizes.toDF("d1", "n1"), "d1")
      .join(sizes.toDF("d2", "n2"), "d2")
      .withColumn("jacc_ppm", expr("(shared * 1000000) div (n1 + n2 - shared)"))
      .filter(col("jacc_ppm") >= tauPpm)
    val found = lshCandidatePairs(sub)
      .select(col("d1").as("f1"), col("d2").as("f2"))
    exact
      .join(found, col("d1") === col("f1") && col("d2") === col("f2"), "left")
      .withColumn("hit", when(col("f1").isNotNull, 1L).otherwise(0L))
      .withColumn("band", when(col("jacc_ppm") >= 500000, "hi").otherwise("lo"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_exact"), sum("hit").as("n_found"))
      .withColumn("recall_ppm", expr("(n_found * 1000000) div n_exact"))
  }

  def ngramJaccardPairs(docs: DataFrame, textCol: String = "text",
      minJaccard: Double = 0.2, dfCap: Int = 50, minSharedRare: Int = 2): DataFrame = {
    // Scale shape: the ONLY pairwise join is on rare shingles (df in
    // [2, dfCap]) — hot shingles can never fan out quadratically. The
    // exact intersection is then computed per CANDIDATE pair with a
    // native sorted-intersection kernel over each doc's full (distinct)
    // shingle array, instead of a second all-shingle self-join.
    //
    // The per-doc shingle table is localCheckpoint'd (executor-local
    // materialization, lineage truncated): the DAG consumes it four
    // times (df counts, both sides of the candidate join, the rerank),
    // and without materialization each consumer re-runs the md5 shingle
    // kernel over the whole corpus — measured ~3× the query's cost. An
    // RDD-level checkpoint is scoped to this DataFrame's lifetime (no
    // CacheManager entry, so repeated calls stay independent), and a
    // real 100 TB pipeline would materialize this table anyway.
    // eager=false: materialize on FIRST ACTION, not at plan build —
    // explain()/plan audits stay free of the md5 job.
    rerankedPairs(docs, textCol, dfCap, minSharedRare)
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("shs1")) + size(col("shs2")) - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("d1", "d2", "n_inter", "jaccard")
  }

  /** Containment near-dup pairs: `|A∩B| / min(|A|,|B|)` over the same
    * rare-shingle candidate gate as [[ngramJaccardPairs]]. Containment
    * catches SUBSET duplication — a short doc fully embedded in a long
    * one scores near-zero Jaccard (the union is huge) but 1.0
    * containment — which is the criterion web-corpus dedup actually
    * wants for quote/boilerplate inclusion. Same scale shape: the only
    * pairwise join is keyed on rare shingles. */
  def containmentPairs(docs: DataFrame, textCol: String = "text",
      minContainment: Double = 0.5, dfCap: Int = 50,
      minSharedRare: Int = 2): DataFrame =
    rerankedPairs(docs, textCol, dfCap, minSharedRare)
      .withColumn("containment", col("n_inter").cast("double") /
        least(size(col("shs1")), size(col("shs2"))).cast("double"))
      .filter(col("containment") >= minContainment)
      .select("d1", "d2", "n_inter", "containment")

  /** Shared candidate gate + exact rerank for the shingle-overlap
    * family: rare-shingle keyed candidate join, then the native
    * sorted-intersection kernel per surviving pair. Returns
    * (d1, d2, n_inter, shs1, shs2) for the caller's metric. */
  private def rerankedPairs(docs: DataFrame, textCol: String,
      dfCap: Int, minSharedRare: Int): DataFrame = {
    val docArr = docs.select(col("doc_id"), shingleHashes(col(textCol)).as("shs"))
      .localCheckpoint(eager = false)
    val ds = docArr.select(col("doc_id"), explode(col("shs")).as("sh"))
    val rare = ds.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap && col("df") >= 2)
    val rs = ds.join(rare, "sh")
    // groupBy+HAVING instead of distinct: the same single shuffle on
    // (d1, d2) — with map-side partial counts — and the support filter
    // prunes the rerank input 10×.
    val candidates = rs.select(col("sh"), col("doc_id").as("d1"))
      .join(rs.select(col("sh").as("sh2"), col("doc_id").as("d2")),
        col("sh") === col("sh2") && col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_shared_rare"))
      .filter(col("n_shared_rare") >= minSharedRare)
      .select("d1", "d2")
    candidates
      .join(docArr.select(col("doc_id").as("d1"), col("shs").as("shs1")), "d1")
      .join(docArr.select(col("doc_id").as("d2"), col("shs").as("shs2")), "d2")
      .withColumn("n_inter",
        graft.functions.TextNative.sorted_inter_count(col("shs1"), col("shs2")))
  }

  /** 60-bit SimHash over the token MULTISET: bit j is set when more
    * tokens have bit j of their 60-bit md5 hash set than clear. 60
    * bits = the widest md5 prefix that is a non-negative signed int64
    * on both Spark and DuckDB. Computed by a one-pass native kernel —
    * a narrow projection, no explode / per-token shuffle. Docs with
    * zero tokens get simhash 0 (they stay in the output). */
  def simhash(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TextNative.simhash60(col(textCol)).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, found
    * by a BANDED equi-join (pigeonhole: ≤3 differing bits across 4
    * bands of 15 bits ⇒ at least one band is equal), so candidates
    * come from 4 shuffle-keyed joins instead of all-pairs; the exact
    * bit_count(xor) predicate is the residual. Guaranteed-complete for
    * maxHamming < nBands. 15-bit band keys give 32k join values per
    * band, so expected random collisions are ~n²/2^15 per band — at
    * 1M docs that is ~30M candidate rows per band, linear-ish in
    * practice because real corpora cluster; the 16-bit/4-bit-band
    * variant this replaces degenerated to all-pairs (16 keys/band). */
  def simhashPairs(docs: DataFrame, textCol: String = "text",
      maxHamming: Int = 3): DataFrame = {
    val sims = simhash(docs, textCol) // doc_id, simhash (60-bit)
    val bands = sims.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 15).bitwiseAND(0x7FFF).as("key"))): _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band"), col("b.key"))
    val l = bands.select(col("band"), col("key"),
      col("doc_id").as("d1"), col("simhash").as("h1"))
    val r = bands.select(col("band").as("band2"), col("key").as("key2"),
      col("doc_id").as("d2"), col("simhash").as("h2"))
    l.join(r, col("band") === col("band2") && col("key") === col("key2") &&
        col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Benchmark decontamination (the GPT-3/Llama recipe): flag every
    * training document sharing at least one word n-gram shingle with
    * the evaluation corpus, so eval answers can't leak into training.
    *
    * Scale shape: the eval side is tiny relative to the corpus (a few
    * benchmark suites vs the crawl), so its DISTINCT shingle set is
    * broadcast and the check is a map-side broadcast join on the
    * 100 TB side — one scan, no corpus shuffle for the probe itself;
    * the only shuffle is the per-doc hit-count aggregation, keyed on
    * doc_id after the join has already filtered to hits. Returns every
    * train doc with its count of eval-overlapping shingles (0 = clean).
    */
  def decontaminate(train: DataFrame, eval: DataFrame,
      textCol: String = "text"): DataFrame = {
    val evalSh = eval.select(explode(shingleHashes(col(textCol))).as("sh")).distinct()
    val trainSh = train.select(col("doc_id"), explode(shingleHashes(col(textCol))).as("sh"))
    // shingleHashes is per-doc distinct, so count(1) = distinct hits
    val hits = trainSh.join(broadcast(evalSh), "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit_shingles"))
    train.select("doc_id").join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hit_shingles"), lit(0L)).as("n_hit_shingles"))
      .withColumn("contaminated", col("n_hit_shingles") > 0)
  }

  /** Matches returned per query by [[attributionTopK]]. */
  val AttributionK = 3

  /** Training-data ATTRIBUTION lookup — the provenance question asked
    * about a generated or benchmark text ("which training documents
    * is this from?", the serving-side of the memorization story
    * [[topDupNgrams]] monitors corpus-side): for each QUERY document,
    * the top-k train documents by exact n-gram Jaccard, candidates
    * gated by the SAME banded-MinHash front end the dedup family
    * serves from ([[bandKeys]] — an exact copy collides on every
    * band by construction, so full-copy attribution has recall 1.0
    * structurally; graded near-dups inherit the banding's tuned
    * recall, measured by `dedup_lsh_recall`). Jaccard in exact
    * integer ppm so the ranking (and its tie-break) is hash-exact
    * cross-engine.
    *
    * Shape at scale: the band join is keyed on (band, key) — the
    * corpus never fans out beyond bucket collisions; the rerank joins
    * shingle arrays for CANDIDATES only; the top-k is a per-query
    * window over candidate rows. The query side is a bounded batch
    * (the benchmark / the generation under audit), the train side
    * pays one signature scan — the dedup serving contract. */
  /** Hot-band guard for the attribution family: a (band, key) bucket
    * owning more than this many TRAIN docs is dropped from candidate
    * generation (the [[ngramJaccardPairs]] df-cap discipline at the
    * band level). A boilerplate-heavy corpus puts millions of docs on
    * one band key, exploding every colliding query's candidate set;
    * the cap bounds per-query candidates at 2·bands·cap. Recall: an
    * exact copy collides on EVERY band, so it still attributes unless
    * ALL its bands are hot (the dropped count is logged); the default
    * is far above any test corpus's max bucket (≤ 4 at sf0.01, dup
    * groups ≤ 2 at sf0.1) so the gate hashes are cap-invariant —
    * spec-pinned with a planted hot band. */
  val AttributionBandDfCap = 1000

  private lazy val dedupLog =
    org.slf4j.LoggerFactory.getLogger("graft.ops.DedupOps")

  def attributionTopK(train: DataFrame, eval: DataFrame,
      textCol: String = "text", k: Int = AttributionK,
      bandDfCap: Int = AttributionBandDfCap): DataFrame = {
    val qArr = eval.select(col("doc_id").as("q_id"),
      shingleHashes(col(textCol)).as("q_shs"))
    val tArr = train.select(col("doc_id").as("t_id"),
      shingleHashes(col(textCol)).as("t_shs"))
    val qBands = bandKeys(eval, textCol)
      .select(col("doc_id").as("q_id"), col("band"), col("key"))
    // localCheckpoint (lazy): the band table feeds the df gate AND the
    // candidate join — without it each consumer re-runs the minhash
    // kernel over train (the ngramJaccardPairs discipline)
    val tB = bandKeys(train, textCol)
      .select(col("doc_id").as("t_id"), col("band").as("tband"),
        col("key").as("tkey"))
      .localCheckpoint(eager = false)
    // the df table is vocabulary-sized; checkpoint it (lazy) so the
    // hot-count job and the gate join read the materialized tiny
    // table instead of re-aggregating the band table twice
    val keyDf = tB.groupBy("tband", "tkey").agg(count(lit(1)).as("df"))
      .localCheckpoint(eager = false)
    val nHot = keyDf.filter(col("df") > bandDfCap).count()
    if (nHot > 0)
      dedupLog.warn(s"attributionTopK: dropping $nHot hot band bucket(s) " +
        s"with df > $bandDfCap from candidate generation")
    val tBands = tB.join(keyDf.filter(col("df") <= bandDfCap),
        Seq("tband", "tkey"))
      .select("t_id", "tband", "tkey")
    val cand = qBands.join(tBands,
        col("band") === col("tband") && col("key") === col("tkey"))
      .select("q_id", "t_id").distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("jacc_ppm").desc, col("t_id").asc)
    cand.join(qArr, "q_id").join(tArr, "t_id")
      .withColumn("n_inter", graft.functions.TextNative
        .sorted_inter_count(col("q_shs"), col("t_shs")).cast("long"))
      .withColumn("n_union",
        size(col("q_shs")).cast("long") + size(col("t_shs")).cast("long")
          - col("n_inter"))
      .withColumn("jacc_ppm",
        expr("(n_inter * 1000000) div greatest(n_union, 1)"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("t_id"), col("n_inter"), col("jacc_ppm"),
        col("rnk"))
  }

  /** Contamination REPORT — the per-benchmark-document measurement
    * published alongside eval numbers (the GPT-3/PaLM-style "n-gram
    * overlap with training data" appendix): for each EVAL document,
    * how many of its distinct shingles appear ANYWHERE in train, as
    * an exact-ppm overlap fraction — the graded view [[decontaminate]]
    * collapses to a boolean (and aimed at the other side: that flags
    * TRAIN docs to drop, this scores EVAL docs so a benchmark's
    * clean/dirty split can be reported and subset-scored).
    *
    * Shape at scale: train pays one shingle-explode scan into a
    * hash-distinct agg (map-side combine); the eval side is a bounded
    * benchmark, so its (doc, shingle) table BROADCASTS onto that
    * distinct set and the rollup is |eval| rows. The train corpus is
    * never shuffled beyond the distinct's own exchange. */
  def contaminationReport(train: DataFrame, eval: DataFrame,
      textCol: String = "text"): DataFrame = {
    val evalSh = eval.select(col("doc_id"),
      explode(shingleHashes(col(textCol))).as("sh"))
    val trainSh = train
      .select(explode(shingleHashes(col(textCol))).as("sh")).distinct()
    val hits = trainSh.join(broadcast(evalSh), "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    eval.select(col("doc_id"),
        size(shingleHashes(col(textCol))).cast("long").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit_shingles", coalesce(col("n_hit"), lit(0L)))
      .select(col("doc_id"), col("n_shingles"), col("n_hit_shingles"),
        expr("(n_hit_shingles * 1000000) div greatest(n_shingles, 1)")
          .as("overlap_ppm"))
  }

  /** Exact duplicated-span detection — the exact-substring training-
    * data dedup shape (Lee et al. 2021's "Deduplicating Training Data
    * Makes Language Models Better") at span granularity: a suffix
    * array finds every repeated ≥50-token substring; the distributed
    * approximation hashes overlapping fixed-size token windows and
    * counts windows whose hash appears in ≥ 2 DISTINCT documents
    * (within-doc repetition is [[graft.ops.CurationOps]]'s repetition
    * signal, not cross-doc duplication). Recall condition: a repeated
    * substring of length ≥ spanSize + stride − 1 is caught IFF its
    * start offsets in the two documents are congruent mod stride (both
    * grids then hit the same relative position) — so strided spans see
    * aligned duplication (full-doc copies, shared prefixes) with a
    * structural guarantee but only ~1/stride of arbitrary-offset
    * duplicates. [[spanDupsAnchored]] is the alignment-independent
    * form (content-defined anchors); this strided form remains the
    * cheaper detector when duplication is grid-aligned by provenance.
    *
    * Shape at scale: spans are a stride-thinned explode of the scan
    * (|tokens|/stride rows — spanSize/stride ≈ 2× the token stream,
    * never quadratic), the shared-span table is a keyed count agg with
    * map-side combine, and duplicated spans are rare, so the join back
    * is a broadcast of the (small) dup-span set in practice. Per-doc
    * rollup partial-combines. No all-pairs comparison anywhere. */
  val SpanSize = 20
  val SpanStride = 10

  def spanDups(docs: DataFrame, textCol: String = "text",
      spanSize: Int = SpanSize, stride: Int = SpanStride): DataFrame = {
    val tk = docs.select(col("doc_id"), tokens(col(textCol)).as("toks"))
    val nToks = size(col("toks")).cast("long")
    // sequence(a, b) runs DESCENDING when b < a — guard short docs to
    // an empty start list instead (docs shorter than one span window
    // carry no spans at all)
    val starts = when(nToks >= spanSize,
      sequence(lit(1L), nToks - (spanSize - 1), lit(stride.toLong)))
      .otherwise(array().cast("array<bigint>"))
    val spans = tk
      .select(col("doc_id"), explode(transform(starts,
        s => md5(array_join(slice(col("toks"), s.cast("int"), lit(spanSize)), " "))))
        .as("span_h"))
    val shared = spans.groupBy("span_h")
      .agg(countDistinct("doc_id").as("n_docs_span"))
      .filter(col("n_docs_span") >= 2)
    val perDoc = spans.join(shared, Seq("span_h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("n_docs_span").isNotNull, 1L).otherwise(0L)).as("n_dup_spans"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_frac_ppm",
        expr("(n_dup_spans * 1000000) div greatest(n_spans, 1)"))
  }

  /** Anchor density for [[spanDupsAnchored]]: a span starts wherever
    * the token's hash ≡ 0 (mod AnchorMod), i.e. at an expected 1-in-8
    * of positions — matching [[SpanStride]]'s ~10 % span density, so
    * the anchored variant costs what the strided one does. */
  val AnchorMod = 8

  /** Content-defined (anchored) duplicated-span detection — the
    * alignment-robust form of [[spanDups]].
    *
    * Why: strided spans sit on each document's own position grid, so a
    * substring shared by two documents produces hash-equal windows only
    * when its start offsets are CONGRUENT mod stride — for random
    * offsets the strided detector sees only ~1/stride of cross-doc
    * duplicates, no matter how long they are (the round-9 verdict's
    * alignment gap, pinned with a planted counterexample in
    * SpanAnchoredSpec). The content-defined-chunking fix (the backup-
    * dedup/rsync anchoring idea applied to token streams): a span
    * starts at every position whose TOKEN hashes to 0 mod
    * [[AnchorMod]]. Start positions are then a function of the content
    * alone, so both copies of a duplicated substring anchor at the
    * same relative offsets and produce identical span hashes — recall
    * is offset-independent by construction. A shared substring is
    * detected iff it contains an anchor with spanSize tokens still
    * inside it; anchors arrive at expected gap [[AnchorMod]], so
    * spans of length ≥ spanSize + a few anchor gaps are caught with
    * probability → 1 (geometric in the overhang), and the miss
    * probability is content-seeded, not offset-seeded.
    *
    * Shape at scale: identical to [[spanDups]] — the anchor filter is
    * a narrow HOF over each row's token positions (~1/AnchorMod of the
    * token stream explodes), the shared-span table is a keyed count
    * agg with map-side combine, and the rollup join is keyed on
    * doc_id. No all-pairs anywhere. */
  def spanDupsAnchored(docs: DataFrame, textCol: String = "text",
      spanSize: Int = SpanSize, anchorMod: Int = AnchorMod): DataFrame = {
    val tk = docs.select(col("doc_id"), tokens(col(textCol)).as("toks"))
    val nToks = size(col("toks")).cast("long")
    val starts = filter(
      when(nToks >= spanSize, sequence(lit(1L), nToks - (spanSize - 1)))
        .otherwise(array().cast("array<bigint>")),
      s => TextOps.strHash(element_at(col("toks"), s.cast("int")))
        % anchorMod === 0)
    val spans = tk
      .select(col("doc_id"), explode(transform(starts,
        s => md5(array_join(slice(col("toks"), s.cast("int"), lit(spanSize)), " "))))
        .as("span_h"))
    val shared = spans.groupBy("span_h")
      .agg(countDistinct("doc_id").as("n_docs_span"))
      .filter(col("n_docs_span") >= 2)
    val perDoc = spans.join(shared, Seq("span_h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("n_docs_span").isNotNull, 1L).otherwise(0L)).as("n_dup_spans"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_frac_ppm",
        expr("(n_dup_spans * 1000000) div greatest(n_spans, 1)"))
  }

  /** Span REMOVAL — the cleaning step the span detector above feeds
    * (deduplicating repeated training spans in place rather than
    * dropping whole documents; reference behavior is whole-pipeline
    * dedup, this generalizes it to sub-document granularity). A token
    * is removed iff some strided span that contains it also occurs,
    * hash-identical, in at least one OTHER document. Output is the
    * normalized cleaned token stream (lowercased, single-spaced) plus
    * removal accounting.
    *
    * Shape at scale: identical to [[spanDups]] through the shared-span
    * join (narrow span derivation, keyed count agg with map-side
    * combine, join back on span hash), then ONE extra per-doc agg
    * collecting the few shared starts and a keyed join to the token
    * arrays. Interval membership is evaluated with an `exists` lambda
    * over the per-doc start list — per-row work is
    * O(n_toks × n_shared_starts) with no per-token shuffle, and
    * shared starts are rare by construction. */
  def spanRemove(docs: DataFrame, textCol: String = "text",
      spanSize: Int = SpanSize, stride: Int = SpanStride,
      passthrough: Seq[String] = Nil): DataFrame = {
    // The tokenized frame feeds THREE consumers (span derivation for
    // the shared-hash agg, the span side of the starts join, and the
    // final token-array side) — localCheckpoint it like the shingle
    // table in ngramJaccardPairs, or each consumer re-tokenizes (and,
    // composed under curate_pipeline, re-runs the upstream dedup
    // window) over the whole corpus: measured 6 parquet scans → 1.
    val tk = docs.select(col("doc_id") +: tokens(col(textCol)).as("toks") +:
      passthrough.map(col): _*)
      .localCheckpoint(eager = false)
    val nToks = size(col("toks")).cast("long")
    val startsAll = when(nToks >= spanSize,
      sequence(lit(1L), nToks - (spanSize - 1), lit(stride.toLong)))
      .otherwise(array().cast("array<bigint>"))
    val spans = tk
      .select(col("doc_id"), explode(transform(startsAll, s =>
        struct(s.as("s"),
          md5(array_join(slice(col("toks"), s.cast("int"), lit(spanSize)), " "))
            .as("span_h")))).as("sp"))
      .select(col("doc_id"), col("sp.s").as("s"), col("sp.span_h").as("span_h"))
    val shared = spans.groupBy("span_h")
      .agg(countDistinct("doc_id").as("n_docs_span"))
      .filter(col("n_docs_span") >= 2)
    val sharedStarts = spans.join(shared, Seq("span_h"))
      .groupBy("doc_id")
      .agg(array_sort(collect_set(col("s"))).as("starts"))
    tk.join(sharedStarts, Seq("doc_id"), "left")
      .select(col("doc_id") +: col("toks") +:
        coalesce(col("starts"), array().cast("array<bigint>")).as("starts") +:
        passthrough.map(col): _*)
      .select(col("doc_id") +:
        size(col("toks")).cast("long").as("n_toks") +:
        filter(col("toks"), (_, i) =>
          !exists(col("starts"), s =>
            i + 1 >= s && i + 1 <= s + (spanSize - 1))).as("_kept") +:
        passthrough.map(col): _*)
      .select(col("doc_id") +: col("n_toks") +:
        (col("n_toks") - size(col("_kept")).cast("long")).as("n_removed") +:
        array_join(col("_kept"), " ").as("cleaned_text") +:
        passthrough.map(col): _*)
      .withColumn("removed_ppm",
        expr("(n_removed * 1000000) div greatest(n_toks, 1)"))
  }

  /** DuckDB CTE chain computing [[spanRemove]] over relation `src`
    * (must expose doc_id, text) — shared by the standalone oracle and
    * the composed curate_pipeline oracle. Ends without a trailing
    * comma; pair with [[spanRemoveSelect]] or further CTEs. */
  private[ops] def spanRemoveCtes(src: String): String =
    s"""tk AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |      x -> x != '') AS toks
       |  FROM $src),
       |st AS (
       |  SELECT doc_id, toks,
       |    unnest(CASE WHEN len(toks) >= ${SpanSize}
       |      THEN range(1, len(toks) - ${SpanSize - 2}, ${SpanStride})
       |      ELSE []::BIGINT[] END) AS s
       |  FROM tk),
       |spans AS (
       |  SELECT doc_id, s,
       |    md5(array_to_string(toks[s : s + ${SpanSize - 1}], ' ')) AS span_h
       |  FROM st),
       |shared AS (
       |  SELECT span_h FROM spans GROUP BY 1
       |  HAVING COUNT(DISTINCT doc_id) >= 2),
       |starts AS (
       |  SELECT sp.doc_id, list_sort(list(DISTINCT sp.s)) AS ss
       |  FROM spans sp JOIN shared sh ON sp.span_h = sh.span_h
       |  GROUP BY 1),
       |kept AS (
       |  SELECT t.doc_id, len(t.toks)::BIGINT AS n_toks,
       |    list_filter(
       |      list_zip(t.toks, range(1, len(t.toks) + 1)),
       |      z -> len(list_filter(COALESCE(s.ss, []::BIGINT[]),
       |        x -> z[2] >= x AND z[2] <= x + ${SpanSize - 1})) = 0) AS kz
       |  FROM tk t LEFT JOIN starts s ON t.doc_id = s.doc_id)""".stripMargin

  private[ops] val spanRemoveSelect: String =
    """SELECT doc_id, n_toks,
      |  (n_toks - len(kz))::BIGINT AS n_removed,
      |  COALESCE(array_to_string(list_transform(kz, z -> z[1]), ' '), '')
      |    AS cleaned_text,
      |  ((n_toks - len(kz)) * 1000000 // GREATEST(n_toks, 1))::BIGINT
      |    AS removed_ppm
      |FROM kept""".stripMargin

  /** Winnowing (MOSS-style) document fingerprints: hash every k-char
    * gram of the lowercased text, then keep the MINIMUM hash of each
    * sliding window of w consecutive grams. The selected set has
    * expected density 2/(w+1) of the gram stream, and carries the
    * winnowing guarantee: any substring of length ≥ k+w−1 shared by two
    * documents contains a full gram window on both sides, whose minimum
    * is the same hash — so both fingerprint sets contain it. This is
    * the substring-level locality the token-shingle family can't see
    * (shingles move with token boundaries; winnowing survives
    * reflow/truncation at character granularity).
    *
    * Shape at scale: the whole derivation is a NARROW projection —
    * gram hashes and window minima are higher-order array functions
    * over each row's text (no explode of the gram stream, no window
    * shuffle), and only the ~2/(w+1)-dense fingerprint set is exploded
    * for the downstream join. Hashes are 60-bit md5 prefixes (portable
    * to the DuckDB oracle, and wide enough that fingerprint collisions
    * are negligible at corpus scale). */
  val WinnowK = 16
  val WinnowW = 8

  def winnowFingerprints(docs: DataFrame, textCol: String = "text",
      k: Int = WinnowK, w: Int = WinnowW): DataFrame =
    // the kernel returns empty for docs shorter than one full window
    // (k+w-1 chars); the explicit filter just keeps them out of the
    // explode input (a narrow prune, no semantic effect)
    docs
      .filter(length(col(textCol)) >= k + w - 1)
      .select(col("doc_id"),
        explode(graft.functions.TextNative.winnow_fps(col(textCol), k, w))
          .as("fp"))

  /** Near-dup pairs by shared winnowing fingerprints: candidate join
    * keyed on fingerprints with document frequency in [2, dfCap] (the
    * same hot-key gate as the shingle family — a boilerplate
    * fingerprint present in every doc can never fan out quadratically),
    * scored by shared-fingerprint count over the SMALLER doc's
    * fingerprint set (containment-style, so a short doc pasted into a
    * long one still scores 1.0). One fingerprint-keyed shuffle join +
    * two small aggregations — never all-pairs. */
  def winnowPairs(docs: DataFrame, textCol: String = "text",
      minOverlap: Double = 0.5, dfCap: Int = 50,
      k: Int = WinnowK, w: Int = WinnowW): DataFrame = {
    // materialized once (same rationale as rerankedPairs: four
    // consumers, and the md5 gram kernel is the dominant map cost)
    val fps = winnowFingerprints(docs, textCol, k, w)
      .localCheckpoint(eager = false)
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val gated = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= dfCap)
        .select("fp"),
      "fp")
    val pairs = gated.select(col("fp"), col("doc_id").as("d1"))
      .join(gated.select(col("fp").as("fp2"), col("doc_id").as("d2")),
        col("fp") === col("fp2") && col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sizes.select(col("doc_id").as("d1"), col("n_fp").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n_fp").as("n2")), "d2")
      .withColumn("overlap", col("n_shared").cast("double") /
        least(col("n1"), col("n2")).cast("double"))
      .filter(col("overlap") >= minOverlap)
      .select("d1", "d2", "n_shared", "overlap")
  }

  /** Cut between "historical corpus" and "new ingest batch" for the
    * driver's incremental-dedup query (shared with the oracle SQL). */
  val IncrCutTs = "2024-01-25 00:00:00"

  /** Incremental batch-vs-corpus novelty dedup — the continuous-
    * ingestion shape: a new batch arrives, and only the keys never
    * seen in the historical corpus survive. Here the key is the
    * (user_id, item) interaction from the events stream; for document
    * pipelines the same plan runs on content fingerprints
    * ([[graft.queries.Coverage]] `dedup_exact`'s md5).
    *
    * The scale problem is the CONFIRM join: the batch is hours of
    * data, the history is the 100 TB archive — an anti-join shuffles
    * both. The fix is the bloom-prefilter direction that matters:
    * build the filter from the SMALL side (the batch's distinct keys,
    * [[graft.functions.BloomAgg]], one 32 KB broadcast) and stream the
    * HISTORY scan through it, so the history side of the anti-join
    * shrinks from the full archive to ≈ the true overlap (plus the
    * controlled false-positive fraction). Exactness is unconditional:
    * a bloom false positive only admits an extra history key that
    * matches no batch row (it would be a true positive if it did);
    * false negatives are impossible — so the result IS the plain
    * anti-join, which is exactly what the oracle recomputes. */
  def incrementalNovelPairs(events: DataFrame,
      cutTs: String = IncrCutTs): DataFrame = {
    import graft.queries.Coverage.{bloomH, bloomMightContain, bloomOr}
    val keyed = events
      .withColumn("item", get_json_object(col("props"), "$.k").cast("long"))
    val batch = keyed.filter(col("ts") >= lit(cutTs).cast("timestamp"))
    val history = keyed.filter(col("ts") < lit(cutTs).cast("timestamp"))
    val batchKeys = batch.groupBy("user_id", "item")
      .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event_id"))
    val keyStr = concat_ws(":", col("user_id"), col("item"))
    val bloom = batchKeys
      .select(bloomH("ib1:", keyStr).as("h1"), bloomH("ib2:", keyStr).as("h2"))
      .agg(bloomOr(col("h1"), col("h2")).as("bf"))
    val histKeys = history
      .select(col("user_id"), col("item"))
      .withColumn("h1", bloomH("ib1:", keyStr))
      .withColumn("h2", bloomH("ib2:", keyStr))
      .crossJoin(broadcast(bloom))
      .where(expr(bloomMightContain))
      .select("user_id", "item").distinct()
    batchKeys.join(histKeys, Seq("user_id", "item"), "left_anti")
      .select(col("user_id"), col("item"), col("n_events"),
        col("first_event_id"))
  }

  /** Expected chunk length in tokens for [[cdcChunks]] (the boundary
    * hash fires with probability 1/mod per token). */
  val CdcMod = 8

  /** CONTENT-DEFINED CHUNKING — the STORAGE-dedup member of the dedup
    * family (LBFS/FastCDC at token granularity, via the
    * [[graft.functions.CdcChunks]] kernel): a chunk closes after any
    * token whose content hash ≡ 0 (mod [[CdcMod]]), so boundaries are
    * a function of local content and an insertion/deletion
    * re-synchronizes the chunking at the next boundary — repeated
    * regions across near-identical documents (crawl snapshots, backup
    * generations) produce IDENTICAL chunk hashes and dedup at rest,
    * where fixed-width chunking would shift every downstream chunk.
    * Emits one row per chunk with its md5 and the cross-corpus
    * sharing count (how many distinct docs carry this exact chunk —
    * the dedup-at-rest savings table).
    *
    * Scale shape: the chunker is a one-pass narrow kernel (no
    * per-token explode or window — the chunk array comes out of the
    * main scan); the sharing rollup is one chunk-hash-keyed agg with
    * map-side combine plus one equi-join back. */
  def cdcChunks(docs: DataFrame, mod: Int = CdcMod,
      textCol: String = "text"): DataFrame = {
    val ch = docs
      .select(col("doc_id"),
        posexplode(graft.functions.TextNative.cdc_chunks(col(textCol), mod)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col.n_toks").cast("long").as("n_toks"),
        col("col.chunk_md5").as("chunk_md5"))
    val share = ch.groupBy("chunk_md5")
      .agg(countDistinct(col("doc_id")).as("n_docs_sharing"))
    ch.join(share, Seq("chunk_md5"))
      .select(col("doc_id"), col("chunk_idx"), col("n_toks"),
        col("chunk_md5"), col("n_docs_sharing"))
  }

  /** Top duplicated n-grams — the MEMORIZATION-RISK monitor table
    * (Carlini et al. 2022: sequences repeated across many documents
    * are the ones a model regurgitates verbatim; Lee et al. 2021
    * report them as the substring-dedup hit list). Returns the top-k
    * n-grams by cross-document spread: (gram text, gram hash, number
    * of DISTINCT docs containing it, total occurrences), only grams
    * seen in ≥ 2 docs, ordered (n_docs DESC, n_occ DESC, hash ASC) so
    * the LIMIT boundary is deterministic under ties.
    *
    * Shape at scale — two passes so gram TEXT never shuffles:
    * pass 1 explodes every position into a 16-byte md5 only and
    * aggregates (hash → distinct docs, occurrences) with map-side
    * combine; the top-k is a `limit` over that (already
    * vocabulary-sized) table — Spark plans it TakeOrderedAndProject,
    * map-side partial top-k, k rows to the driver. Pass 2 re-derives
    * grams WITH their text in the scan projection and broadcast-joins
    * the k winning hashes, so the full gram strings (n× the token
    * stream) exist only transiently inside the scan stage and k rows
    * of them survive. No corpus-volume string shuffle anywhere. */
  val TopNgramN = 8
  val TopNgramK = 20

  def topDupNgrams(docs: DataFrame, textCol: String = "text",
      n: Int = TopNgramN, k: Int = TopNgramK): DataFrame = {
    val tk = docs.select(col("doc_id"), tokens(col(textCol)).as("toks"))
    val nToks = size(col("toks")).cast("long")
    val starts = when(nToks >= n, sequence(lit(1L), nToks - (n - 1)))
      .otherwise(array().cast("array<bigint>"))
    def gramAt(s: Column): Column =
      array_join(slice(col("toks"), s.cast("int"), lit(n)), " ")
    val hashes = tk.select(col("doc_id"),
      explode(transform(starts, s => md5(gramAt(s)))).as("gram_h"))
    // two-phase distinct (r16, guide §2.3 + the dq_profile idiom):
    // countDistinct(doc_id) NEXT TO count(1) forces an Expand — every
    // gram occurrence shuffled twice (16.8 MB at sf0.1, 2x corpus gram
    // volume at scale). Phase 1 combines occurrences per (gram, doc)
    // map-side, so the shuffle carries distinct pairs once; phase 2
    // rolls up. n_docs = count of distinct pairs, n_occ = Σ per-pair
    // counts — identical values by construction.
    val top = hashes.groupBy("gram_h", "doc_id")
      .agg(count(lit(1)).as("c"))
      .groupBy("gram_h")
      .agg(count(lit(1)).as("n_docs"), sum("c").as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("gram_h").asc)
      .limit(k)
    val gramsTxt = tk
      .select(explode(transform(starts, s => gramAt(s))).as("gram"))
      .select(md5(col("gram")).as("gram_h"), col("gram"))
    gramsTxt.join(broadcast(top), Seq("gram_h"))
      .groupBy("gram_h", "n_docs", "n_occ")
      .agg(min(col("gram")).as("gram"))
      .select(col("gram"), col("gram_h"), col("n_docs"), col("n_occ"))
  }

  // ------------------------------------------------------------ queries

  type QFn = (SparkSession, String) => DataFrame

  val queries: Map[String, QFn] = Map(
    "dedup_exact" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(md5(lower(trim(col("text")))).as("content_hash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_doc_id"))),
    "dedup_minhash_sig" -> ((s, d) => minhashSignatures(t(s, d, "documents"))),
    "dedup_lsh_pairs" -> ((s, d) => lshCandidatePairs(t(s, d, "documents"))),
    "dedup_lsh_recall" -> ((s, d) => lshRecall(t(s, d, "documents"))),
    "dedup_ngram_jaccard" -> ((s, d) => ngramJaccardPairs(t(s, d, "documents"))),
    "dedup_containment" -> ((s, d) => containmentPairs(t(s, d, "documents"))),
    "dedup_simhash" -> ((s, d) => simhash(t(s, d, "documents"))),
    "dedup_simhash_pairs" -> ((s, d) => simhashPairs(t(s, d, "documents"))),
    "dedup_span_exact" -> ((s, d) => spanDups(t(s, d, "documents"))),
    "dedup_span_anchored" -> ((s, d) => spanDupsAnchored(t(s, d, "documents"))),
    "dedup_span_remove" -> ((s, d) => spanRemove(t(s, d, "documents"))),
    "dedup_winnow_pairs" -> ((s, d) => winnowPairs(t(s, d, "documents"))),
    "dedup_cdc_chunks" -> ((s, d) => cdcChunks(t(s, d, "documents"))),
    "dedup_top_ngrams" -> ((s, d) => topDupNgrams(t(s, d, "documents"))),
    "dedup_incr_bloom" -> ((s, d) => incrementalNovelPairs(t(s, d, "events"))),
    // deterministic eval split (doc_id % 50) stands in for the
    // benchmark corpus; every 49/50 "train" doc is probed against it
    "dedup_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      decontaminate(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
    }),
    // the same deterministic benchmark split, scored from the eval side
    "dedup_contamination_report" -> ((s, d) => {
      val docs = t(s, d, "documents")
      contaminationReport(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
    }),
    // the same split again as the attribution serving query batch
    "dedup_attribution_topk" -> ((s, d) => {
      val docs = t(s, d, "documents")
      attributionTopK(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
    }),
    // the PHYSICAL attribution index: write the band/shingle artifacts
    // for the full corpus, then report the per-band manifest READ BACK
    // from the band table — the oracle recomputes the banding from the
    // parquet truth, so a write/load corruption (dropped rows, drifted
    // key rendering, wrong bucket values) breaks the hash
    "serve_attr_index_write" -> ((s, d) => {
      val dir = graft.serving.IndexStore.scratchDir(d, "attr_full")
      graft.serving.IndexStore.writeAttr(t(s, d, "documents"), dir)
      graft.serving.IndexStore.loadAttr(s, dir).bands
        .groupBy("band", "key").agg(count(lit(1)).as("df"))
        .groupBy("band").agg(sum("df").as("n_rows"),
          count(lit(1)).as("n_keys"), max("df").as("max_df"))
        .select(col("band").cast("long").as("band"), col("n_rows"),
          col("n_keys"), col("max_df"))
    }),
    // the attribution APPEND lifecycle (round 16): band/shingle rows
    // are per-doc derivable, so the delta split appends directory-
    // additively — append ≡ rebuild EXACTLY (no stale window), which
    // is why this shares the write oracle's recomputation over the
    // full corpus; directory-additivity itself is spec-pinned
    // (AttrLifecycleSpec)
    "serve_attr_index_append" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val newPred = col("doc_id") % 10 === 7
      val dir = graft.serving.IndexStore.scratchDir(d, "attr_append")
      graft.serving.IndexStore.writeAttr(docs.filter(!newPred), dir)
      graft.serving.IndexStore.appendAttr(docs.filter(newPred), dir)
      graft.serving.IndexStore.loadAttr(s, dir).bands
        .groupBy("band", "key").agg(count(lit(1)).as("df"))
        .groupBy("band").agg(sum("df").as("n_rows"),
          count(lit(1)).as("n_keys"), max("df").as("max_df"))
        .select(col("band").cast("long").as("band"), col("n_rows"),
          col("n_keys"), col("max_df"))
    }),
    // the attribution DELETE lifecycle completed (round 16 — formerly
    // the one family whose tombstones accumulated until a rebuild):
    // tombstone the contaminated train docs, then compactAttr
    // physically drops them from bands AND shingles in a new
    // generation; the oracle rebands truth-minus-deleted, so a leaked
    // posting breaks the hash
    "serve_attr_index_delete" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dir = graft.serving.IndexStore.scratchDir(d, "attr_delete")
      graft.serving.IndexStore.writeAttr(docs, dir)
      graft.serving.IndexStore.deleteAttr(
        decontaminate(docs.filter(col("doc_id") % 50 =!= 0),
            docs.filter(col("doc_id") % 50 === 0))
          .filter(col("contaminated")).select("doc_id"), dir)
      graft.serving.IndexStore.compactAttr(s, dir)
      graft.serving.IndexStore.loadAttr(s, dir).bands
        .groupBy("band", "key").agg(count(lit(1)).as("df"))
        .groupBy("band").agg(sum("df").as("n_rows"),
          count(lit(1)).as("n_keys"), max("df").as("max_df"))
        .select(col("band").cast("long").as("band"), col("n_rows"),
          col("n_keys"), col("max_df"))
    }),
    // the streaming serve's batch twin: build + persist the band /
    // shingle artifacts for the train split, then serve the eval
    // split from them (probed buckets prune both scans) — parity with
    // attributionTopK is StreamAttributionSpec's first pin
    "stream_attribution" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dir = graft.serving.IndexStore.scratchDir(d, "attr")
      graft.serving.IndexStore.ensureAttr(
        docs.filter(col("doc_id") % 50 =!= 0), dir)
      graft.streaming.StreamAttribution.serveTopK(
        docs.filter(col("doc_id") % 50 === 0),
        graft.serving.IndexStore.loadAttr(s, dir))
    }),
    // streaming ingest-time dedup contract, batch-relational form:
    // bucket owner = min doc_id per LSH band bucket, doc kept iff it
    // owns EVERY one of its buckets (the aggressive candidate-level
    // filter — any collision drops, no rerank). The streaming operator
    // (graft.streaming.StreamLshDedup, chained transformWithState with
    // TTL'd bucket state on RocksDB) is output-parity-pinned against
    // this exact formulation in StreamLshDedupSpec.
    "dedup_stream_keep" -> ((s, d) =>
      graft.streaming.StreamLshDedup.batchEquivalent(t(s, d, "documents"))
        .select(col("doc_id"), col("lang"), col("source"))),

    // the EXPIRING streaming contract, batch-relational form: bucket
    // touches sessionized by event time (gap > retention = the expiry
    // timer cleared the claim), session's first toucher owns, doc kept
    // iff it owns every bucket session. Synthetic event time 1 s per
    // doc_id; retention 100 s splits the corpus's bucket-revisit gaps
    // (median ~154 s at sf0.01) so both expired and live collisions
    // occur. Streaming side: StreamLshDedup.keepExpiring (event-time
    // timers, watermark eviction), parity-pinned in StreamLshDedupSpec.
    "dedup_stream_keep_recent" -> ((s, d) =>
      graft.streaming.StreamLshDedup.batchEquivalentExpiring(
          t(s, d, "documents")
            .withColumn("ts_us", col("doc_id") * lit(1000000L)),
          retentionUs = 100L * 1000000)
        .select(col("doc_id"), col("lang"), col("source"))),

    // the end-to-end materializer: the deduplicated corpus itself
    // (keeper = lowest doc_id per exact content group)
    "dedup_keep" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(lower(trim(col("text"))))).orderBy(col("doc_id").asc)
      t(s, d, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("source"))
    })
  )

  /** DuckDB rendering of the decontaminate FLAGGED id set (the
    * doc_id % 50 benchmark split) — shared with the text-index delete
    * oracle, which reuses this corpus as its deletion set. */
  private[ops] def sqlContaminatedIds: String =
    s"""SELECT DISTINCT doc_id FROM (
       |  SELECT doc_id, unnest($sqlShingleHashes) AS sh FROM documents) t
       |WHERE doc_id % 50 != 0 AND sh IN (
       |  SELECT DISTINCT sh FROM (
       |    SELECT doc_id, unnest($sqlShingleHashes) AS sh FROM documents) e
       |  WHERE e.doc_id % 50 = 0)""".stripMargin

  private val sqlShingleHashes =
    s"""list_distinct(list_transform(
       |  CASE WHEN len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '')) >= 3
       |  THEN list_transform(range(1, len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '')) - 1),
       |    i -> list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '')[i] || ' ' ||
       |         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '')[i+1] || ' ' ||
       |         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '')[i+2])
       |  ELSE [] END,
       |  s -> ('0x' || substr(md5(s),1,15))::BIGINT % ${HashMod}))""".stripMargin

  private def sqlMinhash(i: Int) =
    s"coalesce(list_min(list_transform($sqlShingleHashes, h -> (${A(i)}*h + ${B(i)}) % ${HashMod})), ${EmptySig})"

  private val sqlSimhashBits = (0 until 60).map(j =>
    s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(",\n    ")
  // NULL b_j (doc with zero tokens, via LEFT JOIN) falls to ELSE 0 in
  // every CASE, so token-less docs combine to simhash 0 — matching the
  // kernel.
  private val sqlSimhashCombine = (0 until 60).map(j =>
    s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")

  // the window-function form of winnowing: the fingerprint SET
  // {min of each w-gram window} is identical to the engine's
  // HOF-per-row derivation
  private val sqlWinnow = {
    val (k, w) = (WinnowK, WinnowW)
    s"""WITH docs AS (
       |  SELECT doc_id, lower(text) AS t FROM documents
       |  WHERE length(text) >= ${k + w - 1}),
       |grams AS (
       |  SELECT doc_id, g.i AS pos,
       |    ('0x' || substr(md5(substr(t, g.i::INT, $k)), 1, 15))::BIGINT AS h,
       |    length(t) - ${k - 1} AS n_grams
       |  FROM docs, unnest(range(1, greatest(length(t) - ${k - 1}, 0) + 1)) AS g(i)),
       |wins AS (
       |  SELECT doc_id, pos, n_grams,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS fp
       |  FROM grams),
       |fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= n_grams - ${w - 1})""".stripMargin
  }

  /** Shared by `dedup_attribution_topk` and its streaming twin
    * `stream_attribution` (batch-parity spec-pinned). */
  private def attributionSql: String =
    s"""WITH sigs AS (
         |  SELECT doc_id, ${sqlMinhash(0)} AS m0, ${sqlMinhash(1)} AS m1,
         |    ${sqlMinhash(2)} AS m2, ${sqlMinhash(3)} AS m3
         |  FROM documents),
         |bands AS (
         |  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS key FROM sigs
         |  UNION ALL
         |  SELECT doc_id, 1 AS band, m2::VARCHAR || '_' || m3::VARCHAR AS key FROM sigs),
         |cand AS (
         |  SELECT DISTINCT q.doc_id AS q_id, t.doc_id AS t_id
         |  FROM (SELECT * FROM bands WHERE doc_id % 50 = 0) q
         |  JOIN (SELECT * FROM bands WHERE doc_id % 50 != 0) t
         |    USING (band, key)),
         |arrs AS (SELECT doc_id, $sqlShingleHashes AS shs FROM documents),
         |sc AS (
         |  SELECT c.q_id, c.t_id,
         |    CAST(len(list_intersect(qa.shs, ta.shs)) AS BIGINT) AS n_inter,
         |    CAST(len(qa.shs) + len(ta.shs)
         |      - len(list_intersect(qa.shs, ta.shs)) AS BIGINT) AS n_union
         |  FROM cand c
         |  JOIN arrs qa ON c.q_id = qa.doc_id
         |  JOIN arrs ta ON c.t_id = ta.doc_id),
         |rk AS (
         |  SELECT q_id, t_id, n_inter,
         |    CAST((n_inter * 1000000) // GREATEST(n_union, 1) AS BIGINT)
         |      AS jacc_ppm
         |  FROM sc)
         |SELECT q_id, t_id, n_inter, jacc_ppm, rnk FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY jacc_ppm DESC, t_id ASC) AS BIGINT) AS rnk
         |  FROM rk) WHERE rnk <= $AttributionK""".stripMargin

  val oracle: Map[String, String] = Map(
    // topDupNgrams: every n-gram start, hash-keyed spread counts,
    // deterministic top-k (n_docs DESC, n_occ DESC, gram_h ASC)
    "dedup_top_ngrams" ->
      s"""WITH tk AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
         |      x -> x != '') AS toks
         |  FROM documents),
         |st AS (
         |  SELECT doc_id, toks,
         |    unnest(CASE WHEN len(toks) >= $TopNgramN
         |      THEN range(1, len(toks) - ${TopNgramN - 2})
         |      ELSE []::BIGINT[] END) AS s
         |  FROM tk),
         |g AS (
         |  SELECT doc_id,
         |    array_to_string(toks[s : s + ${TopNgramN - 1}], ' ') AS gram
         |  FROM st),
         |c AS (
         |  SELECT md5(gram) AS gram_h,
         |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    COUNT(1)::BIGINT AS n_occ, MIN(gram) AS gram
         |  FROM g GROUP BY 1
         |  HAVING COUNT(DISTINCT doc_id) >= 2)
         |SELECT gram, gram_h, n_docs, n_occ FROM c
         |ORDER BY n_docs DESC, n_occ DESC, gram_h ASC LIMIT $TopNgramK""".stripMargin,

    // cdcChunks: token-ordinal replay of the kernel — boundary AFTER
    // a hash-zero token, chunk index = boundaries strictly before,
    // chunk md5 over the space-rejoined tokens, sharing rollup
    "dedup_cdc_chunks" ->
      s"""WITH tk AS (
         |  SELECT doc_id, i, toks[i] AS tok
         |  FROM (SELECT doc_id,
         |      list_filter(string_split_regex(trim(lower(text)), '\\s+'),
         |        x -> x != '') AS toks
         |    FROM documents),
         |    unnest(range(1, len(toks) + 1)) AS t(i)),
         |b AS (
         |  SELECT doc_id, i, tok,
         |    CASE WHEN ('0x' || substr(md5(tok), 1, 15))::BIGINT
         |      % $HashMod % $CdcMod = 0 THEN 1 ELSE 0 END AS brk
         |  FROM tk),
         |cix AS (
         |  SELECT doc_id, i, tok,
         |    COALESCE(SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cidx
         |  FROM b),
         |ch AS (
         |  SELECT doc_id, CAST(cidx AS BIGINT) AS chunk_idx,
         |    CAST(COUNT(1) AS BIGINT) AS n_toks,
         |    md5(string_agg(tok, ' ' ORDER BY i)) AS chunk_md5
         |  FROM cix GROUP BY doc_id, cidx),
         |sh AS (SELECT chunk_md5,
         |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_sharing
         |  FROM ch GROUP BY 1)
         |SELECT ch.doc_id, ch.chunk_idx, ch.n_toks, ch.chunk_md5,
         |  sh.n_docs_sharing
         |FROM ch JOIN sh USING (chunk_md5)""".stripMargin,

    "dedup_winnow_pairs" ->
      s"""$sqlWinnow,
         |sizes AS (SELECT doc_id, COUNT(1) AS n_fp FROM fps GROUP BY 1),
         |freq AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(1) BETWEEN 2 AND 50),
         |pairs AS (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(1) AS n_shared
         |  FROM (SELECT * FROM fps WHERE fp IN (SELECT fp FROM freq)) x
         |  JOIN (SELECT * FROM fps WHERE fp IN (SELECT fp FROM freq)) y
         |    ON x.fp = y.fp AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT p.d1, p.d2, p.n_shared,
         |  p.n_shared::DOUBLE / least(s1.n_fp, s2.n_fp)::DOUBLE AS overlap
         |FROM pairs p
         |JOIN sizes s1 ON p.d1 = s1.doc_id
         |JOIN sizes s2 ON p.d2 = s2.doc_id
         |WHERE p.n_shared::DOUBLE / least(s1.n_fp, s2.n_fp)::DOUBLE >= 0.5""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS content_hash,
        |  COUNT(1) AS n_docs, MIN(doc_id) AS keeper_doc_id
        |FROM documents GROUP BY 1""".stripMargin,

    // the bloom is pure shuffle-reduction machinery (zero false
    // negatives + exact anti-join confirm), so the result IS the plain
    // batch-vs-history anti-join the oracle recomputes directly
    "dedup_incr_bloom" ->
      s"""WITH e AS (
         |  SELECT user_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item,
         |    event_id, ts
         |  FROM events),
         |batch AS (
         |  SELECT user_id, item, COUNT(1) AS n_events,
         |    MIN(event_id) AS first_event_id
         |  FROM e WHERE ts >= TIMESTAMP '$IncrCutTs'
         |  GROUP BY 1, 2),
         |hist AS (
         |  SELECT DISTINCT user_id, item FROM e
         |  WHERE ts < TIMESTAMP '$IncrCutTs')
         |SELECT b.user_id, b.item, b.n_events, b.first_event_id
         |FROM batch b ANTI JOIN hist h
         |  ON b.user_id = h.user_id AND b.item = h.item""".stripMargin,

    "dedup_minhash_sig" ->
      s"""SELECT doc_id, ${sqlMinhash(0)} AS m0, ${sqlMinhash(1)} AS m1,
         |  ${sqlMinhash(2)} AS m2, ${sqlMinhash(3)} AS m3
         |FROM documents""".stripMargin,

    // the band-artifact manifest recomputed from parquet truth: per
    // band, total posting rows, distinct keys, and the largest bucket
    // (the hot-band guard's observable)
    "serve_attr_index_write" ->
      s"""WITH sigs AS (
         |  SELECT doc_id, ${sqlMinhash(0)} AS m0, ${sqlMinhash(1)} AS m1,
         |    ${sqlMinhash(2)} AS m2, ${sqlMinhash(3)} AS m3
         |  FROM documents),
         |bands AS (
         |  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS key FROM sigs
         |  UNION ALL
         |  SELECT doc_id, 1 AS band, m2::VARCHAR || '_' || m3::VARCHAR AS key FROM sigs),
         |per AS (SELECT band, key, COUNT(1) AS df FROM bands GROUP BY 1, 2)
         |SELECT CAST(band AS BIGINT) AS band, CAST(SUM(df) AS BIGINT) AS n_rows,
         |  COUNT(1)::BIGINT AS n_keys, CAST(MAX(df) AS BIGINT) AS max_df
         |FROM per GROUP BY 1""".stripMargin,

    // append ≡ rebuild exactly (per-doc derivable rows) — the same
    // full-corpus rebanding as the write oracle
    "serve_attr_index_append" ->
      s"""WITH sigs AS (
         |  SELECT doc_id, ${sqlMinhash(0)} AS m0, ${sqlMinhash(1)} AS m1,
         |    ${sqlMinhash(2)} AS m2, ${sqlMinhash(3)} AS m3
         |  FROM documents),
         |bands AS (
         |  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS key FROM sigs
         |  UNION ALL
         |  SELECT doc_id, 1 AS band, m2::VARCHAR || '_' || m3::VARCHAR AS key FROM sigs),
         |per AS (SELECT band, key, COUNT(1) AS df FROM bands GROUP BY 1, 2)
         |SELECT CAST(band AS BIGINT) AS band, CAST(SUM(df) AS BIGINT) AS n_rows,
         |  COUNT(1)::BIGINT AS n_keys, CAST(MAX(df) AS BIGINT) AS max_df
         |FROM per GROUP BY 1""".stripMargin,

    // compaction physically drops the tombstoned docs: reband
    // truth-minus-deleted
    "serve_attr_index_delete" ->
      s"""WITH del AS ($sqlContaminatedIds),
         |docs2 AS (
         |  SELECT * FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM del)),
         |sigs AS (
         |  SELECT doc_id, ${sqlMinhash(0)} AS m0, ${sqlMinhash(1)} AS m1,
         |    ${sqlMinhash(2)} AS m2, ${sqlMinhash(3)} AS m3
         |  FROM docs2),
         |bands AS (
         |  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS key FROM sigs
         |  UNION ALL
         |  SELECT doc_id, 1 AS band, m2::VARCHAR || '_' || m3::VARCHAR AS key FROM sigs),
         |per AS (SELECT band, key, COUNT(1) AS df FROM bands GROUP BY 1, 2)
         |SELECT CAST(band AS BIGINT) AS band, CAST(SUM(df) AS BIGINT) AS n_rows,
         |  COUNT(1)::BIGINT AS n_keys, CAST(MAX(df) AS BIGINT) AS max_df
         |FROM per GROUP BY 1""".stripMargin,

    "dedup_lsh_pairs" ->
      s"""WITH sigs AS (
         |  SELECT doc_id, ${sqlMinhash(0)} AS m0, ${sqlMinhash(1)} AS m1,
         |    ${sqlMinhash(2)} AS m2, ${sqlMinhash(3)} AS m3
         |  FROM documents),
         |bands AS (
         |  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS key FROM sigs
         |  UNION ALL
         |  SELECT doc_id, 1 AS band, m2::VARCHAR || '_' || m3::VARCHAR AS key FROM sigs)
         |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id""".stripMargin,

    "dedup_stream_keep" ->
      s"""WITH sigs AS (
         |  SELECT doc_id, ${sqlMinhash(0)} AS m0, ${sqlMinhash(1)} AS m1,
         |    ${sqlMinhash(2)} AS m2, ${sqlMinhash(3)} AS m3
         |  FROM documents),
         |bands AS (
         |  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS key FROM sigs
         |  UNION ALL
         |  SELECT doc_id, 1 AS band, m2::VARCHAR || '_' || m3::VARCHAR AS key FROM sigs),
         |owners AS (
         |  SELECT band, key, MIN(doc_id) AS owner FROM bands GROUP BY 1, 2),
         |verdict AS (
         |  SELECT b.doc_id,
         |    MAX(CASE WHEN o.owner != b.doc_id THEN 1 ELSE 0 END) AS collided
         |  FROM bands b JOIN owners o ON b.band = o.band AND b.key = o.key
         |  GROUP BY 1)
         |SELECT d.doc_id, d.lang, d.source
         |FROM verdict v JOIN documents d ON v.doc_id = d.doc_id
         |WHERE v.collided = 0""".stripMargin,

    // sessionized ownership: ts_us = doc_id * 1e6, retention 100 s
    "dedup_stream_keep_recent" ->
      s"""WITH sigs AS (
         |  SELECT doc_id, ${sqlMinhash(0)} AS m0, ${sqlMinhash(1)} AS m1,
         |    ${sqlMinhash(2)} AS m2, ${sqlMinhash(3)} AS m3
         |  FROM documents),
         |bands AS (
         |  SELECT doc_id, doc_id * 1000000 AS ts_us,
         |    0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS key FROM sigs
         |  UNION ALL
         |  SELECT doc_id, doc_id * 1000000, 1,
         |    m2::VARCHAR || '_' || m3::VARCHAR FROM sigs),
         |sess AS (
         |  SELECT doc_id, ts_us, band, key,
         |    CASE WHEN ts_us - lag(ts_us) OVER w IS NULL
         |           OR ts_us - lag(ts_us) OVER w > 100000000
         |         THEN 1 ELSE 0 END AS new_sess
         |  FROM bands WINDOW w AS (PARTITION BY band, key ORDER BY ts_us, doc_id)),
         |numbered AS (
         |  SELECT *, SUM(new_sess) OVER
         |    (PARTITION BY band, key ORDER BY ts_us, doc_id) AS sess_id
         |  FROM sess),
         |owned AS (
         |  SELECT doc_id, FIRST_VALUE(doc_id) OVER
         |    (PARTITION BY band, key, sess_id ORDER BY ts_us, doc_id) AS owner
         |  FROM numbered),
         |verdict AS (
         |  SELECT doc_id,
         |    MAX(CASE WHEN owner != doc_id THEN 1 ELSE 0 END) AS collided
         |  FROM owned GROUP BY 1)
         |SELECT d.doc_id, d.lang, d.source
         |FROM verdict v JOIN documents d ON v.doc_id = d.doc_id
         |WHERE v.collided = 0""".stripMargin,

    // Verbatim replay of the LSH recall audit: subsample → ungated
    // exact-Jaccard truth (integer ppm) → banded-minhash candidates on
    // the SAME subsample → per-band recall.
    "dedup_lsh_recall" -> {
      val tauPpm = math.round(LshRecallTau * 1000000L)
      s"""WITH sub AS (
         |  SELECT * FROM documents WHERE doc_id %
         |    (SELECT GREATEST(1, COUNT(*) // $LshAuditTarget) FROM documents) = 0),
         |ds AS (SELECT doc_id, unnest($sqlShingleHashes) AS sh FROM sub),
         |sizes AS (SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n FROM ds GROUP BY 1),
         |shrd AS (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2, CAST(COUNT(1) AS BIGINT) AS shared
         |  FROM ds x JOIN ds y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |ex AS (
         |  SELECT s.d1, s.d2,
         |    (s.shared * 1000000) // (s1.n + s2.n - s.shared) AS jacc_ppm
         |  FROM shrd s JOIN sizes s1 ON s.d1 = s1.doc_id
         |  JOIN sizes s2 ON s.d2 = s2.doc_id
         |  WHERE (s.shared * 1000000) // (s1.n + s2.n - s.shared) >= $tauPpm),
         |sigs AS (
         |  SELECT doc_id, ${sqlMinhash(0)} AS m0, ${sqlMinhash(1)} AS m1,
         |    ${sqlMinhash(2)} AS m2, ${sqlMinhash(3)} AS m3
         |  FROM sub),
         |bands AS (
         |  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS key FROM sigs
         |  UNION ALL
         |  SELECT doc_id, 1 AS band, m2::VARCHAR || '_' || m3::VARCHAR AS key FROM sigs),
         |found AS (
         |  SELECT DISTINCT a.doc_id AS f1, b.doc_id AS f2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |j AS (
         |  SELECT e.jacc_ppm,
         |    CASE WHEN f.f1 IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM ex e LEFT JOIN found f ON e.d1 = f.f1 AND e.d2 = f.f2)
         |SELECT CASE WHEN jacc_ppm >= 500000 THEN 'hi' ELSE 'lo' END AS band,
         |  CAST(COUNT(1) AS BIGINT) AS n_exact,
         |  CAST(SUM(hit) AS BIGINT) AS n_found,
         |  CAST((SUM(hit) * 1000000) // COUNT(1) AS BIGINT) AS recall_ppm
         |FROM j GROUP BY 1""".stripMargin
    },

    "dedup_ngram_jaccard" ->
      s"""WITH ds AS (
         |  SELECT doc_id, unnest($sqlShingleHashes) AS sh FROM documents),
         |sizes AS (SELECT doc_id, COUNT(1) AS n_sh FROM ds GROUP BY 1),
         |rare AS (SELECT sh FROM ds GROUP BY sh HAVING COUNT(1) <= 50 AND COUNT(1) >= 2),
         |cand AS (
         |  SELECT a.d1, a.d2 FROM (
         |    SELECT x.doc_id AS d1, y.doc_id AS d2
         |    FROM (SELECT * FROM ds WHERE sh IN (SELECT sh FROM rare)) x
         |    JOIN (SELECT * FROM ds WHERE sh IN (SELECT sh FROM rare)) y
         |      ON x.sh = y.sh AND x.doc_id < y.doc_id) a
         |  GROUP BY 1, 2 HAVING COUNT(1) >= 2),
         |inter AS (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(1) AS n_inter
         |  FROM ds x JOIN ds y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT i.d1, i.d2, i.n_inter,
         |  i.n_inter::DOUBLE / (s1.n_sh + s2.n_sh - i.n_inter)::DOUBLE AS jaccard
         |FROM cand c
         |JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
         |JOIN sizes s1 ON i.d1 = s1.doc_id
         |JOIN sizes s2 ON i.d2 = s2.doc_id
         |WHERE i.n_inter::DOUBLE / (s1.n_sh + s2.n_sh - i.n_inter)::DOUBLE >= 0.2""".stripMargin,

    "dedup_keep" ->
      """SELECT doc_id, lang, source FROM documents
        |QUALIFY ROW_NUMBER() OVER (
        |  PARTITION BY md5(lower(trim(text))) ORDER BY doc_id ASC) = 1""".stripMargin,

    // strided span windows: starts 1, 1+stride, … ≤ nToks−(spanSize−1);
    // DuckDB range() is stop-exclusive so stop = len − (spanSize − 2)
    "dedup_span_exact" ->
      s"""WITH tk AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
         |      x -> x != '') AS toks
         |  FROM documents),
         |st AS (
         |  SELECT doc_id, toks,
         |    unnest(CASE WHEN len(toks) >= ${SpanSize}
         |      THEN range(1, len(toks) - ${SpanSize - 2}, ${SpanStride})
         |      ELSE []::BIGINT[] END) AS s
         |  FROM tk),
         |spans AS (
         |  SELECT doc_id,
         |    md5(array_to_string(toks[s : s + ${SpanSize - 1}], ' ')) AS span_h
         |  FROM st),
         |shared AS (
         |  SELECT span_h FROM spans GROUP BY 1
         |  HAVING COUNT(DISTINCT doc_id) >= 2),
         |perdoc AS (
         |  SELECT sp.doc_id, COUNT(1) AS n_spans,
         |    SUM(CASE WHEN sh.span_h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |      AS n_dup_spans
         |  FROM spans sp LEFT JOIN shared sh ON sp.span_h = sh.span_h
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(p.n_spans, 0)::BIGINT AS n_spans,
         |  COALESCE(p.n_dup_spans, 0)::BIGINT AS n_dup_spans,
         |  (COALESCE(p.n_dup_spans, 0) * 1000000
         |    // GREATEST(COALESCE(p.n_spans, 0), 1))::BIGINT AS dup_frac_ppm
         |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id""".stripMargin,

    // content-defined spans: starts at token-hash anchors (h ≡ 0 mod
    // AnchorMod), offset-independent by construction
    "dedup_span_anchored" ->
      s"""WITH tk AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
         |      x -> x != '') AS toks
         |  FROM documents),
         |st AS (
         |  SELECT doc_id, toks,
         |    unnest(CASE WHEN len(toks) >= ${SpanSize}
         |      THEN list_filter(range(1, len(toks) - ${SpanSize - 2}),
         |        i -> (('0x' || substr(md5(toks[i::INT]),1,15))::BIGINT
         |              % ${HashMod}) % ${AnchorMod} = 0)
         |      ELSE []::BIGINT[] END) AS s
         |  FROM tk),
         |spans AS (
         |  SELECT doc_id,
         |    md5(array_to_string(toks[s : s + ${SpanSize - 1}], ' ')) AS span_h
         |  FROM st),
         |shared AS (
         |  SELECT span_h FROM spans GROUP BY 1
         |  HAVING COUNT(DISTINCT doc_id) >= 2),
         |perdoc AS (
         |  SELECT sp.doc_id, COUNT(1) AS n_spans,
         |    SUM(CASE WHEN sh.span_h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |      AS n_dup_spans
         |  FROM spans sp LEFT JOIN shared sh ON sp.span_h = sh.span_h
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(p.n_spans, 0)::BIGINT AS n_spans,
         |  COALESCE(p.n_dup_spans, 0)::BIGINT AS n_dup_spans,
         |  (COALESCE(p.n_dup_spans, 0) * 1000000
         |    // GREATEST(COALESCE(p.n_spans, 0), 1))::BIGINT AS dup_frac_ppm
         |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id""".stripMargin,

    // span removal: token kept iff no cross-document-shared strided
    // span covers it; parallel unnest of (tok, idx) zips positionally
    "dedup_span_remove" -> s"WITH ${spanRemoveCtes("documents")}\n$spanRemoveSelect",

    "dedup_containment" ->
      s"""WITH ds AS (
         |  SELECT doc_id, unnest($sqlShingleHashes) AS sh FROM documents),
         |sizes AS (SELECT doc_id, COUNT(1) AS n_sh FROM ds GROUP BY 1),
         |rare AS (SELECT sh FROM ds GROUP BY sh HAVING COUNT(1) <= 50 AND COUNT(1) >= 2),
         |cand AS (
         |  SELECT a.d1, a.d2 FROM (
         |    SELECT x.doc_id AS d1, y.doc_id AS d2
         |    FROM (SELECT * FROM ds WHERE sh IN (SELECT sh FROM rare)) x
         |    JOIN (SELECT * FROM ds WHERE sh IN (SELECT sh FROM rare)) y
         |      ON x.sh = y.sh AND x.doc_id < y.doc_id) a
         |  GROUP BY 1, 2 HAVING COUNT(1) >= 2),
         |inter AS (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(1) AS n_inter
         |  FROM ds x JOIN ds y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT i.d1, i.d2, i.n_inter,
         |  i.n_inter::DOUBLE / LEAST(s1.n_sh, s2.n_sh)::DOUBLE AS containment
         |FROM cand c
         |JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
         |JOIN sizes s1 ON i.d1 = s1.doc_id
         |JOIN sizes s2 ON i.d2 = s2.doc_id
         |WHERE i.n_inter::DOUBLE / LEAST(s1.n_sh, s2.n_sh)::DOUBLE >= 0.5""".stripMargin,

    "dedup_decontaminate" ->
      s"""WITH ds AS (
         |  SELECT doc_id, unnest($sqlShingleHashes) AS sh FROM documents),
         |ev AS (SELECT DISTINCT sh FROM ds WHERE doc_id % 50 = 0),
         |hits AS (
         |  SELECT doc_id, COUNT(1) AS n_hit FROM ds
         |  WHERE doc_id % 50 != 0 AND sh IN (SELECT sh FROM ev)
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit_shingles,
         |  COALESCE(h.n_hit, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
         |WHERE d.doc_id % 50 != 0""".stripMargin,

    // attributionTopK: the committed band CTEs split query/train,
    // list_intersect rerank (shingles are distinct), integer-ppm
    // Jaccard ranking with the (jacc desc, t_id asc) tie-break
    "dedup_attribution_topk" -> attributionSql,

    // the streaming serve's batch twin reproduces attributionTopK row
    // for row (StreamAttributionSpec) — same oracle by construction
    "stream_attribution" -> attributionSql,



    // contaminationReport: the decontaminate split mirrored — train's
    // distinct shingle set, per-eval-doc hit counts, exact-ppm overlap
    "dedup_contamination_report" ->
      s"""WITH ds AS (
         |  SELECT doc_id, unnest($sqlShingleHashes) AS sh FROM documents),
         |tr AS (SELECT DISTINCT sh FROM ds WHERE doc_id % 50 != 0),
         |sizes AS (
         |  SELECT doc_id, CAST(len($sqlShingleHashes) AS BIGINT) AS n_shingles
         |  FROM documents WHERE doc_id % 50 = 0),
         |hits AS (
         |  SELECT doc_id, COUNT(1) AS n_hit FROM ds
         |  WHERE doc_id % 50 = 0 AND sh IN (SELECT sh FROM tr)
         |  GROUP BY 1)
         |SELECT s.doc_id, s.n_shingles,
         |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit_shingles,
         |  CAST((COALESCE(h.n_hit, 0) * 1000000) // GREATEST(s.n_shingles, 1)
         |    AS BIGINT) AS overlap_ppm
         |FROM sizes s LEFT JOIN hits h USING (doc_id)""".stripMargin,

    // oracle = exhaustive pairwise hamming (the banded join must find
    // exactly these pairs — pigeonhole completeness)
    "dedup_simhash_pairs" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != ''))),1,15))::BIGINT AS h
         |  FROM documents),
         |bits AS (
         |  SELECT doc_id,
         |    $sqlSimhashBits
         |  FROM toks GROUP BY doc_id),
         |sh AS (SELECT d.doc_id, CAST($sqlSimhashCombine AS BIGINT) AS simhash
         |       FROM documents d LEFT JOIN bits USING (doc_id))
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    "dedup_simhash" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != ''))),1,15))::BIGINT AS h
         |  FROM documents),
         |bits AS (
         |  SELECT doc_id,
         |    $sqlSimhashBits
         |  FROM toks GROUP BY doc_id)
         |SELECT d.doc_id, CAST($sqlSimhashCombine AS BIGINT) AS simhash
         |FROM documents d LEFT JOIN bits USING (doc_id)""".stripMargin
  )
}
