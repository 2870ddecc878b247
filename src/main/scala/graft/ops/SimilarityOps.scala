package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t

/** Approximate-nearest-neighbor / similarity-search operators over an
  * embedding column (`array<float>`).
  *
  *  - [[cosine]]: double-precision dot/norm via zip_with + aggregate
  *    HOFs (codegen'd, sequential left-to-right accumulation — matches
  *    DuckDB's list_reduce order for oracle parity).
  *  - [[bruteForceTopK]]: exact top-k for a query subset — the
  *    correctness baseline. At scale: queries × corpus is a broadcast
  *    join (queries are small), corpus-partition-local top-k via
  *    window; no all-pairs shuffle.
  *  - [[lshBuckets]]: random-hyperplane LSH — integer-LCG planes, so
  *    the bucketing is reproducible in plain SQL (the scale path:
  *    candidate generation becomes an equi-join on bucket id).
  */
object SimilarityOps {

  private lazy val simLog =
    org.slf4j.LoggerFactory.getLogger("graft.ops.SimilarityOps")

  /** Sequential double-precision dot product of two float arrays —
    * native codegen'd expression (identical accumulation order to the
    * HOF `aggregate(zip_with(...))` form and DuckDB's list_reduce). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** True iff a precomputed norm admits a DEFINED cosine: positive and
    * finite. Null-safe (NULL embedding → NULL norm → false). The isnan
    * screen is load-bearing: Spark's total order ranks NaN GREATER
    * than every number, so an unscreened NaN norm passes `> 0` — and a
    * NaN similarity then outranks every real one in a `>= tau` filter
    * or a top-k sort. Every similarity operator filters its corpus
    * through this (zero/NaN-norm vectors can neither match nor rank;
    * ANSI mode would otherwise raise DIVIDE_BY_ZERO on the first
    * zero-norm collision). */
  private[graft] def definedNrm(nrm: Column): Column =
    coalesce(nrm > 0d && !isnan(nrm), lit(false))

  // ---------------------------------------------------- shared ANN core
  // One definition of each block the ANN rungs compose: query/corpus
  // frames, first-K cells, the code-stage shortlist, the broadcast
  // rerank, and the recall audit with its micro-averaged ppm. Each
  // helper's op sequence IS the rungs' physical plan: editing one moves
  // every caller's plan fingerprint (bench_diff PLAN rows).

  /** Query batch (q_id, q_emb) for the L2/dot rungs — no norm screen. */
  private def rawQueries(embeddings: DataFrame, queryPred: Column): DataFrame =
    embeddings.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** Corpus (n_id, n_emb) for the L2/dot rungs — no norm screen. */
  private def rawCorpus(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))

  /** Cosine query batch (q_id, q_emb, q_nrm), screened by [[definedNrm]]. */
  private def cosQueries(embeddings: DataFrame, queryPred: Column): DataFrame =
    embeddings.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"))
      .filter(definedNrm(col("q_nrm")))

  /** Cosine corpus (n_id, n_emb, n_nrm), screened by [[definedNrm]]. */
  private def cosCorpus(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      norm(col("embedding")).as("n_nrm"))
      .filter(definedNrm(col("n_nrm")))

  /** Screened corpus (vec_id, embedding, nrm, extra…) — the vector side
    * of every cell assignment. */
  private def screenedVecs(embeddings: DataFrame,
      extra: Seq[Column] = Nil): DataFrame =
    embeddings.select(Seq(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm")) ++ extra: _*)
      .filter(definedNrm(col("nrm")))

  /** Coarse cells of the IVF-style rungs: the screened first-K sample
    * centroids (cid, c_emb, c_nrm) — or the caller's `centroids`, given
    * the same screen (a degenerate centroid must not own a cell) — and
    * the [[screenedVecs]] corpus. `k` is by-name, so with caller
    * centroids a count-driven K is never resolved. */
  private def firstKCells(embeddings: DataFrame, k: => Int,
      centroids: Option[DataFrame] = None,
      extra: Seq[Column] = Nil): (DataFrame, DataFrame) = {
    val cents = centroids.getOrElse(
      embeddings.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("embedding").as("c_emb"),
          norm(col("embedding")).as("c_nrm")))
      .filter(definedNrm(col("c_nrm")))
    (cents, screenedVecs(embeddings, extra))
  }

  /** Exact cosine top-`n` per query as a map-side partial top-k
    * ([[graft.functions.TopKSimAgg]]), posexploded: (q_id, pos,
    * col = {n_id, sim}). */
  private def cosineTopN(embeddings: DataFrame, queryPred: Column,
      n: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKSimAgg(n))
    cosCorpus(embeddings)
      .join(broadcast(cosQueries(embeddings, queryPred)), col("q_id") =!= col("n_id"))
      .withColumn("sim", dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")))
      .groupBy("q_id")
      .agg(topk(col("n_id"), col("sim")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
  }

  /** Code-stage shortlist of scored (q_id, n_id) rows: the per-query
    * top-`shortlist` ids by `score` (higher is better — negate a
    * distance) as a map-side partial top-k, exploded to (q_id, n_id). */
  private def shortlistIds(scored: DataFrame, shortlist: Int,
      score: Column): DataFrame = {
    val short = udaf(new graft.functions.TopKSimAgg(shortlist))
    scored
      .groupBy("q_id")
      .agg(short(col("n_id"), score).as("top"))
      .select(col("q_id"), explode(col("top.n_id")).as("n_id"))
  }

  /** Exact rerank of a (q_id, n_id) shortlist: the shortlist and the
    * query batch are broadcast (both ≤ |Q|·shortlist rows) and the
    * corpus streams through them — the stats-driven pick would
    * broadcast the corpus at test scale, which inverts at 100 TB.
    * `value` is stored as column `score`, ranked per query by
    * (score, n_id ASC), and the top k are emitted as (q_id, n_id, rank,
    * round(score, 6)). */
  private def rerankTopK(corpus: DataFrame, cand: DataFrame, q: DataFrame,
      k: Int, score: String, value: Column, ascending: Boolean): DataFrame = {
    val order = if (ascending) col(score).asc else col(score).desc
    val wRank = Window.partitionBy("q_id").orderBy(order, col("n_id").asc)
    corpus
      .join(broadcast(cand), "n_id")
      .join(broadcast(q), "q_id")
      .withColumn(score, value)
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank").cast("long").as("rank"),
        round(col(score), 6).as(score))
  }

  /** Recall in exact integer ppm of an (n_hit, n_exact) row. */
  private def recallPpm: Column =
    expr("(n_hit * 1000000) div greatest(n_exact, 1)")

  /** Per-query recall audit: the `approx` top-k against the `exact`
    * (q_id, n_id) truth set, as (q_id, n_exact, n_hit, recall_ppm). */
  private def recallAudit(exact: DataFrame, approx: DataFrame): DataFrame = {
    val served = approx.select(col("q_id").as("q2"), col("n_id").as("n2"))
    val hits = exact
      .join(served, col("q_id") === col("q2") && col("n_id") === col("n2"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("q_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall_ppm", recallPpm)
  }

  /** Micro-averaged recall of a [[recallAudit]] frame in exact ppm,
    * Σn_hit·10⁶ div max(Σn_exact, 1) — the tuners' measurement. An
    * empty audit (the query predicate matched nothing) sums to NULL
    * and reads 0 rather than throwing. */
  private def microPpm(audit: DataFrame): Long = {
    val r = audit.agg(coalesce(sum("n_hit"), lit(0L)).as("h"),
        coalesce(sum("n_exact"), lit(0L)).as("e"))
      .collect()(0)
    r.getLong(0) * 1000000L / math.max(r.getLong(1), 1L)
  }

  /** Exact cosine top-k neighbors for query vectors. Norms are computed
    * once per side BEFORE the join — the naive per-pair cosine pays the
    * two norm traversals |Q|×|C| times instead of |Q|+|C|.
    *
    * Scale shape: the SMALL (filtered query) side is broadcast and the
    * corpus streams through it — never the reverse (broadcasting the
    * corpus OOMs at scale). Top-k per query runs as a typed Aggregator
    * with map-side partial combine ([[graft.functions.TopKSimAgg]]):
    * each corpus partition keeps only its local k best per query, so
    * the shuffle carries ≤ k·partitions rows per query instead of the
    * whole |Q|×|C| similarity matrix through a window sort. */
  def bruteForceTopK(embeddings: DataFrame, queryPred: Column, k: Int = 10): DataFrame =
    cosineTopN(embeddings, queryPred, k)
      .select(col("q_id"), col("col.n_id").as("n_id"),
        (col("pos") + 1).cast("long").as("rank"),
        round(col("col.sim"), 6).as("sim"))

  /** Two-level RESIDUAL quantization encode (the additive-codebook VQ
    * modern ANN serving stacks layer under PQ): level-1 Lloyd
    * centroids coarsely place each vector, level-2 centroids are
    * trained ON THE RESIDUALS r = q − c1 and refine them; a vector's
    * code is the pair (c1, c2) and its reconstruction error is
    * ‖r − c2‖². Both levels run the fixed-point trainer, residuals
    * stay int64 (difference of quantized values — exact), so
    * train→residual→train→encode replays hash-exact in DuckDB.
    *
    * Shape: two [[trainKmeansFixed]] runs (each the MLlib Lloyd shape)
    * plus two narrow literal-centroid assignment passes; the residual
    * frame is localCheckpoint'd once and feeds level-2 training and
    * the final encode. */
  /** Shared RQ train+encode core over a checkpointed quantized frame:
    * returns both trained codebooks and the per-vector code frame. */
  private def rqTrainEncode(q: DataFrame, k1: Int, r1: Int, k2: Int,
      r2: Int): (Array[Array[Long]], Array[Array[Long]], DataFrame) = {
    val (c1, _) = trainKmeansFixed(q, k1, r1)
    val cents1 = typedLit(c1.map(_.toSeq).toSeq)
    val res = q
      .select(col("vec_id"), col("qv"),
        fixedArgmin(c1).getField("cl").as("c1"))
      .select(col("vec_id"), col("c1"),
        zip_with(col("qv"),
          element_at(cents1, col("c1").cast("int") + 1),
          (a, b) => a - b).as("qv"))
      .localCheckpoint(eager = false)
    val (c2, _) = trainKmeansFixed(res.select(col("vec_id"), col("qv")), k2, r2)
    val codes = res
      .select(col("vec_id"), col("c1"),
        fixedArgmin(c2).as("best2"))
      .select(col("vec_id"), col("c1"),
        col("best2.cl").as("c2"), col("best2.dist").as("err_sq"))
    (c1, c2, codes)
  }

  def rqEncode(embeddings: DataFrame, k1: Int = 8, r1: Int = 2,
      k2: Int = 8, r2: Int = 2, scale: Long = 1000000L): DataFrame = {
    val q = quantizeFixed(embeddings, scale).localCheckpoint(eager = false)
    rqTrainEncode(q, k1, r1, k2, r2)._3
  }

  /** RQ SERVING: top-k by INTEGER asymmetric distance over the
    * additive reconstruction c1+c2, exact-L2 rerank of the shortlist —
    * the two-stage PQ serving shape with one upgrade PQ can't offer:
    * the code-stage distance ‖q_z − (c1+c2)‖² is pure int64, so the
    * shortlist ranking itself is bit-exact across engines (float PQ
    * ADC needs mirrored IEEE fold order). Corpus-side cost per row is
    * two codebook lookups + one fused diff-square fold; the shortlist
    * is a map-side partial top-k (TopKSimAgg) and the rerank
    * broadcasts the ≤|Q|·shortlist id set, never the corpus. */
  def rqTopK(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      shortlist: Int = PqShortlist, k1: Int = 8, r1: Int = 2,
      k2: Int = 8, r2: Int = 2, scale: Long = 1000000L): DataFrame = {
    val q = quantizeFixed(embeddings, scale).localCheckpoint(eager = false)
    val (c1, c2, codes) = rqTrainEncode(q, k1, r1, k2, r2)
    val rec = zip_with(
      element_at(typedLit(c1.map(_.toSeq).toSeq), col("c1").cast("int") + 1),
      element_at(typedLit(c2.map(_.toSeq).toSeq), col("c2").cast("int") + 1),
      (a, b) => a + b)
    val queries = q.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"))
    val adist = codes
      .select(col("vec_id").as("n_id"), rec.as("rv"))
      .join(broadcast(queries), col("q_id") =!= col("n_id"))
      .withColumn("adist",
        graft.functions.VectorFunctions.vec_l2sq_long(col("q_qv"), col("rv")))
    val cand = shortlistIds(adist, shortlist, -col("adist").cast("double"))
    rerankTopK(rawCorpus(embeddings), cand, rawQueries(embeddings, queryPred), k,
      "dist", sqdist(col("q_emb"), col("n_emb")), ascending = true)
  }

  /** SQL replay of [[rqEncode]]/[[rqTopK]]: the shared Lloyd CTE chain
    * at both levels, chained through the exact residual derivation;
    * `mode = "topk"` appends the integer-ADC shortlist + float rerank. */
  private[graft] def rqOracle(k1: Int, r1: Int, k2: Int, r2: Int,
      dim: Int, scale: Long, mode: String = "encode"): String = {
    val tail = mode match {
      case "encode" =>
        s"""SELECT a1.vec_id, CAST(a1.cl AS BIGINT) AS c1,
           |  CAST(a2.cl AS BIGINT) AS c2, CAST(a2.dist AS BIGINT) AS err_sq
           |FROM asg1 a1 JOIN asg2 a2 ON a1.vec_id = a2.vec_id""".stripMargin
      case "topk" =>
        s"""codes AS (SELECT a1.vec_id AS n_id, a1.cl AS cl1, a2.cl AS cl2
           |  FROM asg1 a1 JOIN asg2 a2 ON a1.vec_id = a2.vec_id),
           |rec AS (SELECT c.n_id, c1.i, c1.c + c2.c AS rv
           |  FROM codes c JOIN l1c$r1 c1 ON c1.cl = c.cl1
           |  JOIN l2c$r2 c2 ON c2.cl = c.cl2 AND c2.i = c1.i),
           |qq AS (SELECT vec_id AS q_id, i, qv FROM q WHERE vec_id % $sqlServeMod = 0),
           |ad AS (SELECT qq.q_id, r.n_id,
           |    CAST(SUM((qq.qv - r.rv) * (qq.qv - r.rv)) AS BIGINT) AS adist
           |  FROM qq JOIN rec r ON qq.i = r.i AND qq.q_id != r.n_id
           |  GROUP BY 1, 2),
           |short AS (SELECT q_id, n_id,
           |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist ASC, n_id ASC)
           |      AS srn
           |  FROM ad),
           |rerank AS (SELECT s.q_id, s.n_id,
           |    ${sqlSqd("qe.embedding", "ne.embedding")} AS dist
           |  FROM short s JOIN embeddings qe ON s.q_id = qe.vec_id
           |  JOIN embeddings ne ON s.n_id = ne.vec_id
           |  WHERE s.srn <= $PqShortlist),
           |ranked AS (SELECT q_id, n_id, dist,
           |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist ASC, n_id ASC)
           |      AS rank
           |  FROM rerank)
           |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank,
           |  ROUND(dist, 6) AS dist
           |FROM ranked WHERE rank <= 10""".stripMargin
      case "recall" =>
        s"""codes AS (SELECT a1.vec_id AS n_id, a1.cl AS cl1, a2.cl AS cl2
           |  FROM asg1 a1 JOIN asg2 a2 ON a1.vec_id = a2.vec_id),
           |rec AS (SELECT c.n_id, c1.i, c1.c + c2.c AS rv
           |  FROM codes c JOIN l1c$r1 c1 ON c1.cl = c.cl1
           |  JOIN l2c$r2 c2 ON c2.cl = c.cl2 AND c2.i = c1.i),
           |qq AS (SELECT vec_id AS q_id, i, qv FROM q WHERE vec_id % $sqlServeMod = 0),
           |ad AS (SELECT qq.q_id, r.n_id,
           |    CAST(SUM((qq.qv - r.rv) * (qq.qv - r.rv)) AS BIGINT) AS adist
           |  FROM qq JOIN rec r ON qq.i = r.i AND qq.q_id != r.n_id
           |  GROUP BY 1, 2),
           |short AS (SELECT q_id, n_id,
           |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist ASC, n_id ASC)
           |      AS srn
           |  FROM ad),
           |rerank AS (SELECT s.q_id, s.n_id,
           |    ${sqlSqd("qe.embedding", "ne.embedding")} AS dist
           |  FROM short s JOIN embeddings qe ON s.q_id = qe.vec_id
           |  JOIN embeddings ne ON s.n_id = ne.vec_id
           |  WHERE s.srn <= $PqShortlist),
           |iv AS (SELECT q_id, n_id FROM (
           |    SELECT q_id, n_id,
           |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist ASC, n_id ASC)
           |        AS rank FROM rerank) WHERE rank <= 10),
           |exd AS (SELECT qe.vec_id AS q_id, ne.vec_id AS n_id,
           |    ${sqlSqd("qe.embedding", "ne.embedding")} AS dist
           |  FROM (SELECT * FROM embeddings WHERE vec_id % $sqlServeMod = 0) qe
           |  JOIN embeddings ne ON qe.vec_id != ne.vec_id),
           |ex AS (SELECT q_id, n_id FROM (
           |    SELECT q_id, n_id,
           |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist ASC, n_id ASC)
           |        AS rank FROM exd) WHERE rank <= 10),
           |hits AS (SELECT x.q_id, COUNT(*) AS n_hit
           |  FROM ex x JOIN iv i ON x.q_id = i.q_id AND x.n_id = i.n_id
           |  GROUP BY 1),
           |nex AS (SELECT q_id, COUNT(*) AS n_exact FROM ex GROUP BY 1)
           |SELECT n.q_id, CAST(n.n_exact AS BIGINT) AS n_exact,
           |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           |  CAST(COALESCE(h.n_hit, 0) * 1000000 // GREATEST(n.n_exact, 1) AS BIGINT)
           |    AS recall_ppm
           |FROM nex n LEFT JOIN hits h ON n.q_id = h.q_id""".stripMargin
    }
    val tailSep = if (mode != "encode") "," else ""
    s"""WITH q AS (
       |  SELECT vec_id, unnest(range(1, ${dim + 1})) AS i,
       |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $scale.0) AS BIGINT) AS qv
       |  FROM embeddings),
       |${lloydCtes("l1", "q", k1, r1)},
       |f1 AS (SELECT q.vec_id, c.cl,
       |    CAST(SUM((q.qv - c.c) * (q.qv - c.c)) AS BIGINT) AS dist
       |  FROM q JOIN l1c$r1 c ON q.i = c.i GROUP BY 1, 2),
       |asg1 AS (SELECT vec_id, cl FROM f1
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1),
       |res AS (SELECT q.vec_id, q.i, q.qv - c.c AS qv
       |  FROM q JOIN asg1 a ON q.vec_id = a.vec_id
       |  JOIN l1c$r1 c ON c.cl = a.cl AND c.i = q.i),
       |${lloydCtes("l2", "res", k2, r2)},
       |f2 AS (SELECT q.vec_id, c.cl,
       |    CAST(SUM((q.qv - c.c) * (q.qv - c.c)) AS BIGINT) AS dist
       |  FROM res q JOIN l2c$r2 c ON q.i = c.i GROUP BY 1, 2),
       |asg2 AS (SELECT vec_id, cl, dist FROM f2
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1)$tailSep
       |$tail""".stripMargin
  }

  /** Exact L2 top-k (squared distance, (dist, n_id) ties) — the
    * reference side of the RQ recall audit; same broadcast-queries /
    * map-side partial top-k shape as [[bruteForceTopK]]. */
  private def l2TopK(embeddings: DataFrame, queryPred: Column,
      k: Int): DataFrame =
    shortlistIds(
      rawCorpus(embeddings)
        .join(broadcast(rawQueries(embeddings, queryPred)), col("q_id") =!= col("n_id"))
        .withColumn("sim", -sqdist(col("q_emb"), col("n_emb"))),
      k, col("sim"))

  /** RQ recall audit — [[rqTopK]] against the exhaustive L2 reference,
    * per query in exact ppm (the [[ivfRecall]] pattern). */
  def rqRecall(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      shortlist: Int = PqShortlist, k1: Int = 16, r1: Int = 2,
      k2: Int = 16, r2: Int = 2): DataFrame =
    recallAudit(l2TopK(embeddings, queryPred, k),
      rqTopK(embeddings, queryPred, k, shortlist, k1, r1, k2, r2))

  /** SELF-MEASURING recall audit: IVF top-k against brute-force top-k,
    * per query, recall in exact ppm — the accuracy dashboard an ANN
    * serving path ships with (recall targets are SLOs; measuring them
    * needs no external harness when the engine can run both paths and
    * join them). Both sub-pipelines are the exact operators the
    * standalone queries run (cross-engine ranking parity of each is
    * separately oracle-proven), so the intersection counts are
    * portable. Scale shape: the brute-force side is the audit's cost
    * and runs on the SAMPLED query set only — the standard production
    * recall estimator. */
  def ivfRecall(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      nCentroids: Int = IvfCentroids, nProbe: Int = IvfProbe): DataFrame =
    recallAudit(
      bruteForceTopK(embeddings, queryPred, k).select(col("q_id"), col("n_id")),
      ivfTopK(embeddings, queryPred, k, nCentroids, nProbe))

  /** Serving RANKING audit (Mean-Reciprocal-Rank) — the ORDER-quality
    * companion of [[ivfRecall]]'s membership audit: recall@k says the
    * true neighbor is somewhere in the returned list; MRR says WHERE.
    * For each serving query the ground truth is the exhaustive top-1
    * neighbor; the audited system is [[ivfTopK]]'s returned ranking,
    * and rr = 1/rank of the true neighbor in that list (0 if the cell
    * probing missed it entirely). Exact integer ppm (1000000 div rank
    * — no float reciprocal), one row per audited query so the
    * downstream SLO can aggregate mean/percentile as it likes.
    *
    * Cost shape: the exhaustive side is the bounded
    * [[servingQueryPred]] batch × corpus scan [[bruteForceTopK]]
    * already pays for recall; the audited side is the serving plan
    * itself — the audit adds ONE broadcast-able |Q|-row join. */
  def servingMrr(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      nCentroids: Int = IvfCentroids, nProbe: Int = IvfProbe): DataFrame = {
    val truth = bruteForceTopK(embeddings, queryPred, 1)
      .select(col("q_id"), col("n_id").as("true_nn"))
    val approx = ivfTopK(embeddings, queryPred, k, nCentroids, nProbe)
      .select(col("q_id").as("q2"), col("n_id").as("n2"), col("rank"))
    truth
      .join(approx, col("q_id") === col("q2") && col("true_nn") === col("n2"),
        "left")
      .select(col("q_id"), col("true_nn"),
        coalesce(col("rank"), lit(0L)).as("nn_rank"))
      .withColumn("rr_ppm",
        when(col("nn_rank") > 0L, expr("1000000 div nn_rank"))
          .otherwise(lit(0L)))
  }

  /** Integer milli-log2 (the [[TextOps.sparkL2M]] formula on the
    * driver): floor-log2 from the bit length + a linear fractional
    * octave — the discount basis [[servingNdcg]] shares with the
    * oracle so no libm log can flip a discount. */
  private def l2mLong(n: Long): Long = {
    val b = 64 - java.lang.Long.numberOfLeadingZeros(n)
    1000L * (b - 1) + ((n * 1000L) >> (b - 1)) - 1000L
  }

  /** nDCG@k of the IVF serving ranking — the ORDER-WEIGHTED audit
    * completing the serving-quality triad: recall@k says the true
    * neighbors are somewhere in the list, MRR says where the top-1
    * landed, nDCG scores the WHOLE list's order (a hit at rank 1 is
    * worth ~3.3× a hit at rank 9 under the log2 discount — the
    * standard IR metric serving dashboards quote). Binary relevance
    * against the exhaustive top-k truth set; discounts are exact
    * integers — disc(r) = 10⁹ div l2m(r+1) with the house milli-log2
    * (10⁶ at rank 1), IDCG the prefix sum of discounts up to the
    * truth-set size (a driver-constant ≤k-entry array), nDCG in ppm
    * by integer division — so the whole audit replays hash-exact.
    *
    * Cost shape: both sides are the committed bounded-batch
    * derivations (the recall/MRR audit discipline); the audit itself
    * adds one ≤|Q|·k join + a |Q|-row agg. */
  def servingNdcg(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      nCentroids: Int = IvfCentroids, nProbe: Int = IvfProbe): DataFrame = {
    val truth = bruteForceTopK(embeddings, queryPred, k)
      .select(col("q_id"), col("n_id").as("t_id"))
    val served = ivfTopK(embeddings, queryPred, k, nCentroids, nProbe)
      .select(col("q_id").as("q2"), col("n_id").as("n2"), col("rank"))
    val disc = expr(s"1000000000 div ${TextOps.sparkL2M("(rank + 1)")}")
    val hits = served.join(truth,
        col("q2") === col("q_id") && col("n2") === col("t_id"))
      .groupBy(col("q2"))
      .agg(count(lit(1)).as("n_hit"), sum(disc).as("dcg_micro"))
    val idcgPrefix = (1 to k).scanLeft(0L) {
      (acc, r) => acc + 1000000000L / l2mLong(r + 1L)
    }
    truth.groupBy("q_id").agg(count(lit(1)).as("n_rel"))
      .join(hits, col("q_id") === col("q2"), "left")
      .select(col("q_id"), col("n_rel"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        element_at(typedLit(idcgPrefix), col("n_rel").cast("int") + 1)
          .as("idcg_micro"))
      .withColumn("ndcg_ppm",
        expr("(dcg_micro * 1000000) div greatest(idcg_micro, 1)"))
  }

  /** Prefix dot over the first n dims ([[graft.functions.VecDotPrefix]]). */
  def dotN(a: Column, b: Column, n: Int): Column =
    graft.functions.VectorFunctions.vec_dot_n(a, b, n)

  /** Matryoshka serving prefix — d/4 of the 64-dim oracle corpus. */
  val MrlPrefixDim = 16

  /** Prefix-cosine top-n shortlist per serving query — the stage-1
    * scan shared by [[adaptiveTopK]] (n = shortlist) and [[mrlRecall]]
    * (n = k): cosine over only the FIRST prefixDim dims via the
    * [[graft.functions.VecDotPrefix]] kernel (no sliced array copies),
    * prefix norms computed once per side BEFORE the join, shortlist as
    * a map-side partial top-k. Zero-prefix vectors (norm 0 on the
    * leading dims) can neither match nor rank and are screened like
    * every cosine operator screens zero-norm vectors. */
  private def prefixShortlist(embeddings: DataFrame, queryPred: Column,
      n: Int, prefixDim: Int): DataFrame = {
    val q = embeddings.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        sqrt(dotN(col("embedding"), col("embedding"), prefixDim)).as("q_pn"))
      .filter(definedNrm(col("q_pn")))
    val c = embeddings
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        sqrt(dotN(col("embedding"), col("embedding"), prefixDim)).as("n_pn"))
      .filter(definedNrm(col("n_pn")))
    val short = udaf(new graft.functions.TopKSimAgg(n))
    c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("psim",
        dotN(col("q_emb"), col("n_emb"), prefixDim) / (col("q_pn") * col("n_pn")))
      .groupBy("q_id")
      .agg(short(col("n_id"), col("psim")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.n_id").as("n_id"),
        (col("pos") + 1).cast("long").as("prank"),
        col("col.sim").as("psim"))
  }

  /** ADAPTIVE RETRIEVAL — the two-stage Matryoshka serving pattern
    * (Kusupati et al. 2022): shortlist by cosine over the LEADING
    * prefixDim dims, exact full-dimension cosine rerank of the
    * shortlist. The production rationale at 100 TB: with the prefix
    * materialized as its own column (a layout_compact-style split),
    * the stage-1 corpus scan reads prefixDim/d of the vector bytes —
    * a 4× IO cut at d/4 before any quantization — and stage 2 touches
    * full vectors only for the ≤|Q|·shortlist candidate set. Here both
    * stages read the one array column and the saving is the kernel's
    * (prefix loop + no per-pair array allocation); the PLAN is the
    * production plan: corpus never shuffled, query side and shortlist
    * broadcast, shortlist a map-side partial top-k.
    *
    * [[mrlRecall]] is this operator's sizing audit: it measures, per
    * prefix width, how much of the exact top-k the prefix ranking
    * already captures — i.e. which prefixDim/shortlist pair meets a
    * recall SLO before you ship this serving plan. */
  def adaptiveTopK(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      prefixDim: Int = MrlPrefixDim, shortlist: Int = PqShortlist): DataFrame = {
    val cand = prefixShortlist(embeddings, queryPred, shortlist, prefixDim)
      .select(col("q_id"), col("n_id"))
    rerankTopK(cosCorpus(embeddings), cand, cosQueries(embeddings, queryPred), k,
      "sim", dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")),
      ascending = false)
  }

  /** MRL TRUNCATION AUDIT — recall@k of the prefix-cosine ranking vs
    * the exact full-dimension top-k, one row per (query, prefix
    * width): the measurement that licenses [[adaptiveTopK]]'s prefix
    * choice (and, upstream, how aggressively a Matryoshka-trained
    * embedding column can be truncated AT REST — the 100 TB question,
    * since storing 16 of 64 dims is a 4× corpus shrink). Exact-side
    * cost is ONE bounded-batch corpus scan (checkpointed — the k·|Q|
    * truth set feeds every arm); each prefix arm is one more bounded
    * scan through the prefix kernel. Recall in exact integer ppm. */
  def mrlRecall(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      prefixDims: Seq[Int] = Seq(4, 8, 16, 32)): DataFrame = {
    val ex = bruteForceTopK(embeddings, queryPred, k)
      .select(col("q_id"), col("n_id"))
      .localCheckpoint(eager = false)
    val nex = ex.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
    val arms = prefixDims.map { d =>
      val pd = prefixShortlist(embeddings, queryPred, k, d)
        .select(col("q_id"), col("n_id"))
      val hits = ex.join(pd, Seq("q_id", "n_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      nex.join(hits, Seq("q_id"), "left")
        .select(col("q_id"), lit(d.toLong).as("prefix_dim"),
          col("n_exact"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
    }
    arms.reduce(_.union(_)).withColumn("recall_ppm", recallPpm)
  }

  /** LSH near-dup RECALL audit vs exhaustive pairs, banded by
    * similarity — the estimator a production near-dup pipeline runs on
    * a corpus sample to size nBands: hyperplane recall is
    * cos-dependent by construction (P = 1−(1−p^bits)^bands,
    * p = 1−θ/π), so the audit reports it per similarity band rather
    * than as one blended number. The LSH side is the exact scale-path
    * operator; the exhaustive side is the all-pairs estimator cost you
    * pay ONLY on the audit sample. */
  def nearDupRecall(embeddings: DataFrame, tau: Double = NdTau,
      nBands: Int = NdBands, bitsPerBand: Int = NdBits,
      dim: Int = -1, auditTarget: Int = NdAuditTarget): DataFrame = {
    // The audit runs on a BOUNDED corpus subsample (~auditTarget
    // vectors via a count-driven modulus — the autoCentroids trick, so
    // the sf0.01 gate keeps its committed hashes with mod = 1): the
    // exhaustive side is all-pairs, and unsampled it grows n² with the
    // corpus (measured slope 12.4 at 10× — the one >3 slope of the r10
    // probe). Hyperplane band collision is a pairwise property
    // (P depends only on the pair's angle, never on other vectors), so
    // recall measured on the subsample is an unbiased estimate of
    // corpus recall per band — the standard production estimator.
    val mod = math.max(1L, embeddings.count() / auditTarget)
    val sub = embeddings.filter(col("vec_id") % mod === 0)
    val exact = nearDupPairsExact(sub, tau)
    val found = nearDupPairs(sub, tau, nBands, bitsPerBand, dim)
      .select(col("d1").as("f1"), col("d2").as("f2"))
    exact
      .join(found, col("d1") === col("f1") && col("d2") === col("f2"), "left")
      .withColumn("hit", when(col("f1").isNotNull, 1L).otherwise(0L))
      .withColumn("band", when(col("sim") >= 0.98, "hi").otherwise("lo"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_exact"), sum(col("hit")).as("n_found"))
      .withColumn("recall_ppm",
        expr("(n_found * 1000000) div n_exact"))
  }

  /** Near-duplicate pairs by banded random-hyperplane LSH + exact
    * rerank — the scale path. nBands×bitsPerBand md5-derived planes;
    * band b's key packs that band's sign bits, candidates are pairs
    * sharing any band key (shuffle-keyed equi-join, never all-pairs),
    * and the exact cosine ≥ tau filter reranks only candidates.
    *
    * Sizing rule: bitsPerBand ≈ log2(n) keeps expected random
    * collisions per band ≈ n/2 (candidates O(n·nBands)); nBands is the
    * recall knob (cost linear in it). Recall is partial by
    * construction — P(pair found) = 1-(1-p^bits)^bands with
    * p = 1-θ/π — and measured against [[nearDupPairsExact]] in
    * SimilarityOpsSpec. LSH targets genuinely-near duplicates: at
    * cos ≥ 0.95 recall is high; at cos ≈ 0.45 (60°) no hyperplane
    * scheme separates well — that regime needs IVF-style partitioning.
    */
  /** Exact-canonicalization pre-pass for near-dup pipelines: one
    * representative row (min `vec_id`) per DISTINCT embedding, plus
    * every row whose vector can't legitimately participate in cosine
    * grouping (NULL embedding, zero norm, non-finite norm — for those,
    * cos(x,x) ≠ 1, so the direct LSH path leaves them as singletons
    * and grouping them here would MERGE what the direct path keeps
    * apart; they pass through one-row-per-row instead).
    *
    * Why this exists: candidate generation in [[nearDupPairs]] scales
    * with CORPUS size, but at 100 TB a large share of the corpus is
    * byte-identical repeats (the reason exact dedup is a standard
    * pre-stage). Identical bytes ⇒ identical band signatures and
    * cosine 1, so copies of a vector form a clique the LSH stage
    * rediscovers pair by pair — O(copies²) per bucket for information
    * the hash join already had. Canonicalizing first makes the LSH /
    * rerank / CC stages scale with DISTINCT content; component labels
    * are preserved because each rep is the MIN id of its copy-group,
    * so min-over-reps ≡ min-over-all-copies (pinned path-identical to
    * the direct form in SimilarityCanonicalSpec; measured on the 10×
    * exact-replica sf1 probe).
    */
  def exactCanonicalReps(embeddings: DataFrame): DataFrame = {
    val nrm = norm(col("embedding"))
    val groupable = coalesce(
      col("embedding").isNotNull && nrm > 0d && !isnan(nrm), lit(false))
    embeddings.filter(groupable)
      .groupBy("embedding").agg(min(col("vec_id")).as("vec_id"))
      .select("vec_id", "embedding")
      .unionByName(embeddings.filter(!groupable).select("vec_id", "embedding"))
  }

  /** The banded-LSH candidate front end shared by [[nearDupPairs]] and
    * the [[tuneLsh]] cost meter: (signed docs frame, distinct candidate
    * pairs). Shared so the tuner's cost metric counts EXACTLY the pairs
    * the exact-cosine rerank scores — the volume-coupled cost of the
    * serving pipeline. */
  private def ndCandFrames(embeddings: DataFrame, nBands: Int,
      bitsPerBand: Int, dim: Int): (DataFrame, DataFrame) = {
    val d = if (dim > 0) dim else dataDim(embeddings)
    val weights = (0 until nBands * bitsPerBand).map(i =>
      (0 until d).map(j => hashedPlaneWeight(i, j).toDouble))
    val docs = embeddings.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      graft.functions.VectorFunctions
        .plane_band_keys(col("embedding"), weights, bitsPerBand).as("ks"))
    val bands = docs.select(col("vec_id"), posexplode(col("ks")))
      .toDF("vec_id", "band", "key")
    val cand = bands.select(col("band"), col("key"), col("vec_id").as("d1"))
      .join(bands.select(col("band").as("band2"), col("key").as("key2"),
          col("vec_id").as("d2")),
        col("band") === col("band2") && col("key") === col("key2") &&
          col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    (docs, cand)
  }

  def nearDupPairs(embeddings: DataFrame, tau: Double,
      nBands: Int = 8, bitsPerBand: Int = 16, dim: Int = -1): DataFrame = {
    val (docs, cand) = ndCandFrames(embeddings, nBands, bitsPerBand, dim)
    cand
      .join(docs.select(col("vec_id").as("d1"), col("embedding").as("e1"),
        col("nrm").as("nrm1")), "d1")
      .join(docs.select(col("vec_id").as("d2"), col("embedding").as("e2"),
        col("nrm").as("nrm2")), "d2")
      // zero-norm vectors CAN collide (an all-zero vector has a
      // deterministic all-zero signature, so two of them share every
      // band key) and their cosine is undefined — the guarded divide
      // yields NULL, which the tau filter drops, instead of an ANSI
      // DIVIDE_BY_ZERO crash killing the whole pipeline. The NaN
      // screens are load-bearing BOTH times: Spark orders NaN GREATER
      // than every number (total-order semantics, not IEEE), so
      // without them `NaN > 0` admits NaN-norm vectors and
      // `NaN >= tau` then emits sim=NaN pairs that silently weld all
      // pathological vectors into one dedup component.
      .withColumn("sim", when(
        col("nrm1") * col("nrm2") > 0d && !isnan(col("nrm1") * col("nrm2")),
        dot(col("e1"), col("e2")) / (col("nrm1") * col("nrm2"))))
      .filter(col("sim") >= tau && !isnan(col("sim")))
      .select(col("d1"), col("d2"), round(col("sim"), 6).as("sim"))
  }

  /** Embedding dimensionality observed in the data (first row) — the
    * default when callers don't pass an explicit `dim`, so the plane
    * weight matrices always cover the real vector length. A hardcoded
    * dim smaller than the data's silently truncates every plane dot
    * product (degrading LSH recall with no error). One tiny first-row
    * job, paid once per operator call, never per row. An empty corpus
    * (or null first embedding) falls back to [[OracleDim]] — the
    * result is empty either way, it must not crash at plan-build. */
  private def dataDim(embeddings: DataFrame): Int =
    embeddings.select(size(col("embedding"))).limit(1).collect()
      .headOption.filterNot(_.isNullAt(0)).map(_.getInt(0))
      .getOrElse(OracleDim)

  /** The driver testdata's embedding dim. The registered queries pin
    * `dim = OracleDim` explicitly because the oracle SQL embeds weight
    * literals for exactly this many dimensions — deriving on one side
    * only would diverge on non-64-dim data (the oracle's list_zip
    * NULL-pads where the kernel zero-extends). Library callers get the
    * derived-from-data default instead. */
  val OracleDim = 64

  /** Exhaustive all-pairs near-dup — O(n²), small-data baseline only;
    * kept for measuring [[nearDupPairs]] recall in the spec. */
  def nearDupPairsExact(embeddings: DataFrame, tau: Double): DataFrame = {
    val a = embeddings.select(col("vec_id").as("d1"), col("embedding").as("e1"),
      norm(col("embedding")).as("nrm1"))
    val b = embeddings.select(col("vec_id").as("d2"), col("embedding").as("e2"),
      norm(col("embedding")).as("nrm2"))
    a.join(b, col("d1") < col("d2"))
      // same zero-norm + NaN guards as nearDupPairs (NaN sorts GREATER
      // than every number in Spark, so an unscreened NaN passes both
      // `> 0` and `>= tau`)
      .withColumn("sim", when(
        col("nrm1") * col("nrm2") > 0d && !isnan(col("nrm1") * col("nrm2")),
        dot(col("e1"), col("e2")) / (col("nrm1") * col("nrm2"))))
      .filter(col("sim") >= tau && !isnan(col("sim")))
      .select(col("d1"), col("d2"), round(col("sim"), 6).as("sim"))
  }

  /** Random-hyperplane LSH bucket per vector: plane i, dim j has
    * weight ((31*i + 17*j + 7) mod 2001 - 1000) — an integer LCG, so
    * identical in any engine. Bucket = Σ (dot(plane_i, v) > 0) << i. */
  def lshBuckets(embeddings: DataFrame, nPlanes: Int = 8): DataFrame = {
    val emb = col("embedding")
    val bucketBits = (0 until nPlanes).map { i =>
      // dot(plane_i, v) via aggregate over dim index
      val dotI = aggregate(
        zip_with(emb, sequence(lit(0), size(emb) - 1), (x, j) =>
          x.cast("double") * (((lit(31) * i + lit(17) * j + 7) % 2001) - 1000).cast("double")),
        lit(0.0), (acc, v) => acc + v)
      when(dotI > 0, lit(1L << i)).otherwise(0L)
    }
    embeddings.select(col("vec_id"), col("label").cast("long").as("label"),
      bucketBits.reduce(_ + _).as("bucket"))
  }

  /** md5-derived hyperplane weight: deterministic, independent across
    * (plane, dim) — unlike the LCG planes of [[lshBuckets]], whose
    * linear structure correlates planes (measured: 64% same-bucket rate
    * for ~0.45-cosine pairs vs the ~4% true random planes give). */
  def hashedPlaneWeight(plane: Int, dim: Int): Long =
    (java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"plane${plane}_dim$dim".getBytes("UTF-8"))
        .take(7).map("%02x".format(_)).mkString, 16) % 2001L) - 1000L

  /** Random-hyperplane LSH with md5-derived (independent) planes.
    * Weight matrices are precomputed driver-side constants — zero
    * per-row hashing; the oracle embeds the same literals. One native
    * [[graft.functions.VectorFunctions.plane_band_keys]] pass packs
    * all sign bits (bit i = plane i), replacing nPlanes interpreted
    * HOF chains that each re-walked the vector. */
  def lshBucketsHashed(embeddings: DataFrame, nPlanes: Int = 8, dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else dataDim(embeddings)
    val weights = (0 until nPlanes).map(i =>
      (0 until d).map(j => hashedPlaneWeight(i, j).toDouble))
    embeddings.select(col("vec_id"), col("label").cast("long").as("label"),
      element_at(graft.functions.VectorFunctions
        .plane_band_keys(col("embedding"), weights, nPlanes), 1).as("bucket"))
  }

  /** Assign each vector to its max-cosine centroid, keeping `payload`
    * (fields may reference the joined vec+centroid row) as column
    * `best` — shared by [[kmeansCentroids]] and [[ivfTopK]] so the
    * argmax idiom and its tie-break ((c_sim, −cid): highest sim,
    * lowest cid) can never diverge between training and probing.
    * Shape: broadcast join against K centroids + max_by hash aggregate
    * with map-side partial combine — after the join every (vec_id,
    * cid) row sits in the same partition, so the reduction completes
    * locally and ~1 row per vector shuffles (the row_number-window
    * form sort-shuffled all corpus×K rows). */
  private def assignBest(vecs: DataFrame, cents: DataFrame,
      payload: Column): DataFrame =
    vecs.join(broadcast(cents), lit(true))
      .withColumn("c_sim", dot(col("embedding"), col("c_emb")) / (col("nrm") * col("c_nrm")))
      .groupBy("vec_id")
      .agg(max_by(payload, struct(col("c_sim"), (-col("cid")).as("tb"))).as("best"))

  /** K-means-trained coarse quantizer for [[ivfTopK]] — Lloyd
    * iterations as pure DataFrame ops. Spherical k-means: assignment by
    * max cosine, new centroid = element-wise mean of members (left
    * unnormalized; cosine scoring normalizes anyway). Per iteration:
    *  1. assign: broadcast-join against K centroids + max_by argmax
    *     (one shuffle of ~1 row per vector — same shape as ivfTopK's
    *     assign step);
    *  2. recompute: posexplode(member vectors) → groupBy (cid, dim)
    *     mean → rebuild the array ordered by dim. Shuffle volume is
    *     rows × dim — fine for a COARSE quantizer (K and dim small);
    *     a product quantizer would need a different layout.
    * Centroids materialize per iteration (localCheckpoint): each round
    * is broadcast anyway, and the lineage would otherwise grow K-means
    * deep. A cluster that loses all members drops out (standard Lloyd
    * degeneracy; callers get ≤ k centroids). Seeding (first-k vectors)
    * and ties (lowest cid) are deterministic; centroid VALUES are
    * deterministic only up to floating-point reduction order in the
    * per-dimension mean, so the trained path is spec-measured, not
    * DuckDB-oracle-checkable. */
  def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int = 3): DataFrame = {
    // screened: zero/NaN-norm rows can't vote
    val (seeds, vecs) = firstKCells(embeddings, k)
    var cents = seeds
    for (_ <- 0 until iters) {
      val assigned = assignBest(vecs, cents,
        struct(col("embedding").as("emb"), col("cid")))
        .select(col("best.cid").as("cid"), col("best.emb").as("emb"))
      cents = assigned
        .select(col("cid"), posexplode(col("emb")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("col").cast("double")).as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"),
          transform(col("pm"), x => x.getField("m").cast("float")).as("c_emb"))
        .withColumn("c_nrm", norm(col("c_emb")))
        // a mean CAN cancel to the zero vector — such a centroid drops
        // out like an emptied cluster (standard Lloyd degeneracy)
        // instead of crashing the next iteration's divide
        .filter(definedNrm(col("c_nrm")))
        .localCheckpoint()
    }
    cents
  }

  /** Fixed-point L2 Lloyd's k-means — the ORACLE-EXACT trainer the
    * float [[kmeansCentroids]] can't be: every quantity is int64, so
    * Spark and DuckDB agree bit-for-bit regardless of reduction order.
    *  - quantize: q_i = floor(double(x_i) · scale) — identical IEEE
    *    double ops both sides, exact cast (|q| ≪ 2⁵³);
    *  - init: the k lowest vec_ids, cluster id = rank−1;
    *  - assign: argmin_c Σ(q_i − c_i)², ties → lowest cluster
    *    (integer distances, so ties are decidable, not ulp-lottery);
    *  - update: c_i = Σq_i div n (both engines truncate toward zero —
    *    verified on negatives); an emptied cluster keeps its previous
    *    centroid (total definition, no degeneracy branch).
    *
    * Shape per round (MLlib's own Lloyd shape): centroids collected to
    * the driver (k·dim longs) and re-broadcast as literals, so
    * assignment is a pure narrow projection over the cached quantized
    * vectors; the update is posexplode → groupBy (cluster, dim) with
    * map-side combine, ≤ k·dim rows per task reaching the shuffle. No
    * per-vector driver traffic at any scale. Distances stay in int64
    * for any |x| ≤ ~2·10³ at the default scale (diff² ≤ 4·10¹² · dim). */
  private def quantizeFixed(embeddings: DataFrame, scale: Long): DataFrame =
    embeddings.select(col("vec_id"),
      graft.functions.VectorFunctions
        .vec_quantize_fixed(col("embedding"), scale).as("qv"))

  /** Nearest literal centroid as a struct(dist, cl) — native argmin
    * (r16: replaces per-centroid interpreted `aggregate(zip_with(...))`
    * folds under `array_min(array(...))`; exact int64, same
    * (dist ASC, cl ASC) tie-break, bit-identical). */
  private def fixedArgmin(cents: Array[Array[Long]]): Column =
    graft.functions.VectorFunctions.vec_argmin_l2_fixed(
      col("qv"), cents.toIndexedSeq.map(_.toIndexedSeq))

  /** The Lloyd loop of [[kmeansFixed]] over a persisted quantized
    * frame; returns (final centroids, final-round member counts). */
  private def trainKmeansFixed(q: DataFrame, k: Int,
      rounds: Int): (Array[Array[Long]], Map[Long, Long]) = {
    var cents: Array[Array[Long]] = q.orderBy("vec_id").limit(k)
      .select("qv").collect()
      .map(_.getSeq[Long](0).toArray)
    var members: Map[Long, Long] = Map.empty
    for (_ <- 1 to rounds) {
      val assigned = q.select(col("vec_id"), col("qv"),
        fixedArgmin(cents).getField("cl").as("cl"))
      val sums = assigned
        .select(col("cl"), posexplode(col("qv")))
        .groupBy(col("cl"), col("pos"))
        .agg(sum(col("col")).as("sq"), count(lit(1)).as("n"))
        .collect()
      members = sums.filter(_.getInt(1) == 0)
        .map(r => r.getLong(0) -> r.getLong(3)).toMap
      val byCl = sums.groupBy(_.getLong(0))
      cents = cents.zipWithIndex.map { case (old, ci) =>
        byCl.get(ci.toLong) match {
          case Some(rows) =>
            val upd = old.clone()
            rows.foreach(r => upd(r.getInt(1)) = r.getLong(2) / r.getLong(3))
            upd
          case None => old
        }
      }
    }
    (cents, members)
  }

  def kmeansFixed(embeddings: DataFrame, k: Int = 4, rounds: Int = 3,
      scale: Long = 1000000L): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = quantizeFixed(embeddings, scale).persist()
    try {
      val (cents, members) = trainKmeansFixed(q, k, rounds)
      val dim = cents.head.length
      val out = for { ci <- 0 until k; i <- 0 until dim } yield
        (ci.toLong, (i + 1).toLong, cents(ci)(i), members.getOrElse(ci.toLong, 0L))
      out.toDF("cluster_id", "dim_i", "c_fixed", "n_members")
    } finally { q.unpersist(); () }
  }

  /** Embedding OUTLIER detection on top of the exact trainer — the
    * data-cleaning companion (drop vectors that sit far from every
    * learned mode before they pollute retrieval/dedup): assign each
    * vector to its trained centroid, flag those with squared-L2
    * distance > 2× their cluster's mean distance. All int64
    * (distances exact, cluster means by truncating div), so the whole
    * train→assign→threshold chain is DuckDB-replayed hash-exact.
    *
    * Shape: the training rounds as [[kmeansFixed]]; then ONE more
    * narrow assignment pass (literal centroids) + a k-row mean agg
    * collected and baked into the final flag expression — the corpus
    * never joins anything. */
  def kmeansOutliers(embeddings: DataFrame, k: Int = 4, rounds: Int = 3,
      scale: Long = 1000000L): DataFrame = {
    val q = quantizeFixed(embeddings, scale)
      .localCheckpoint(eager = false)
    val (cents, _) = trainKmeansFixed(q, k, rounds)
    val assigned = q.select(col("vec_id"),
        fixedArgmin(cents).as("best"))
      .select(col("vec_id"), col("best.cl").as("cluster_id"),
        col("best.dist").as("dist"))
      .localCheckpoint(eager = false)
    val means = assigned.groupBy(col("cluster_id"))
      .agg(expr("sum(dist) div count(1)").as("md"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val meanCol = element_at(
      typedLit((0 until k).map(ci => means.getOrElse(ci.toLong, 0L))),
      col("cluster_id").cast("int") + 1)
    assigned.select(col("vec_id"), col("cluster_id"), col("dist"),
      meanCol.as("mean_dist"),
      when(col("dist") > meanCol * 2L, 1L).otherwise(0L).as("is_outlier"))
  }

  /** Unrolled Lloyd CTE chain over a long-form quantized relation
    * `$q(vec_id, i, qv)` with every CTE name prefixed by `$px` —
    * reusable at each residual-quantization level. Emits
    * ${px}c0..${px}c$rounds (+ per-round d/a/s CTEs); the init CTE
    * seeds from the k lowest vec_ids of `$q`. Ends without a trailing
    * comma. */
  private def lloydCtes(px: String, q: String, k: Int, rounds: Int): String = {
    val roundsSql = (1 to rounds).map { t =>
      val p = s"${px}c${t - 1}"
      s"""${px}d$t AS (SELECT q.vec_id, c.cl, SUM((q.qv - c.c) * (q.qv - c.c)) AS dist
         |  FROM $q q JOIN $p c ON q.i = c.i GROUP BY 1, 2),
         |${px}a$t AS (SELECT vec_id, cl FROM ${px}d$t
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1),
         |${px}s$t AS (SELECT a.cl, q.i, CAST(SUM(q.qv) AS BIGINT) AS sq, COUNT(*) AS n
         |  FROM ${px}a$t a JOIN $q q ON a.vec_id = q.vec_id GROUP BY 1, 2),
         |${px}c$t AS (SELECT p.cl, p.i, COALESCE(s.sq // s.n, p.c) AS c
         |  FROM $p p LEFT JOIN ${px}s$t s ON p.cl = s.cl AND p.i = s.i)""".stripMargin
    }.mkString(",\n")
    s"""${px}r AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl
       |      FROM (SELECT DISTINCT vec_id FROM $q ORDER BY vec_id LIMIT $k)),
       |${px}c0 AS (SELECT r.cl, q.i, q.qv AS c
       |  FROM ${px}r r JOIN $q q ON q.vec_id = r.vec_id),
       |$roundsSql""".stripMargin
  }

  /** Unrolled SQL replay of [[kmeansFixed]] (R assignment/update rounds
    * as chained CTEs) — integer arithmetic end-to-end, so the replay is
    * hash-exact, not tolerance-checked. */
  private[graft] def kmeansFixedOracle(k: Int, rounds: Int, dim: Int,
      scale: Long, mode: String = "train"): String = {
    val roundsSql = (1 to rounds).map { t =>
      val p = s"c${t - 1}"
      s"""d$t AS (SELECT q.vec_id, c.cl, SUM((q.qv - c.c) * (q.qv - c.c)) AS dist
         |  FROM q JOIN $p c ON q.i = c.i GROUP BY 1, 2),
         |a$t AS (SELECT vec_id, cl FROM d$t
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1),
         |s$t AS (SELECT a.cl, q.i, CAST(SUM(q.qv) AS BIGINT) AS sq, COUNT(*) AS n
         |  FROM a$t a JOIN q ON a.vec_id = q.vec_id GROUP BY 1, 2),
         |c$t AS (SELECT p.cl, p.i, COALESCE(s.sq // s.n, p.c) AS c
         |  FROM $p p LEFT JOIN s$t s ON p.cl = s.cl AND p.i = s.i)""".stripMargin
    }.mkString(",\n")
    val tail = mode match {
      case "train" =>
        s"""SELECT c.cl AS cluster_id, c.i AS dim_i, CAST(c.c AS BIGINT) AS c_fixed,
           |  CAST(COALESCE(m.n, 0) AS BIGINT) AS n_members
           |FROM c$rounds c
           |LEFT JOIN (SELECT cl, COUNT(*) AS n FROM a$rounds GROUP BY 1) m
           |  ON c.cl = m.cl""".stripMargin
      case "outliers" =>
        s"""df AS (SELECT q.vec_id, c.cl,
           |    CAST(SUM((q.qv - c.c) * (q.qv - c.c)) AS BIGINT) AS dist
           |  FROM q JOIN c$rounds c ON q.i = c.i GROUP BY 1, 2),
           |af AS (SELECT vec_id, cl, dist FROM df
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1),
           |md AS (SELECT cl, CAST(SUM(dist) AS BIGINT) // COUNT(*) AS mean_dist
           |  FROM af GROUP BY 1)
           |SELECT a.vec_id, a.cl AS cluster_id, a.dist,
           |  CAST(m.mean_dist AS BIGINT) AS mean_dist,
           |  CAST(CASE WHEN a.dist > 2 * m.mean_dist THEN 1 ELSE 0 END AS BIGINT)
           |    AS is_outlier
           |FROM af a JOIN md m ON a.cl = m.cl""".stripMargin
    }
    val tailSep = if (mode == "outliers") "," else ""
    s"""WITH q AS (
       |  SELECT vec_id, unnest(range(1, ${dim + 1})) AS i,
       |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $scale.0) AS BIGINT) AS qv
       |  FROM embeddings),
       |r AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl
       |      FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $k)),
       |c0 AS (SELECT r.cl, q.i, q.qv AS c FROM r JOIN q ON q.vec_id = r.vec_id),
       |$roundsSql$tailSep
       |$tail""".stripMargin
  }

  /** IVF (inverted-file) top-k — the ANN scale path. Coarse quantizer =
    * K sampled centroids by default (the first K vectors; FAISS-style
    * sample training, deterministic so the whole path is
    * oracle-checkable), or pass [[kmeansCentroids]] output via
    * `centroids` for trained cells (higher recall at the same nProbe —
    * measured in SimilarityOpsSpec):
    *
    *  1. assign: every vector → its max-cosine centroid (broadcast join
    *     against K centroids + one shuffle for the per-vector argmax)
    *  2. probe: every query → its nProbe best centroids
    *  3. rerank: exact cosine top-k over ONLY the probed cells' members
    *
    * At scale the rerank join is |queries| × (nProbe/K of the corpus)
    * instead of × the full corpus — the 100 TB path. Recall < 1 by
    * construction (quantization error), measured in SimilarityOpsSpec
    * against brute force. */
  def ivfTopK(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      nCentroids: Int = AutoCentroids, nProbe: Int = 3,
      centroids: Option[DataFrame] = None): DataFrame = {
    val (assign, probes) = ivfCandFrames(embeddings, queryPred, nCentroids,
      nProbe, centroids)
    cellTopK(probes, assign, k)
  }

  /** The rerank candidates: every (query, member) pair of the probed
    * cells, the query itself excluded. */
  private def cellCands(probes: DataFrame, assign: DataFrame): DataFrame =
    probes.join(assign, Seq("cid")).filter(col("q_id") =!= col("n_id"))

  /** Exact cosine top-k over the probed cells' members: (q_id, n_id,
    * extra…, rank, sim), ties (sim DESC, n_id ASC). */
  private def cellTopK(probes: DataFrame, assign: DataFrame, k: Int,
      extra: Seq[Column] = Nil): DataFrame = {
    val wRank = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id").asc)
    cellCands(probes, assign)
      .withColumn("sim", dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(Seq(col("q_id"), col("n_id")) ++ extra ++
        Seq(col("rank").cast("long").as("rank"), round(col("sim"), 6).as("sim")): _*)
  }

  /** Radius threshold for the driver's `sim_radius_search` query —
    * micro-units; chosen inside the synthetic corpus's near-orthogonal
    * similarity band (top-10 sims reach ~0.45 at the gate) so the
    * radius set is non-empty and bounded. */
  val RadiusTauU = 300000L

  /** Serving RADIUS search — the third member of a vector store's
    * query API next to top-k ([[ivfTopK]]) and diversified top-k
    * ([[mmrTopK]]): ALL corpus vectors with cosine ≥ τ, under exactly
    * the IVF serving conventions (same first-K centroids, probe
    * ranking, screens — so like every IVF answer it is exact WITHIN
    * the probed cells; out-of-cell neighbors are the measured recall
    * trade of the family's audits). Use over top-k when the CALLER
    * owns the cutoff semantics: dedup candidate pulls ("everything
    * ≥ 0.9"), safety blocklist matches, near-dup impact analysis.
    *
    * Similarity is emitted in exact integer micro-units and the τ
    * comparison runs on that integer, so no float boundary can flip a
    * row between engines. Shape at scale: identical to [[ivfTopK]]'s
    * candidate stage — cell-scoped join volume, corpus never fans out
    * beyond its one assigned cell — MINUS the per-query window: the
    * radius filter is a pure narrow predicate, so the operator has no
    * top-k state at all (cheaper than top-k when τ is selective). */
  def radiusSearch(embeddings: DataFrame, queryPred: Column,
      tauU: Long = RadiusTauU, nCentroids: Int = IvfCentroids,
      nProbe: Int = IvfProbe): DataFrame = {
    val (assign, probes) = ivfCandFrames(embeddings, queryPred, nCentroids,
      nProbe, None)
    cellCands(probes, assign)
      .withColumn("sim_u",
        round(dot(col("q_emb"), col("n_emb")) /
          (col("q_nrm") * col("n_nrm")) * 1e6).cast("long"))
      .filter(col("sim_u") >= tauU)
      .select(col("q_id"), col("n_id"), col("sim_u"))
  }

  /** Filter modulus for the driver's `sim_filtered_topk` query
    * (shared with the oracle SQL): label % 2 = 0 keeps ~half the
    * corpus eligible. */
  val FilterLabelMod = 2L

  /** FILTERED vector search — metadata-predicate top-k, the fourth
    * member of the vector-store query API next to top-k, radius, and
    * diversified top-k: the k best cosine neighbors AMONG rows
    * matching a metadata predicate (tenant, license, language,
    * freshness — every production store exposes this). This is
    * PRE-filtering: the predicate prunes candidates BEFORE the
    * ranking, so the answer is the true top-k of the eligible subset.
    * The cheap alternative (post-filter: take the unfiltered top-k,
    * then drop non-matching rows) silently returns < k — spec-pinned
    * as a strict subset.
    *
    * Shape at scale: [[ivfTopK]]'s candidate stage exactly, with the
    * metadata DENORMALIZED ONTO THE INDEX ROW (the assignment struct
    * carries the label, the dl-on-posting discipline), so the filter
    * is a narrow predicate on the cell-scoped candidate rows — no
    * second corpus join, and a selective predicate makes the serve
    * CHEAPER than unfiltered top-k. */
  def filteredTopK(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      nCentroids: Int = IvfCentroids, nProbe: Int = IvfProbe,
      labelMod: Long = FilterLabelMod): DataFrame = {
    val (cents, vecs) = firstKCells(embeddings, nCentroids,
      extra = Seq(col("label").cast("long").as("n_label")))
    val assign = assignBest(vecs, cents,
        struct(col("embedding").as("n_emb"), col("nrm").as("n_nrm"),
          col("cid"), col("n_label")))
      .select(col("vec_id").as("n_id"), col("best.n_emb").as("n_emb"),
        col("best.n_nrm").as("n_nrm"), col("best.cid").as("cid"),
        col("best.n_label").as("n_label"))
    cellTopK(probeCells(vecs, cents, queryPred, nProbe),
      assign.filter(col("n_label") % labelMod === 0), k, Seq(col("n_label")))
  }

  /** Scatter-gather QUERY ROUTER — the shard-routing table a
    * distributed vector store computes before fan-out: per serving
    * query, its nProbe best cells under EXACTLY [[ivfTopK]]'s probe
    * conventions (same centroids, cosine, tie-breaks), each annotated
    * with the cell's member count from the index manifest (the
    * `serve_index_build` cell layout) and the running candidate total
    * — the per-query cost budget the router enforces ("stop probing
    * once cum_candidates clears the rerank budget") and the per-cell
    * fan-out load a capacity planner reads off the other axis.
    *
    * Shape at scale: centroids broadcast (K rows); the cell-size
    * manifest is the one corpus-keyed agg (reused from the index
    * build in production — here derived in-plan so the query is
    * self-contained); probing is |Q|·K rows through a bounded
    * per-query window; the manifest joins back as a broadcast of K
    * rows. The corpus itself is never shuffled — the router costs
    * O(|Q|·K + corpus scan), independent of what the gathers later
    * pay. */
  def queryRouter(embeddings: DataFrame, queryPred: Column,
      nCentroids: Int = IvfCentroids, nProbe: Int = IvfProbe): DataFrame = {
    val (cents, vecs) = firstKCells(embeddings, nCentroids)
    val cellSizes = assignBest(vecs, cents, struct(col("cid")))
      .select(col("best.cid").as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("cell_n_vecs"))
    val wProbe = Window.partitionBy("q_id")
      .orderBy(col("c_sim").desc, col("cid").asc)
    val wCum = Window.partitionBy("q_id").orderBy("probe_rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vecs.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
      .join(broadcast(cents), lit(true))
      .withColumn("c_sim",
        dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= nProbe)
      .join(broadcast(cellSizes), Seq("cid"))
      .withColumn("cum_candidates", sum("cell_n_vecs").over(wCum))
      .select(col("q_id"), col("probe_rank").cast("long").as("probe_rank"),
        col("cid"), col("cell_n_vecs"), col("cum_candidates"))
  }

  /** Serving shards the [[shardPlan]] balancer packs cells into. */
  val ServeShards = 8

  /** Cell→shard PLACEMENT for a scatter-gather serving tier — the
    * other half of [[queryRouter]]'s story: the router decides which
    * cells a query visits, this decides which MACHINE owns each cell.
    * Serpentine (boustrophedon) striping over the size-ranked cells —
    * rank cells by (n_vecs DESC, cid), walk shards 0..S−1 then S−1..0
    * alternately — the classic deterministic LPT approximation that
    * needs NO sequential bin state (every cell's shard is pure rank
    * arithmetic, so the plan replays exactly at any scale): each
    * round of 2S hands every shard one heavier and one lighter cell,
    * keeping the max−min load spread within the largest cell size in
    * practice (spec-measured, adversarial descending sizes included).
    * Emits per cell its rank, shard, and the shard's total load —
    * the capacity-planning table next to the router's fan-out axis.
    *
    * Shape at scale: the cell manifest is the one corpus-keyed agg
    * (K rows out); ranking and load rollup are windows over the
    * K-row table (bounded-global by construction — K = O(√N) under
    * [[autoCentroids]]); the corpus is never shuffled. */
  def shardPlan(embeddings: DataFrame, nShards: Int = ServeShards,
      nCentroids: Int = IvfCentroids): DataFrame = {
    val (cents, vecs) = firstKCells(embeddings, nCentroids)
    val cellSizes = assignBest(vecs, cents, struct(col("cid")))
      .select(col("best.cid").as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("n_vecs"))
    val wRank = WindowUtil.boundedGlobal(col("cid"))
      .orderBy(col("n_vecs").desc, col("cid").asc)
    cellSizes
      .withColumn("cell_rank", row_number().over(wRank).cast("long"))
      .withColumn("shard", expr(
        s"cast(case when ((cell_rank - 1) div $nShards) % 2 = 0" +
          s" then (cell_rank - 1) % $nShards" +
          s" else ${nShards - 1} - (cell_rank - 1) % $nShards end as int)"))
      .withColumn("shard_load", sum("n_vecs").over(
        org.apache.spark.sql.expressions.Window.partitionBy("shard")
          .rowsBetween(Long.MinValue, Long.MaxValue)))
      .select(col("cid"), col("n_vecs"), col("cell_rank"), col("shard"),
        col("shard_load"))
  }

  /** The IVF candidate-generation front end shared by [[ivfTopK]] and
    * the [[tuneIvf]] cost meter: (corpus cell assignment, probed cells
    * per query). Shared so the tuner's cost metric counts EXACTLY the
    * rerank rows the serving operator evaluates — a drifted
    * reimplementation would tune against a different plan than ships. */
  private def ivfCandFrames(embeddings: DataFrame, queryPred: Column,
      nCentroids: Int, nProbe: Int,
      centroids: Option[DataFrame]): (DataFrame, DataFrame) = {
    // both sides screened for defined cosines: a zero/NaN-norm corpus
    // row can neither probe nor match, and an unscreened one either
    // ANSI-crashes the divide (zero) or NaN-outranks every real
    // neighbor (Spark sorts NaN greatest); with caller-trained
    // centroids the sizing count never runs
    val (cents, vecs) = firstKCells(embeddings,
      resolveK(embeddings, nCentroids), centroids)
    val assign = assignBest(vecs, cents,
      struct(col("embedding").as("n_emb"), col("nrm").as("n_nrm"), col("cid")))
      .select(col("vec_id").as("n_id"), col("best.n_emb").as("n_emb"),
        col("best.n_nrm").as("n_nrm"), col("best.cid").as("cid"))
    (assign, probeCells(vecs, cents, queryPred, nProbe))
  }

  /** Per query, its nProbe best cells by (c_sim DESC, cid ASC):
    * (q_id, q_emb, q_nrm, cid) — the probe step of [[ivfTopK]] and
    * [[filteredTopK]]. */
  private def probeCells(vecs: DataFrame, cents: DataFrame,
      queryPred: Column, nProbe: Int): DataFrame = {
    val wProbe = Window.partitionBy("q_id")
      .orderBy(col("c_sim").desc, col("cid").asc)
    vecs.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
      .join(broadcast(cents), lit(true))
      .withColumn("c_sim", dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("cid"))
  }

  /** One measured (nCentroids, nProbe) configuration: micro-averaged
    * recall over the audit sample in exact ppm, and the rerank cost in
    * candidate rows — the distance evaluations the serving path pays,
    * THE cost that scales with the corpus. */
  case class IvfMeasurement(nCentroids: Int, nProbe: Int,
      recallPpm: Long, rerankRows: Long)

  /** Default (K, nProbe) search grid for [[tuneIvf]], cheap to
    * thorough. */
  val DefaultIvfGrid: Seq[(Int, Int)] = Seq(
    (16, 4), (16, 8), (32, 8), (32, 12), (64, 8), (64, 12), (64, 16),
    (64, 20), (64, 24))

  /** CLOSED-LOOP recall targeting: runs the self-measuring
    * [[ivfRecall]] audit for every grid config, meters the true rerank
    * cost through the serving operator's own candidate front end
    * ([[ivfCandFrames]]), and returns the cheapest configuration
    * meeting the recall SLO (ties: fewer centroids, then fewer
    * probes) plus the full measurement table. None when no grid config
    * reaches the SLO — the honest "grow the grid" answer, never a
    * silent best-effort.
    *
    * Scale shape: each grid point costs one recall audit (brute force
    * bounded to the SAMPLED query set — the production recall-
    * estimator discipline of `sim_ivf_recall`) plus one counting
    * aggregate over the candidate join; a dev-time loop over a handful
    * of configs, not a per-query cost. */
  def tuneIvf(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      recallSlo: Double = 0.8,
      grid: Seq[(Int, Int)] = DefaultIvfGrid):
      (Option[IvfMeasurement], Seq[IvfMeasurement]) = {
    val measured = grid.map { case (kc, p) =>
      val recallPpm = microPpm(ivfRecall(embeddings, queryPred, k, kc, p))
      val (assign, probes) = ivfCandFrames(embeddings, queryPred, kc, p, None)
      val rows = cellCands(probes, assign).count()
      IvfMeasurement(kc, p, recallPpm, rows)
    }
    val sloPpm = math.round(recallSlo * 1000000L)
    val chosen = measured.filter(_.recallPpm >= sloPpm)
      .sortBy(m => (m.rerankRows, m.nCentroids, m.nProbe)).headOption
    (chosen, measured)
  }

  /** One measured (nBands, bitsPerBand) LSH configuration: overall
    * recall on the audit sample in exact ppm, and the serving cost in
    * distinct candidate pairs — the exact-cosine evaluations the
    * near-dup rerank pays, THE cost that scales with the corpus. */
  case class LshMeasurement(nBands: Int, bitsPerBand: Int,
      recallPpm: Long, candPairs: Long)

  /** Default (nBands, bitsPerBand) grid for [[tuneLsh]] — spans the
    * two levers in both directions: bands ↑ recall ↑ cost, bits ↑
    * precision ↑ (cost ↓, recall ↓). Includes the committed driver
    * params ([[NdBands]], [[NdBits]]). */
  val DefaultLshGrid: Seq[(Int, Int)] = Seq(
    (4, 5), (6, 5), (8, 5), (8, 8), (12, 5), (12, 8), (16, 5), (16, 8))

  /** CLOSED-LOOP LSH band tuning — [[tuneIvf]]'s discipline for the
    * near-dup family: run the self-measuring [[nearDupRecall]] audit
    * per grid config, meter the true rerank cost through the serving
    * pipeline's own candidate front end ([[ndCandFrames]] — the same
    * band join [[nearDupPairs]] reranks), and return the cheapest
    * configuration meeting the recall SLO (ties: fewer bands, then
    * more bits) plus the full measurement table. None when nothing on
    * the grid reaches the SLO — the honest "grow the grid" answer.
    *
    * The theory (1−(1−p^bits)^bands) predicts the recall CURVE shape
    * but p depends on the corpus's pair-angle distribution — which is
    * exactly why the loop measures instead of solving the formula:
    * the audit sample stands in for the corpus (pairwise property ⇒
    * unbiased, see [[nearDupRecall]]), and the candidate count is the
    * measured selectivity of the full banding, collisions included. */
  def tuneLsh(embeddings: DataFrame, tau: Double = NdTau,
      recallSlo: Double = 0.8,
      grid: Seq[(Int, Int)] = DefaultLshGrid, dim: Int = -1,
      auditTarget: Int = NdAuditTarget):
      (Option[LshMeasurement], Seq[LshMeasurement]) = {
    val measured = grid.map { case (nb, bits) =>
      val rec = nearDupRecall(embeddings, tau, nb, bits, dim, auditTarget)
        .agg(sum("n_found").as("h"), sum("n_exact").as("e")).collect()(0)
      val recallPpm =
        if (rec.isNullAt(1) || rec.getLong(1) == 0L) 1000000L
        else rec.getLong(0) * 1000000L / rec.getLong(1)
      val cands = ndCandFrames(embeddings, nb, bits, dim)._2.count()
      LshMeasurement(nb, bits, recallPpm, cands)
    }
    val sloPpm = math.round(recallSlo * 1000000L)
    val chosen = measured.filter(_.recallPpm >= sloPpm)
      .sortBy(m => (m.candPairs, m.nBands, -m.bitsPerBand)).headOption
    (chosen, measured)
  }

  /** Cluster-scoped semantic dedup — the SemDeDup shape (Abbas et al.
    * 2023): assign every vector to a coarse cluster, compare pairs
    * ONLY within a cluster, and drop all but one representative of
    * each semantic-duplicate set (greedy keep-lowest-id: a vector is
    * dropped iff a smaller-id clustermate sits within cosine ≥ tau).
    *
    * Shape at scale: this is the published answer to "cosine dedup on
    * billions of embeddings" — the all-pairs O(n²) collapses to
    * Σ|cell|² with K chosen so cells stay bounded (K ≈ n/target_cell);
    * assignment is a broadcast join against K centroids + a max_by
    * hash-agg (one ~1-row-per-vector shuffle, the [[assignBest]]
    * shape), and the within-cell pair join is a keyed equi-join on the
    * cluster id — never a cross join. Compared to the LSH route
    * ([[nearDupPairs]] → [[GraphOps]] CC in `emb_dedup_keep`):
    * LSH+CC finds exact cosine components at any radius but pays
    * banding recall tuning; SemDeDup trades boundary pairs that
    * straddle two cells (quantization-miss, measured in
    * SimilarityOpsSpec) for a fixed two-join plan with no tuning.
    * Deterministic end to end — first-K centroids (the IVF sample-
    * training convention, [[ivfTopK]]), (sim, −cid) argmax tie-break,
    * min-id keeper — so the full pipeline is DuckDB-replayable.
    * Zero/NaN-norm vectors cannot cosine-match anything and are
    * screened out (same [[definedNrm]] stance as every similarity
    * operator).
    *
    * Per-cell SENIOR cap ([[SemCellCap]], round 14): a skewed cell
    * with m members pays m² pair rows — the emb_knn_graph slope band.
    * The greedy keep-lowest-id rule compares each junior against its
    * EARLIER clustermates; the cap bounds that menu to the cell's
    * `cellCap` lowest ids (a bounded greedy window — juniors beyond
    * the window keep their fate against the cell's most-senior
    * members, the ones the greedy scan trusts first), so work is
    * N·cap, DuckDB replays the identical retention (ROW_NUMBER by
    * vec_id), and the default sits above every gate cell so the
    * committed hashes are cap-invariant. Drops are logged. */
  def semDedup(embeddings: DataFrame, tau: Double = SemTau,
      nCentroids: Int = AutoCentroids,
      cellCap: Int = SemCellCap): DataFrame = {
    val (cents, vecs) = firstKCells(embeddings, resolveK(embeddings, nCentroids))
    // ONE materialized frame (lazy checkpoint) feeds every consumer —
    // the senior side, the junior side, the drop probe, and the final
    // keep join all read the ranked assignment
    val wCell = Window.partitionBy("cid").orderBy(col("vec_id").asc)
    // drop probe rides the checkpoint materialization (see
    // cappedCellMembers); ERROR-level when it binds: beyond-cap
    // juniors never compare against EACH OTHER, so a skewed cell's
    // mutual near-dups are both kept — a silent dedup-quality change
    // the operator surfaces loudly instead (choose LSH+CC or raise
    // SemCellCap when this fires on a real corpus)
    val (seniors, nDrop) = org.apache.spark.sql.graft.Bridge
      .localCheckpointCountingOver(
        assignBest(vecs, cents,
          struct(col("embedding").as("emb"), col("nrm").as("nrm"), col("cid")))
          .select(col("vec_id"), col("best.emb").as("emb"),
            col("best.nrm").as("nrm"), col("best.cid").as("cid"))
          .withColumn("srn", row_number().over(wCell)), "srn", cellCap)
    if (nDrop > 0)
      simLog.error(s"semDedup: cell cap $cellCap binds — $nDrop senior-menu " +
        "membership(s) dropped from the within-cell pair join; beyond-cap " +
        "near-duplicate pairs are mutually invisible (both kept). Raise " +
        "SemCellCap or route this corpus through LSH+CC dedup.")
    val dropped = seniors.filter(col("srn") <= cellCap)
      .select(col("cid"), col("vec_id").as("id1"), col("emb").as("e1"),
        col("nrm").as("nrm1"))
      .join(seniors.select(col("cid").as("cid2"), col("vec_id").as("id2"),
          col("emb").as("e2"), col("nrm").as("nrm2")),
        col("cid") === col("cid2") && col("id1") < col("id2"))
      .filter(dot(col("e1"), col("e2")) / (col("nrm1") * col("nrm2")) >= tau)
      .select(col("id2").as("vec_id")).distinct()
      .withColumn("is_dropped", lit(true))
    seniors.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(!col("is_dropped"), lit(true)).as("kept"))
  }

  /** Per-cell senior-menu cap for [[semDedup]] — see its scaladoc. */
  val SemCellCap = 256

  /** SemDeDup parameters for the driver query (shared with the oracle
    * SQL). tau sits at the corpus's near-pair cosine knee (the same
    * 0.45 regime as [[NdTau]]) so the demo actually drops rows. */
  val SemTau = 0.45

  /** SemDeDup CELL-SCOPING RECALL AUDIT — completes the self-audit
    * discipline across every approximate operator family (IVF, LSH
    * near-dup, RQ, SQ, MinHash-LSH had theirs; SemDeDup was the last
    * without one): cluster-scoped dedup only sees pairs that share a
    * coarse cell, so pairs straddling a cell boundary are silently
    * missed — this measures exactly that fraction against the
    * exhaustive cos ≥ tau truth, per similarity band (exact copies —
    * cos ≥ 0.98 — always share a cell since identical vectors get
    * identical assignments, so the hi band must audit at 1.0; the lo
    * band is the honest boundary-loss number that motivates choosing
    * the LSH+CC route when completeness matters).
    *
    * Estimator discipline ([[nearDupRecall]]): both sides run on the
    * count-driven ~[[NdAuditTarget]]-row subsample (mod 1 at the
    * sf0.01 gate — hashes literal), cell sizing resolves on the
    * SUBSAMPLE (the audited pipeline is the one that runs on it), and
    * the exhaustive all-pairs side is the bounded audit cost, never a
    * serving cost. */
  def semDedupRecall(embeddings: DataFrame, tau: Double = SemTau,
      nCentroids: Int = AutoCentroids,
      auditTarget: Int = NdAuditTarget): DataFrame = {
    val mod = math.max(1L, embeddings.count() / auditTarget)
    val sub = embeddings.filter(col("vec_id") % mod === 0)
    val (cents, vecs) = firstKCells(sub, resolveK(sub, nCentroids))
    val assign = assignBest(vecs, cents,
      struct(col("embedding").as("emb"), col("nrm").as("nrm"), col("cid")))
      .select(col("vec_id"), col("best.emb").as("emb"),
        col("best.nrm").as("nrm"), col("best.cid").as("cid"))
    val found = assign
      .select(col("cid"), col("vec_id").as("f1"), col("emb").as("e1"),
        col("nrm").as("nrm1"))
      .join(assign.select(col("cid").as("cid2"), col("vec_id").as("f2"),
          col("emb").as("e2"), col("nrm").as("nrm2")),
        col("cid") === col("cid2") && col("f1") < col("f2"))
      .filter(dot(col("e1"), col("e2")) / (col("nrm1") * col("nrm2")) >= tau)
      .select(col("f1"), col("f2"))
    val exact = vecs
      .select(col("vec_id").as("d1"), col("embedding").as("ea"),
        col("nrm").as("na"))
      .join(vecs.select(col("vec_id").as("d2"), col("embedding").as("eb"),
          col("nrm").as("nb")),
        col("d1") < col("d2"))
      .withColumn("sim", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("sim") >= tau)
      .select(col("d1"), col("d2"), col("sim"))
    exact
      .join(found, col("d1") === col("f1") && col("d2") === col("f2"), "left")
      .withColumn("hit", when(col("f1").isNotNull, 1L).otherwise(0L))
      .withColumn("band", when(col("sim") >= 0.98, "hi").otherwise("lo"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_exact"), sum(col("hit")).as("n_found"))
      .withColumn("recall_ppm", expr("(n_found * 1000000) div n_exact"))
  }

  /** Per-cluster keep cap for [[clusterCap]] — at the sf0.01 gate
    * (~7.8 vectors per auto-sized cell) cap 4 visibly trims hot
    * cells. */
  val ClusterCapN = 4

  /** TOPIC-BALANCED selection: cap each embedding cluster at `cap`
    * docs — the semantic sibling of `curate_domain_cap` (which caps by
    * a metadata column; this caps by LEARNED topic, the cells the ANN
    * family already uses), and the cheap version of cluster-proportional
    * mixture sampling: a handful of over-represented semantic modes
    * (boilerplate, templated pages) otherwise dominate a pretraining
    * mix no matter how the metadata looks. Each vector is assigned to
    * its max-cosine coarse cell ([[autoCentroids]]-sized, the semDedup
    * assignment), then per cell the `cap` survivors are picked in
    * salted-md5 order — an unbiased deterministic sample whose fate is
    * independent of partitioning and of other rows (the mixUpsample
    * discipline).
    *
    * Scale shape: one broadcast-K assignment scan (max_by argmax, ~1
    * row per vector shuffled), then ONE cid-keyed window whose frames
    * are cell-sized (~32 by the autoCentroids design) — no all-pairs
    * stage at all, strictly cheaper than semDedup. */
  def clusterCap(embeddings: DataFrame, cap: Int = ClusterCapN,
      nCentroids: Int = AutoCentroids): DataFrame = {
    val (cents, vecs) = firstKCells(embeddings, resolveK(embeddings, nCentroids))
    val assign = assignBest(vecs, cents, col("cid"))
      .select(col("vec_id"), col("best").as("cid"))
    val w = Window.partitionBy("cid").orderBy(col("h").asc, col("vec_id").asc)
    assign
      .withColumn("h", TextOps.strHash(
        concat(lit("ccap:"), col("vec_id").cast("string"))))
      .withColumn("cell_rank", row_number().over(w).cast("long"))
      .select(col("vec_id"), col("cid"), col("cell_rank"),
        (col("cell_rank") <= cap).as("kept"))
  }

  /** kNN-graph parameters for the driver query (shared with the
    * oracle SQL). nProbes=2 multi-assignment recovers most
    * cell-boundary neighbors the single-cell SemDeDup trade-off
    * loses. */
  val KnnK = 5
  val KnnProbes = 2

  /** Per-cell CANDIDATE cap for [[knnGraph]]'s cell self-join — the
    * attribution family's df-cap discipline on the ANN build: a
    * skewed cell with m members contributes m² candidate rows, and
    * the measured sf1 slope of the uncapped build (7.46, the suite's
    * worst) is exactly that tail. The cap bounds every source's
    * candidates at nProbes·cap by keeping, per cell, only the first
    * `cap` members in a deterministic content-hash order
    * (md5('knncap:'||vec_id) — cross-engine, so DuckDB replays the
    * SAME retention and the gate stays hash-exact at ANY scale where
    * the cap binds). Sources are never capped — every vector still
    * probes and keeps edges; only its per-cell candidate MENU is
    * bounded, the standard IVF-build trade. Dropped member counts are
    * logged ([[graft.ops.DedupOps.AttributionBandDfCap]] precedent);
    * the default sits above every gate corpus's max cell, so the
    * committed sf0.01 hashes are cap-invariant. */
  val KnnCellCap = 256

  // ---------------------------------------------- coarse-cell auto-sizing

  /** Corpus-driven coarse-cell sizing, MEASURED rather than guessed:
    *
    *   K = max(64, min(⌈N/32⌉, 8·2^⌊bitlen(N)/2⌋))
    *
    * i.e. fixed ~32-vector cells until that crosses ≈8·√N, then the
    * FAISS `nlist ≈ c·√N` asymptote with c ∈ [5.7, 11.3] (power-of-two
    * rounding band). Exactly computable in both engines — the √ comes
    * from the BIT LENGTH, never a float sqrt whose ulp could flip a
    * ceil between Spark and DuckDB.
    *
    * Why this shape: a cluster-scoped operator pays BOTH n·K (every
    * vector scores the broadcast centroids — a codegen'd map-side
    * scan) and ~P²·n²/K candidate-join rows (shuffle + distinct +
    * self-join). A K pinned at one corpus size leaves the pair term
    * quadratic — the measured 48× sf1 slope of `emb_knn_graph` at
    * fixed K=64 (KnnScaleProbe). The cost-balancing optimum is
    * K* = √(β/α)·P·√n where β/α is the candidate-row : assignment-row
    * cost ratio; the sf1 probe measured β/α ≈ 24 (candidate rows
    * carry a shuffle; assignment rows are a fused loop), putting
    * K* ≈ 10·√n — hence c ≈ 8, NOT the c ≈ 1–2 a naive unit-cost
    * model suggests (measured: K=256 → 8.7 s, K=625 → 4.4 s on the
    * same 20 k corpus). Below the crossover (n ≲ 8 k) the fixed-cell
    * arm keeps small-corpus cells at the recall-friendly ~32.
    *
    * Deterministic in row count alone, so the DuckDB oracles encode
    * the same formula as a scalar subquery ([[sqlAutoK]]) and the
    * gate holds at any scale factor. Reproduces the historical K=64
    * at sf0.01 (500) and sf0.1 (2 000) — committed hashes, plans and
    * bench numbers unchanged — and sizes sf1's 20 000 vectors to
    * K=625 (the probe's measured-best regime, 33 s pinned → 4.4 s). */
  val MinCentroids = 64

  /** Sentinel default for `nCentroids` params: resolve from the
    * corpus size via [[autoCentroids]] (one metadata-cheap `count()`
    * on the embeddings scan). */
  val AutoCentroids = 0

  def autoCentroids(n: Long): Int = {
    if (n <= 0) return MinCentroids
    val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(n)
    val fixedCell = (n + 31) / 32
    val sqrtArm = 8L << (bitlen >> 1)
    math.max(MinCentroids.toLong, math.min(fixedCell, sqrtArm)).toInt
  }

  /** Resolve a caller-supplied or sentinel centroid count. */
  private def resolveK(embeddings: DataFrame, nCentroids: Int): Int =
    if (nCentroids > 0) nCentroids else autoCentroids(embeddings.count())

  /** The oracle-SQL rendering of [[autoCentroids]] over the
    * `embeddings` table — a scalar subquery, so the oracle tracks the
    * corpus exactly like the engine does. */
  private def sqlAutoK: String = sqlAutoKFrom("embeddings")

  /** [[sqlAutoK]] over an arbitrary relation — the append oracle's
    * chain sizes its entry count from the pre-append corpus, exactly
    * like writeKnn's count(). */
  private def sqlAutoKFrom(rel: String): String =
    s"(SELECT GREATEST($MinCentroids, LEAST(" +
      "CAST(CEIL(COUNT(*) / 32.0) AS BIGINT), " +
      s"8 * (1::BIGINT << (length(bin(COUNT(*))) >> 1)))) FROM $rel)"

  /** Shared multi-probe coarse assignment: every screened vector →
    * its top-`nProbes` first-K sample centroids ((c_sim DESC, cid ASC)
    * tie-break). Returns (screened vectors with norms, (vec_id, cid)
    * assignment) — the candidate-generation front end of [[knnGraph]]
    * and [[hardNegatives]]. */
  private def multiProbeAssign(embeddings: DataFrame, nCentroids: Int,
      nProbes: Int): (DataFrame, DataFrame) = {
    val (cents, vecs) = firstKCells(embeddings, resolveK(embeddings, nCentroids))
    // top-P cells via the map-side partial top-k aggregator, not a
    // row_number window: the agg shuffles ~1 row per vector (partials
    // combine before the exchange), where the window would sort-shuffle
    // all corpus×K scored rows; tie-break (c_sim DESC, cid ASC) is the
    // same total order either way
    val topP = udaf(new graft.functions.TopKSimAgg(nProbes))
    val assign = vecs.join(broadcast(cents), lit(true))
      .withColumn("c_sim",
        dot(col("embedding"), col("c_emb")) / (col("nrm") * col("c_nrm")))
      .groupBy("vec_id")
      .agg(topP(col("cid"), col("c_sim")).as("top"))
      .select(col("vec_id"), explode(col("top.n_id")).as("cid"))
    (vecs, assign)
  }

  /** Per-cell candidate retention shared by [[knnGraph]] and
    * [[hardNegatives]] (see [[KnnCellCap]]): rank each cell's members
    * in the cross-engine md5 order, materialize ONCE (lazy
    * checkpoint — both join sides and the drop probe read this one
    * frame), and log what the cap drops. The dst side filters
    * `mrn <= cap`; the src/anchor side reads the same frame uncapped. */
  private def cappedCellMembers(assign: DataFrame, cellCap: Int,
      what: String): DataFrame = {
    val wCell = Window.partitionBy("cid").orderBy(
      TextOps.strHash(concat(lit("knncap:"), col("vec_id").cast("string"))).asc,
      col("vec_id").asc)
    // the drop probe RIDES the checkpoint materialization (an
    // accumulator in the same job) instead of running a separate
    // action over the ranked frame: a build where the cap cannot bind
    // pays nothing beyond the materialization both join sides read
    val (ranked, nDrop) = org.apache.spark.sql.graft.Bridge
      .localCheckpointCountingOver(
        assign.withColumn("mrn", row_number().over(wCell)), "mrn", cellCap)
    if (nDrop > 0)
      simLog.warn(s"$what: cell cap $cellCap drops $nDrop of the " +
        "per-cell candidate memberships from the candidate join")
    ranked
  }

  /** Distinct (a, b) candidate pairs sharing a cell: each `srcs`
    * membership against the cell's first `cellCap` ranked members,
    * self-pairs excluded — the candidate join of [[knnGraph]] and
    * [[hardNegatives]]. */
  private def cellPairs(srcs: DataFrame, ranked: DataFrame, cellCap: Int,
      a: String, b: String): DataFrame =
    srcs.select(col("cid"), col("vec_id").as(a))
      .join(ranked.filter(col("mrn") <= cellCap)
          .select(col("cid").as("cid2"), col("vec_id").as(b)),
        col("cid") === col("cid2") && col(a) =!= col(b))
      .select(a, b).distinct()

  /** Cluster-scoped kNN-graph construction — the candidate-generation
    * backbone of graph-based curation (agglomerative dedup clusters,
    * connectivity-based diversity sampling, label propagation): every
    * vector gets edges to its k most-cosine-similar CANDIDATE
    * neighbors, where candidates share at least one of the vector's
    * top-`nProbes` coarse cells.
    *
    * Scale shape: multi-probe assignment is the [[ivfTopK]] probe
    * idiom (broadcast K centroids + per-vector top-P window);
    * candidates come from an equi-join keyed on the cell id —
    * Σ(P·|cell|)² work, never all-pairs — and the per-node top-k is a
    * keyed window over candidates only. Multi-assignment (P=2) is the
    * standard boundary-recall fix: a pair straddling two cells is
    * found iff EITHER endpoint probes the other's cell. Deterministic
    * end to end (first-K centroids, (sim,−cid) probe tie-break,
    * (sim DESC, dst ASC) edge tie-break), so DuckDB replays the whole
    * build. Zero/NaN-norm vectors neither probe nor match
    * ([[definedNrm]]). */
  def knnGraph(embeddings: DataFrame, k: Int = KnnK,
      nCentroids: Int = AutoCentroids, nProbes: Int = KnnProbes,
      cellCap: Int = KnnCellCap): DataFrame = {
    val (vecs, assign) = multiProbeAssign(embeddings, nCentroids, nProbes)
    val ranked = cappedCellMembers(assign, cellCap, "knnGraph")
    val cand = cellPairs(ranked, ranked, cellCap, "src", "dst")
    val wRank = Window.partitionBy("src").orderBy(col("sim").desc, col("dst").asc)
    cand
      .join(vecs.select(col("vec_id").as("src"), col("embedding").as("e1"),
        col("nrm").as("nrm1")), "src")
      .join(vecs.select(col("vec_id").as("dst"), col("embedding").as("e2"),
        col("nrm").as("nrm2")), "dst")
      .withColumn("sim", dot(col("e1"), col("e2")) / (col("nrm1") * col("nrm2")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("src"), col("dst"), col("rank").cast("long").as("rank"),
        round(col("sim"), 6).as("sim"))
  }

  /** Graph-ANN serving parameters (shared with the oracle SQL): beam
    * width kept after each scored expansion, entry seeds per query,
    * and the unrolled hop count. Hops=3 (round 14): the 2-hop search
    * saturated at 0.62 recall — a REACHABILITY bound (beam 8 ≡ beam
    * 16), not a beam bound — so the ceiling-raiser is another
    * expansion, exactly like production NSW serves escape a shallow
    * frontier. Measured ladder in README (recall > the 2-hop 0.62 at
    * a per-query cost still independent of corpus size). */
  val GraphBeam = 4
  val GraphSeeds = 2
  val GraphHops = 3

  /** The append split for `serve_graph_index_append` (shared with the
    * oracle SQL): the serve_index_append convention. */
  val GraphAppendWhere = "vec_id % 8 = 7"
  def graphAppendPred: Column = col("vec_id") % 8 === 7

  /** The deletion split for the `serve_*_index_delete` queries
    * (shared with the oracle SQL) — stands in for a takedown /
    * decontamination id list; disjoint from [[GraphAppendWhere]] so
    * lifecycle stages compose, and it overlaps the centroid/entry
    * sample (ids < K) so the oracles exercise the
    * frozen-structure-retained rule too. */
  val GraphDeleteWhere = "vec_id % 16 = 3"
  def graphDeletePred: Column = col("vec_id") % 16 === 3

  /** GRAPH-based ANN serving — fixed-hop beam search over the
    * [[knnGraph]] edges, the NSW/HNSW-family member completing the
    * serving ladder next to the cell-probed ([[ivfTopK]]) and
    * quantized ([[pqTopK]]/[[rqTopK]]/[[sqTopK]]/[[bqTopK]]) rungs.
    * Production vector stores serve from a proximity graph precisely
    * because search cost is O(hops × beam × degree) per query —
    * INDEPENDENT of corpus size — once the graph artifact exists;
    * this operator is that search, unrolled to a deterministic
    * [[GraphHops]]-hop expansion so DuckDB can replay it:
    *
    *  1. seed: each query scores the graph's first-K entry nodes (the
    *     same first-K corpus vectors [[knnGraph]] uses as coarse
    *     centroids — they ARE graph nodes) and keeps the top
    *     [[GraphSeeds]] (broadcast of K rows; |Q|·K scored rows)
    *  2. hop h (h = 1..[[GraphHops]]): expand the previous frontier
    *     along its ≤[[KnnK]] out-edges; between hops, score and keep
    *     the top [[GraphBeam]] per query (the beam)
    *  3. gather: exact cosine top-k over everything visited
    *     (≤ seeds·(1+k) + (hops−1)·beam·k nodes per query)
    *
    * Scale shape: the corpus participates ONLY through the edge
    * artifact (one equi-join per hop keyed on node id — the candidate
    * side is |Q|·beam·k rows, so AQE broadcasts it into the edge
    * scan) and the ≤~50-node-per-query embedding lookups; the full
    * corpus is never scored, shuffled, or scanned per query batch. In
    * production the edges come from the persisted [[knnGraph]]
    * artifact (the `serve_index_write` discipline); here the build is
    * in-plan so the query is self-contained and the whole path —
    * build + search — replays hash-exact in the oracle. Recall is
    * bounded by graph connectivity at 2 hops and measured by
    * [[graphRecall]], exactly the IVF family's audit discipline. */
  def graphTopK(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      beam: Int = GraphBeam, seedK: Int = GraphSeeds,
      nCentroids: Int = AutoCentroids, hops: Int = GraphHops): DataFrame = {
    val kCent = resolveK(embeddings, nCentroids)
    // the frames below feed MULTIPLE search stages (edges: both hop
    // expansions; seeds/hop1: the next hop AND the final gather) —
    // lazy localCheckpoints keep each computed once per query instead
    // of re-deriving the whole edge build per consumer (the
    // curate_export_manifest discipline; in production the edges are
    // the persisted knnGraph artifact and this is a scan)
    val edges = knnGraph(embeddings, KnnK, kCent, KnnProbes)
      .select(col("src"), col("dst"))
      .localCheckpoint(eager = false)
    val g = new GraphSearch(embeddings, queryPred)
    val seeds = g.narrow(g.nodeVecs.filter(col("node") < kCent)
      .select(col("node")).crossJoin(g.queries.select("q_id")), seedK)
    val visited = g.beamHops(seeds, seeds, edges, hops, beam)
    g.rankTopK(visited.filter(col("node") =!= col("q_id")).distinct(), k)
  }

  /** The cosine beam-search core of [[graphTopK]] and
    * [[graphLayeredSearch]]: the screened query batch and node vectors,
    * the (q_id, node) frontier scorer, per-query top-n narrowing, the
    * unrolled hop loop and the final top-k gather. */
  private final class GraphSearch(embeddings: DataFrame, queryPred: Column) {
    private val vecs = screenedVecs(embeddings)
    val queries: DataFrame = vecs.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val nodeVecs: DataFrame = vecs.select(col("vec_id").as("node"),
      col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
    private val wBeam = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("node").asc)

    /** Score a (q_id, node) frontier: node embeddings via one corpus
      * equi-join (tiny probe side → broadcast), query vectors via the
      * bounded-batch join. */
    def scored(frontier: DataFrame): DataFrame = frontier
      .join(nodeVecs, "node")
      .join(queries, "q_id")
      .withColumn("sim",
        dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")))
      .select(col("q_id"), col("node"), col("sim"))

    /** The per-query top-`n` of a frontier, lazily checkpointed (it
      * feeds the next expansion and the visited set). */
    def narrow(frontier: DataFrame, n: Int): DataFrame = scored(frontier)
      .withColumn("rn", row_number().over(wBeam))
      .filter(col("rn") <= n)
      .select("q_id", "node")
      .localCheckpoint(eager = false)

    /** Hop loop: expand the frontier along its out-edges; every hop's
      * nodes join the visited set; between hops the frontier narrows
      * to the per-query top-`beam` of the NEW nodes (the unrolled beam
      * search the oracle replays hop for hop). Returns `visited` plus
      * every hop. */
    def beamHops(start: DataFrame, visited0: DataFrame, edges: DataFrame,
        hops: Int, beam: Int): DataFrame = {
      var frontier = start
      var visited = visited0
      for (h <- 1 to hops) {
        val hop = frontier.join(edges, frontier("node") === edges("src"))
          .select(col("q_id"), col("dst").as("node")).distinct()
          .localCheckpoint(eager = false)
        visited = visited.unionByName(hop)
        frontier = if (h < hops) narrow(hop, beam) else hop
      }
      visited
    }

    /** Exact cosine top-k over the gathered (q_id, node) set. */
    def rankTopK(gathered: DataFrame, k: Int): DataFrame = scored(gathered)
      .withColumn("rank", row_number().over(wBeam))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("node").as("n_id"),
        col("rank").cast("long").as("rank"), round(col("sim"), 6).as("sim"))
  }

  /** Recall@k of the graph serve vs brute force — [[ivfRecall]]'s
    * audit shape on the graph rung, so the serving ladder's accuracy
    * dashboard covers every family it ships. `served` lets the audit
    * score an ARTIFACT-served result frame (the production serve path)
    * instead of re-running the in-plan build+search. */
  def graphRecall(embeddings: DataFrame, queryPred: Column,
      k: Int = 10, beam: Int = GraphBeam, hops: Int = GraphHops,
      served: Option[DataFrame] = None): DataFrame =
    recallAudit(
      bruteForceTopK(embeddings, queryPred, k).select(col("q_id"), col("n_id")),
      served.getOrElse(graphTopK(embeddings, queryPred, k, beam = beam, hops = hops)))

  // ------------------------------------------ HNSW-style layer ladder

  /** Layer-ladder parameters (round 15, shared with the oracle SQL):
    * geometric hash-sampling factor, upper-layer count, and the entry
    * sample seeding the TOP layer. [[LayerEntryK]] is deliberately
    * tiny (8 vectors, not the [[autoCentroids]]-sized first-K list
    * the flat serve scans): the ladder exists precisely so the serve
    * never pays a corpus-growth-sized entry scan — the descent
    * replaces it.
    *
    * DEPTH is count-driven (round 16 — the [[autoCentroids]]
    * discipline applied to the ladder): [[autoLayers]] picks the
    * smallest L with E[N/16^L] ≤ [[LayerEntryBudget]], so the
    * top-layer entry scan — and the append path's entry cross-join —
    * stay BOUNDED as the corpus grows; a fixed depth would let both
    * grow as N/16^L, linear per query batch, defeating the ladder's
    * stated purpose at 100× scale. The artifact records its resolved
    * depth ([[graft.serving.IndexStore.writeKnnLayered]]'s lmeta
    * table) and appends/compactions/serves read it back — the
    * frozen-centroid contract: depth re-levels only at a full
    * rebuild. [[GraphLayers]] (= 2) remains as the depth autoLayers
    * resolves to at every ORACLED scale (sf0.01: N=500, sf0.1:
    * N=2000, the spec corpora), which is what lets the committed
    * oracle SQL unroll the descent statically exactly like hops 1–3
    * — L is a deterministic function of N, so for the gate corpus
    * the depth-2 unrolling IS the auto depth. The sf1 replica
    * (N=20,000) resolves to 3 — the LayerScaleProbe measurement in
    * SURVEY §2.4 shows the entry scan bounded there while a pinned
    * depth-2 build's top layer grows past the budget. */
  val LayerFactor = 16L
  val GraphLayers = 2
  val LayerEntryK = 8
  /** Expected top-layer size ceiling for [[autoLayers]] —
    * 2·[[LayerEntryK]]: the entry scan stays the same order as the
    * deliberate entry sample, never corpus-coupled. */
  val LayerEntryBudget = 2L * LayerEntryK
  /** Sentinel: resolve the layer count from the corpus ([[autoLayers]])
    * or, at serve time, from the artifact's recorded depth. */
  val AutoLayers = -1

  /** Count-driven ladder depth: the smallest L ≥ 1 with
    * E[N/16^L] ≤ [[LayerEntryBudget]]. */
  def autoLayers(n: Long): Int = {
    var l = 1
    var top = n / LayerFactor
    while (top > LayerEntryBudget) { l += 1; top /= LayerFactor }
    l
  }

  /** Resolve a caller-supplied or sentinel layer count (the
    * [[resolveK]] shape). */
  private[graft] def resolveLayers(embeddings: DataFrame,
      layers: Int): Int =
    if (layers >= 0) layers else autoLayers(embeddings.count())

  /** Corpus count plus every layer's member count in ONE aggregation
    * job (r16 optimization, guide §1.2/§2.4): [[graft.serving
    * .IndexStore.writeKnnLayered]] previously paid one count() scan
    * for [[resolveLayers]] plus one per layer inside [[knnGraph]]'s
    * [[resolveK]] — 4 corpus scans at depth 2 whose only output is
    * four longs. The layer predicates all test the SAME md5 hash
    * against successive moduli, so a single projection computes the
    * hash once per row and `count_if` folds all depths in one pass.
    * Returns counts(l) = |{v : layerMemberPred(l, v)}| for l = 0..maxL
    * (counts(0) = |corpus|), bit-identical to the per-layer counts by
    * construction. */
  private[graft] def layerCounts(ids: DataFrame, maxL: Int): IndexedSeq[Long] = {
    val h = TextOps.strHash(concat(lit("knnlayer:"),
      col("vec_id").cast("string"))).as("h")
    val aggs = (1 to maxL).map { l =>
      val m = (1 to l).foldLeft(1L)((a, _) => a * LayerFactor)
      count_if(col("h").mod(lit(m)) === 0).as(s"c$l")
    }
    val r = ids.select(h)
      .agg(count(lit(1)).cast("long").as("c0"), aggs: _*).collect()(0)
    (0 to maxL).map(i => r.getLong(i))
  }
  /** Greedy steps per UPPER layer — one expansion rarely crosses from
    * the coarse seed's region into the query's basin; production HNSW
    * greedy-searches each layer to a local minimum, which the
    * unrolled (oracle-replayable) form approximates with a fixed
    * number of narrowing expansions. */
  val LayerHops = 2
  /** Layered-graph out-degree — the measured recall lever (HNSW's M):
    * at the committed flat degree ([[KnnK]] = 5) the layered search
    * caps at 0.375 recall on a hierarchically-clustered corpus
    * regardless of beam/seeds/hops (basin entry fails — too few ways
    * in), at 16 it reaches 0.81 at 3.4 % scanned with the CHEAPEST
    * search config; production HNSW ships M = 16–48 for exactly this
    * reason. The layered artifact therefore carries its own degree
    * rather than inheriting the flat rung's. */
  val LayerK = 16

  /** Layer-ℓ membership: cross-engine md5 sampling (the knncap hash
    * discipline), geometric in ℓ — E[|layer ℓ|] = N / 16^ℓ. An empty
    * upper layer (tiny corpora) degrades gracefully: the descent
    * carries its entry candidates through unchanged. */
  def layerMemberPred(l: Int, id: Column = col("vec_id")): Column =
    TextOps.strHash(concat(lit("knnlayer:"), id.cast("string")))
      .mod(lit((1 to l).foldLeft(1L)((a, _) => a * LayerFactor))) === 0

  /** Bidirectional (NSW) edge closure of a directed kNN graph —
    * layered artifacts store BOTH directions (out-degree ≤ 2·K),
    * the linking rule every production NSW/HNSW store applies: a
    * directed kNN graph is not navigable (hubs absorb in-edges they
    * never return), and the mirror is what makes greedy descent
    * reliably reach a near neighbor's basin. */
  private[graft] def mirroredEdges(e: DataFrame): DataFrame =
    e.select("src", "dst")
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  /** LAYERED graph-ANN serving — the HNSW shape over the committed
    * beam search: greedy coarse-to-fine descent through hash-sampled
    * upper layers, then the committed [[GraphHops]]-hop beam at
    * layer 0 (mirrored edges at every layer). Returns (top-k frame,
    * visited frame) — `visited` is every (q_id, node) the search
    * scored, the honest per-query cost the recall-vs-scanned audit
    * reports. Deterministic end to end: md5 layer sampling, first-K
    * knnGraph builds per layer, (sim DESC, node ASC) tie-breaks —
    * DuckDB replays build + descent + beam + gather. */
  private[graft] def graphLayeredSearch(embeddings: DataFrame,
      queryPred: Column, k: Int, beam: Int, seedK: Int, hops: Int,
      layers0: Int = AutoLayers,
      buildEdges: DataFrame => DataFrame =
        m => knnGraph(m, LayerK, AutoCentroids, KnnProbes),
      layerHops: Int = LayerHops): (DataFrame, DataFrame) = {
    val layers = resolveLayers(embeddings, layers0)
    val layerEdges = (0 to layers).map { l =>
      val members = if (l == 0) embeddings
        else embeddings.filter(layerMemberPred(l))
      l -> mirroredEdges(buildEdges(members))
        .localCheckpoint(eager = false)
    }.toMap
    val g = new GraphSearch(embeddings, queryPred)
    // entry: ALL top-layer members (the HNSW convention — the search
    // must enter ON the top layer for the first expansion to have
    // out-edges; membership nests geometrically, so carried nodes
    // stay expandable all the way down), plus the first-LayerEntryK
    // corpus vectors as the tiny-corpus fallback (an empty top layer
    // then still seeds — the fallback nodes carry through the upper
    // layers unexpanded and expand at layer 0). The top layer is
    // bounded by the depth knob: at 100 TB you add layers rather than
    // let |top| grow, exactly like production HNSW keeps its apex
    // near-singleton.
    val entry = g.nodeVecs
      .filter(layerMemberPred(layers, col("node"))
        || col("node") < LayerEntryK)
      .select(col("node")).crossJoin(g.queries.select("q_id"))
      .select(col("q_id"), col("node"))
    var carry = g.narrow(entry, seedK)
    var visited = entry
    // greedy descent ℓ = layers..1: expand the carried candidates
    // along the layer's edges, keep the per-query top-seedK of
    // carried ∪ expanded (a carried node with no out-edges in this
    // layer survives on its score — empty layers degrade gracefully)
    for (l <- layers to 1 by -1; s <- 1 to layerHops) {
      val e = layerEdges(l)
      val cand = carry
        .unionByName(carry.join(e, carry("node") === e("src"))
          .select(col("q_id"), col("dst").as("node")))
        .distinct()
        .localCheckpoint(eager = false)
      visited = visited.unionByName(cand)
      // the LAST descent step widens to the beam (HNSW's ef
      // expansion entering layer 0): the upper layers navigate with
      // seedK candidates, layer 0 explores from beam-many
      val keep = if (l == 1 && s == layerHops) math.max(seedK, beam)
        else seedK
      carry = g.narrow(cand, keep)
    }
    // layer 0: the committed hop/beam loop, seeded by the descent
    val gathered = g.beamHops(carry, visited, layerEdges(0), hops, beam)
      .filter(col("node") =!= col("q_id")).distinct()
      .localCheckpoint(eager = false)
    (g.rankTopK(gathered, k), gathered)
  }

  def graphLayeredTopK(embeddings: DataFrame, queryPred: Column,
      k: Int = 10, beam: Int = GraphBeam, seedK: Int = GraphSeeds,
      hops: Int = GraphHops, layers: Int = AutoLayers): DataFrame =
    graphLayeredSearch(embeddings, queryPred, k, beam, seedK, hops,
      layers)._1

  /** Hard-negative mining parameters for the driver query (shared
    * with the oracle SQL). */
  val HnNegK = 3
  val HnProbes = 2

  /** Contrastive training-pair mining — for every anchor vector, the
    * most-similar SAME-label candidate (the positive) and the
    * top-[[HnNegK]] most-similar DIFFERENT-label candidates (the hard
    * negatives): the standard pair-construction step for training
    * embedding / retrieval models (in-batch negatives are easy; the
    * valuable negatives are the near-misses this op surfaces).
    *
    * Scale shape: identical to [[knnGraph]] — multi-probe coarse cells
    * bound the candidate join to Σ(P·|cell|)², the per-anchor ranking
    * is a keyed window over candidates only, and labels ride the
    * candidate rows (no second corpus pass). Output is one row per
    * (anchor, role, rank): role 'pos' rank 1, role 'neg' ranks
    * 1..negK. Anchors whose cells contain no same-label (or no
    * different-label) candidate simply emit no such row — the honest
    * production behavior (mine more probes if positives are missing).
    * Deterministic end to end; DuckDB replays the full build. */
  def hardNegatives(embeddings: DataFrame, anchorPred: Column,
      negK: Int = HnNegK, nCentroids: Int = AutoCentroids,
      nProbes: Int = HnProbes, cellCap: Int = KnnCellCap): DataFrame = {
    val (vecs0, assign) = multiProbeAssign(embeddings, nCentroids, nProbes)
    val labels = embeddings.select(col("vec_id"), col("label").cast("long").as("label"))
    val vecs = vecs0.join(labels, "vec_id")
    // per-cell candidate cap — [[KnnCellCap]]'s discipline on the
    // mining join (same md5 retention order, DuckDB-replayed)
    val ranked = cappedCellMembers(assign, cellCap, "hardNegatives")
    val cand = cellPairs(ranked.filter(anchorPred), ranked, cellCap,
      "anchor", "other")
    val scored = cand
      .join(vecs.select(col("vec_id").as("anchor"), col("embedding").as("e1"),
        col("nrm").as("nrm1"), col("label").as("l1")), "anchor")
      .join(vecs.select(col("vec_id").as("other"), col("embedding").as("e2"),
        col("nrm").as("nrm2"), col("label").as("l2")), "other")
      .withColumn("sim", dot(col("e1"), col("e2")) / (col("nrm1") * col("nrm2")))
      .select(col("anchor"), col("other"), col("l1"), col("l2"), col("sim"))
    // ONE window pass keyed (anchor, is_pos) ranks positives and
    // negatives together — a per-role filter+union would re-execute
    // the whole candidate pipeline per branch (measured x28 exchanges
    // vs x14 for this form) and shuffle the candidates twice
    val wRank = Window.partitionBy(col("anchor"), col("is_pos"))
      .orderBy(col("sim").desc, col("other").asc)
    scored.withColumn("is_pos", col("l1") === col("l2"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("is_pos") && col("rank") <= 1 ||
        !col("is_pos") && col("rank") <= negK)
      .select(col("anchor"),
        when(col("is_pos"), "pos").otherwise("neg").as("role"),
        col("other"), col("rank").cast("long").as("rank"),
        round(col("sim"), 6).as("sim"))
  }

  // ------------------------------------------------ product quantization

  /** PQ geometry for the driver query (shared with the oracle SQL):
    * 64-dim vectors → [[PqSubs]] subspaces of [[PqSubDim]] dims, each
    * quantized to one of [[PqCodes]] codewords — 8 bytes per vector
    * instead of 256, the 32× shrink that makes a 100 TB embedding
    * corpus scannable from memory. Codebooks are sample-trained on the
    * first [[PqCodes]] vectors (the FAISS-style deterministic sampling
    * convention [[ivfTopK]] also uses), so the WHOLE pipeline — train,
    * encode, score — is replayable in plain SQL. */
  val PqSubs = 8
  val PqSubDim = 8
  val PqCodes = 16
  /** ADC shortlist width before the exact rerank — the standard
    * two-stage serving shape (shortlist on codes, rerank on floats). */
  val PqShortlist = 50

  /** Sequential-fold squared L2 distance between two float arrays —
    * identical accumulation order to DuckDB's list_reduce, so PQ
    * distances are bit-reproducible across engines. */
  /** Sequential-fold squared L2 over two equal-length float arrays —
    * r16: the native codegen'd kernel ([[graft.functions.VecSqdist]])
    * replaces the interpreted `aggregate(zip_with(...))` chain; both
    * accumulate index-ascending in double precision (DuckDB
    * list_reduce's order), so distances stay bit-reproducible. */
  private def sqdist(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vec_sqdist(a, b)

  /** One-row PQ codebook: `fcb` = flat array of nSubs×nCodes
    * sub-codewords ordered by (subspace, code) — entry (m,k) at index
    * m·nCodes+k. Codeword (m,k) = subspace-m slice of the k-th
    * codebook-sample vector (samples = the first nCodes full-dim
    * vectors, ordered by vec_id). A single tiny aggregate: at any
    * corpus size the codebook is KBs and broadcasts. */
  def pqCodebookRow(embeddings: DataFrame, dim: Int,
      nSubs: Int = PqSubs, nCodes: Int = PqCodes): DataFrame = {
    val sub = dim / nSubs
    embeddings.filter(col("vec_id") < nCodes && size(col("embedding")) === dim)
      .select(struct(col("vec_id"), col("embedding")).as("e"))
      .agg(array_sort(collect_list(col("e"))).as("es"))
      .select(flatten(transform(sequence(lit(0), lit(nSubs - 1)), m =>
        transform(col("es"), e =>
          slice(e.getField("embedding"), m * sub + 1, lit(sub))))).as("fcb"))
  }

  /** PQ-encode the corpus: per vector, per subspace, the argmin-L2
    * codeword index (tie-break lowest code). Pure narrow expressions
    * over a broadcast 1-row codebook — ZERO shuffle: at 100 TB the
    * encode runs at scan bandwidth and writes 8-byte codes, which is
    * the entire point of PQ. Rows that cannot encode (NULL / wrong
    * dim) are screened out. */
  def pqEncode(embeddings: DataFrame, dim: Int,
      nSubs: Int = PqSubs, nCodes: Int = PqCodes): DataFrame = {
    val cbRow = pqCodebookRow(embeddings, dim, nSubs, nCodes)
    embeddings
      .filter(col("embedding").isNotNull && size(col("embedding")) === dim)
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cbRow))
      // native fused argmin kernel (codegen'd); bit-identical to
      // [[pqEncodeHof]] — the (d, code) total order is the oracle's
      // ROW_NUMBER(ORDER BY d, k) (NaN ranks greatest both ways)
      .withColumn("codes", graft.functions.VectorFunctions
        .pq_encode(col("embedding"), col("fcb"), nSubs, nCodes))
  }

  /** The interpreted HOF formulation of the encode argmin — the
    * readable semantic spec of [[PqEncode]]'s fused kernel; PqSpec
    * pins kernel ≡ HOF row equality. */
  private[graft] def pqEncodeHof(dim: Int, nSubs: Int, nCodes: Int): Column = {
    val sub = dim / nSubs
    transform(sequence(lit(0), lit(nSubs - 1)), m => {
      val cands = transform(sequence(lit(0), lit(nCodes - 1)), c =>
        struct(
          sqdist(slice(col("embedding"), m * sub + 1, lit(sub)),
            element_at(col("fcb"), m * nCodes + c + 1)).as("d"),
          c.cast("integer").as("k")))
      array_min(cands).getField("k")
    })
  }

  /** Two-stage PQ ANN — asymmetric-distance (ADC) shortlist over the
    * 8-byte codes, exact-L2 rerank of the shortlist on full vectors:
    * the production serving shape (Jégou et al., TPAMI 2011).
    *
    * Scale shape: queries broadcast against the encoded corpus; the
    * ADC score is computed MAP-SIDE from (codes, broadcast codebook,
    * broadcast query) so only (q_id, n_id, dist) triples ever shuffle,
    * and the shortlist runs as a map-side partial top-k
    * ([[graft.functions.TopKSimAgg]] on negated distance) — ≤
    * shortlist·partitions rows per query cross the wire, never the
    * |Q|×|C| score matrix. The rerank joins the ≤|Q|·shortlist id set
    * back to the corpus (broadcast the shortlist ids at serving scale)
    * and re-scores exactly. Fully deterministic (sample-trained
    * codebook, (d, code) and (dist, n_id) tie-breaks), so DuckDB
    * replays train→encode→ADC→rerank end to end. */
  /** The interpreted HOF formulation of the ADC distance — the
    * readable semantic spec of [[PqAdc]]'s fused kernel; PqSpec pins
    * kernel ≡ HOF value equality. */
  private[graft] def pqAdcHof(dim: Int, nSubs: Int, nCodes: Int): Column = {
    val sub = dim / nSubs
    aggregate(sequence(lit(0), lit(nSubs - 1)), lit(0.0), (acc, m) =>
      acc + sqdist(slice(col("q_emb"), m * sub + 1, lit(sub)),
        element_at(col("fcb"), m * nCodes + element_at(col("codes"), m + 1) + 1)))
  }

  def pqTopK(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      shortlist: Int = PqShortlist, dim: Int = -1,
      nSubs: Int = PqSubs, nCodes: Int = PqCodes): DataFrame = {
    val d0 = if (dim > 0) dim else dataDim(embeddings)
    val corpus = embeddings
      .filter(col("embedding").isNotNull && size(col("embedding")) === d0)
      .select(col("vec_id"), col("embedding"))
    val encoded = pqEncode(embeddings, d0, nSubs, nCodes)
      .select(col("vec_id").as("n_id"), col("codes"), col("fcb"))
    val q = rawQueries(corpus, queryPred)
    val adc = encoded.join(broadcast(q), col("q_id") =!= col("n_id"))
      // native fused ADC kernel (codegen'd); bit-identical to
      // [[pqAdcHof]] (same per-subspace fold grouping)
      .withColumn("dist", graft.functions.VectorFunctions
        .pq_adc(col("q_emb"), col("codes"), col("fcb"), nSubs, nCodes))
      .select(col("q_id"), col("n_id"), col("dist"))
    rerankTopK(rawCorpus(corpus), shortlistIds(adc, shortlist, -col("dist")), q,
      k, "dist", sqdist(col("q_emb"), col("n_emb")), ascending = true)
  }

  /** Label-propagation parameters for the driver query (shared with
    * the oracle SQL): 20 % seeds, 3 synchronous rounds. */
  val LpRounds = 3
  val LpSeedMod = 5

  /** Semi-supervised label propagation over the kNN graph — the
    * auto-labeling shape (weak supervision): a small labeled seed set
    * spreads over the [[knnGraph]] edges; each round, every UNLABELED
    * node with at least one labeled kNN neighbor adopts the majority
    * neighbor label ((count DESC, label ASC) tie-break), seeds stay
    * clamped, updates are synchronous per round. Output carries the
    * round a node was first labeled (0 = seed) — the propagation
    *-depth confidence proxy.
    *
    * Scale shape: the graph build is [[knnGraph]]'s bounded candidate
    * pipeline; each round is one keyed join (edges ⋈ labeled-on-dst) +
    * one (src,label) count agg + a max_by argmax + an anti-join — all
    * map-side-combinable keyed ops, rounds bounded by the constant
    * [[LpRounds]]; each round's frontier is localCheckpoint'd like the
    * CC family so lineage stays flat. Isolated nodes (no kNN edges, or
    * no labeled neighbor within `rounds` hops) stay absent — honest
    * coverage is part of the output contract. Deterministic end to
    * end; DuckDB replays graph build + all rounds. */
  def knnLabelProp(embeddings: DataFrame, seedPred: Column,
      rounds: Int = LpRounds, k: Int = KnnK, nCentroids: Int = AutoCentroids,
      nProbes: Int = KnnProbes): DataFrame = {
    // r16 (guide §2.4, the pageRankFixed discipline): the loop joins
    // the edge list on `dst` every round — pre-partition + pre-sort it
    // on that key once, compiled NON-adaptively so the checkpointed
    // LogicalRDD carries the layout (under AQE it captures Unknown and
    // every round re-exchanged + re-sorted |E|); the rounds then
    // exchange only the label side. r17: the pinned partition count is
    // SIZE-CAPPED ([[graft.ops.GraphOps.pinnedPartitions]] — the r16
    // verdict's regression: shuffle.partitions near-empty sorted
    // partitions per round consumer dominated the wall at small |E|),
    // so the eager build checkpoint doubles as the row count's one
    // scalar action.
    // (two layers: the knnGraph BUILD stays adaptive — it wants AQE's
    // skew handling at scale — and only the fixed-shape layout pass
    // over the built edge RDD compiles non-adaptively)
    val built = knnGraph(embeddings, k, nCentroids, nProbes)
      .select(col("src"), col("dst"))
      .localCheckpoint(eager = false)
    val (edges, parts) = GraphOps.pinnedLayout(built, "dst", built.count())
    var labeled = embeddings.filter(seedPred)
      .select(col("vec_id"), col("label").cast("long").as("pred_label"),
        lit(0L).as("round"))
      .localCheckpoint(eager = false)
    for (r <- 1 to rounds) {
      // label side pinned to the SAME (count, key) as the edge layout:
      // EnsureRequirements only reuses a co-partitioning when both
      // children match (see pageRankFixed)
      val votes = edges
        .join(labeled.select(col("vec_id").as("dst"), col("pred_label"))
          .repartition(parts, col("dst")), "dst")
        .groupBy(col("src"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
      val newly = votes
        .join(labeled.select(col("vec_id").as("src")), Seq("src"), "left_anti")
        .groupBy("src")
        .agg(max_by(col("pred_label"),
          struct(col("n"), -col("pred_label"))).as("pred_label"))
        .select(col("src").as("vec_id"), col("pred_label"),
          lit(r.toLong).as("round"))
      labeled = org.apache.spark.sql.graft.Bridge
        .freshLocalCheckpoint(labeled.unionByName(newly))
    }
    labeled
  }

  /** IVF-PQ parameters for the driver query (shared with the oracle
    * SQL): 64 cells, 8 probed ⇒ ~12.5 % of codes ADC-scanned. */
  val IvfPqCells = 64
  val IvfPqProbe = 8

  /** IVF-PQ top-k — the composed FAISS serving architecture: an
    * inverted-file coarse quantizer bounds WHICH codes are scanned,
    * the PQ codes bound the BYTES per scanned row, an exact rerank
    * restores float precision for the final k. This is how "top-k
    * over 100 TB of embeddings" actually ships: ~nProbe/nCells of the
    * corpus read, at 8 B/vector, with the full-precision vectors
    * touched only for |Q|·shortlist rows.
    *
    * Metric is squared-L2 THROUGHOUT (cells, ADC, rerank) via the
    * expansion ‖x−c‖² = x·x − 2·x·c + c·c over the codegen'd
    * [[graft.functions.VectorFunctions.vec_dot]] — one norm pass per
    * side, no per-pair re-traversal, and the identical left-to-right
    * expression tree in the DuckDB replay. Raw-vector PQ codes
    * (FAISS's by_residual=false variant) keep the codebook shared
    * across cells, so one broadcast codebook row serves the whole
    * scan. Plan shape: the cell-keyed ADC join BROADCASTS the probe
    * side (|Q|·nProbe rows) and streams the encoded corpus — the
    * corpus never shuffles; the flat codebook is re-attached AFTER
    * the join from its 1-row broadcast so no 4 KB fcb column ever
    * crosses a wire. Deterministic end to end ((d, cid) and
    * (dist, n_id) tie-breaks), DuckDB-replayed train→assign→encode→
    * probe→ADC→rerank. */
  def ivfPqTopK(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      shortlist: Int = PqShortlist, nCells: Int = IvfPqCells,
      nProbe: Int = IvfPqProbe, dim: Int = -1,
      nSubs: Int = PqSubs, nCodes: Int = PqCodes): DataFrame = {
    val d0 = if (dim > 0) dim else dataDim(embeddings)
    val dotF = graft.functions.VectorFunctions.vec_dot _
    val corpus = embeddings
      .filter(col("embedding").isNotNull && size(col("embedding")) === d0)
      .select(col("vec_id"), col("embedding"),
        dotF(col("embedding"), col("embedding")).as("xx"))
    val cents = corpus.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"),
        col("xx").as("cc"))
    val cbRow = pqCodebookRow(embeddings, d0, nSubs, nCodes)
    // assign: argmin-L2 cell per vector (min_by over the (d, cid)
    // total order — one ~1-row-per-vector shuffle, the assignBest
    // shape); encode: zero-shuffle codes over the broadcast codebook
    def sqdTo(v: Column) =
      col("xx") - lit(2.0) * dotF(v, col("c_emb")) + col("cc")
    val assign = corpus.join(broadcast(cents), lit(true))
      .withColumn("d", sqdTo(col("embedding")))
      .groupBy("vec_id")
      .agg(min_by(col("cid"), struct(col("d"), col("cid"))).as("cid"))
    val enc = pqEncode(embeddings, d0, nSubs, nCodes)
      .select(col("vec_id").as("n_id"), col("codes"))
      .join(assign.withColumnRenamed("vec_id", "n_id"), "n_id")
    // probe: per query the nProbe closest cells (map-side partial
    // top-k on negated distance; ties (d, cid) either way)
    val topP = udaf(new graft.functions.TopKSimAgg(nProbe))
    val probes = corpus.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("xx"))
      .join(broadcast(cents), lit(true))
      .withColumn("d", sqdTo(col("q_emb")))
      .groupBy("q_id")
      .agg(topP(col("cid"), -col("d")).as("top"), first(col("q_emb")).as("q_emb"))
      .select(col("q_id"), col("q_emb"), explode(col("top.n_id")).as("cid"))
    // ADC over probed cells only: broadcast the probe side, stream the
    // encoded corpus; codebook re-attached from its 1-row broadcast
    val cand = shortlistIds(enc.join(broadcast(probes), Seq("cid"))
      .filter(col("q_id") =!= col("n_id"))
      .crossJoin(broadcast(cbRow))
      .withColumn("dist", graft.functions.VectorFunctions
        .pq_adc(col("q_emb"), col("codes"), col("fcb"), nSubs, nCodes)),
      shortlist, -col("dist"))
    // exact-L2 rerank of the shortlist on full-precision vectors
    val q = corpus.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("xx").as("q_xx"))
    rerankTopK(corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("xx").as("n_xx")), cand, q, k, "dist",
      col("q_xx") - lit(2.0) * dotF(col("q_emb"), col("n_emb")) + col("n_xx"),
      ascending = true)
  }

  // ------------------------------------------------------------ queries

  type QFn = (SparkSession, String) => DataFrame

  /** IVF parameters for the driver query (shared with the oracle SQL).
    * Swept at sf0.01: recall@10 = 0.80 scanning ~38 % of the corpus —
    * the knee for isotropic random embeddings (a worst case: cells
    * barely correlate with neighborhoods, so recall ≈ scanned fraction
    * + quantization uplift; real clustered embeddings do far better). */
  val IvfCentroids = 64
  val IvfProbe = 24
  /** Near-dup LSH parameters for the driver query. The synthetic
    * corpus's nearest pairs sit at cos 0.45–0.51 (≈60°) — the regime
    * where hyperplane LSH is weakest (P(bit agree) ≈ 0.67) — so the
    * demo uses short 5-bit bands × 12 (recall 0.86 here); production
    * near-dup (cos ≥ 0.95) would use the 16-bit default bands. */
  val NdBands = 12
  val NdBits = 5
  val NdTau = 0.45
  /** Recall-audit corpus subsample target (count-driven modulus —
    * resolves to the full corpus at the sf0.01 gate). */
  val NdAuditTarget = 500

  /** Serving-query batch target: the `sim_*_topk`/`sim_mmr_topk`/
    * `sim_*_recall` families bind their query side with a COUNT-DRIVEN
    * modulus `vec_id % max(100, N/ServeQueryTarget) == 0` instead of
    * the fixed `% 100` they used through round 10. A fixed modulus
    * makes the query batch N/100 rows — broadcast as codes/vectors and
    * multiplied against corpus-sized candidate sets, i.e. O(N²/100)
    * ADC work at scale. The count-driven form bounds the batch at
    * ~ServeQueryTarget queries at ANY corpus size (the production
    * shape: a fixed query workload served against a growing corpus),
    * while the `max(100, …)` floor keeps the modulus EXACTLY 100 at
    * the sf0.01 gate (N = 500 ⇒ N/16 = 31 < 100), so every committed
    * oracle hash is unchanged. The oracles encode the same rule as a
    * DuckDB scalar subquery — see [[sqlServeMod]]. */
  val ServeQueryTarget = 16

  /** DuckDB encoding of the serving-query modulus (same arithmetic as
    * [[servingQueryPred]]; `//` is DuckDB integer division). */
  private[graft] val sqlServeMod =
    s"(SELECT GREATEST(100, COUNT(*) // $ServeQueryTarget) FROM embeddings)"

  /** Count-driven serving-query predicate — the bounded query batch
    * for the ANN serving/rerank/recall families (see [[ServeQueryTarget]]).
    * The count() is one metadata-cheap job per query build, the same
    * train-then-apply discipline as [[nearDupRecall]] / [[pcaPower]]. */
  def servingQueryPred(embeddings: DataFrame, target: Int = ServeQueryTarget): Column = {
    val mod = math.max(100L, embeddings.count() / target)
    col("vec_id") % mod === 0
  }

  /** Int8 scalar quantization of an embedding column — the standard
    * 4× memory/IO shrink before ANN serving (float32 → int8 codes +
    * one scale per vector). Pure narrow column expressions: one scan,
    * zero shuffle, whole-stage-codegen'd — at 100 TB this runs at
    * read bandwidth. `code_i = round(x_i / amax * 127)`, `amax = 0`
    * vectors quantize to all-zero codes. Emits per-vector code
    * summaries (sum / min / max / L1) rather than the code list —
    * list columns can't cross the oracle compare, and the summaries
    * pin every code through exact integer identities. */
  def quantizeInt8(embs: DataFrame, vecCol: String = "embedding"): DataFrame =
    withAmax(embs, vecCol).withColumn("codes", int8Codes(vecCol))
      .select(col("vec_id"),
        round(col("amax") * 1e6).cast("long").as("amax_u"),
        size(col("codes")).cast("long").as("n_dims"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"),
        aggregate(col("codes"), lit(0L), (a, c) => a + abs(c)).as("code_l1"))

  /** `embs` plus its per-vector max |x_i| as column `amax`. */
  private def withAmax(embs: DataFrame, vecCol: String): DataFrame =
    embs.withColumn("amax",
      aggregate(col(vecCol), lit(0.0), (a, x) => greatest(a, abs(x.cast("double")))))

  /** The int8 codes round(x_i / amax · 127) of a [[withAmax]] row;
    * all-zero when amax = 0. */
  private def int8Codes(vecCol: String): Column =
    when(col("amax") > 0.0,
      transform(col(vecCol), x =>
        round(x.cast("double") / col("amax") * 127.0).cast("long")))
      .otherwise(transform(col(vecCol), x => lit(0L)))

  /** SQ8 SERVING — the scalar-quantized member of the quantized-ANN
    * family (PQ 8-byte codes, RQ 2-level additive, SQ8 = [[quantizeInt8]]'s
    * per-vector int8 codes at FULL dimension): shortlist by an INTEGER
    * asymmetric dot product, exact rerank of the shortlist.
    *
    * The ADC trick that keeps the code stage bit-exact across engines:
    * true dot(q, n) = (amax_q·amax_n/127²) · Σ cq_i·cn_i up to
    * quantization, and per QUERY amax_q/127² is a positive constant —
    * so ranking by `score = Σ cq_i·cn_i × amax_u_n` (all int64:
    * |Σ| ≤ dim·127² ≈ 10⁶, amax_u ≤ ~10⁷ ⇒ |score| < 2⁴⁵, exact in
    * BOTH engines AND in the shortlist aggregator's double) is the
    * dequantized-dot order with zero float folds. Float PQ ADC needs
    * mirrored IEEE fold order for that; SQ gets it from integers.
    *
    * Scale shape: codes are a pure narrow projection of the corpus
    * scan (4× the IO of raw float32 saved at 100 TB — the reason SQ8
    * is the default first rung of every production serving ladder);
    * the ADC join broadcasts only the query codes; the shortlist is a
    * map-side partial top-k ([[graft.functions.TopKSimAgg]] — k·cores
    * rows cross the shuffle, never the corpus); the exact rerank
    * broadcasts the ≤|Q|·shortlist id set against one corpus scan.
    * Nothing corpus-sized shuffles, nothing corpus-sized broadcasts. */
  def sqTopK(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      shortlist: Int = PqShortlist): DataFrame = {
    val codes = withAmax(embeddings, "embedding").select(col("vec_id"),
      round(col("amax") * 1e6).cast("long").as("amax_u"),
      int8Codes("embedding").as("c"))
    val qCodes = codes.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("c").as("qc"))
    val score = aggregate(zip_with(col("qc"), col("c"), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x) * col("amax_u")
    val adc = codes.select(col("vec_id").as("n_id"), col("c"), col("amax_u"))
      .join(broadcast(qCodes), col("q_id") =!= col("n_id"))
      .withColumn("score", score)
    rerankTopK(rawCorpus(embeddings),
      shortlistIds(adc, shortlist, col("score").cast("double")),
      rawQueries(embeddings, queryPred), k,
      "dotp", dot(col("q_emb"), col("n_emb")), ascending = false)
  }

  /** RRF smoothing constant (the k=60 of Cormack et al. 2009). */
  val RrfK = 60

  /** HYBRID RETRIEVAL — reciprocal-rank fusion of the two serving
    * modalities the engine already ranks with: BM25 lexical top-k
    * over `documents` and exact-cosine vector top-k over `embeddings`
    * (doc_id ≡ vec_id in the corpus), fused by
    * RRF(d) = Σ_lists 1/(60 + rank_d) — the standard fusion rule
    * (Cormack et al. 2009) production hybrid search ships because it
    * needs NO score calibration between modalities, only ranks.
    * Rendered in exact integer ppm (1e6 div (60 + rank)), so the
    * fused ordering is bit-exact cross-engine.
    *
    * Scale shape: both input rankings are the separately-oracled
    * top-k derivations (corpus-scale cost lives there — BM25 is the
    * one-scan x0 plan, the vector side the broadcast-query partial
    * top-k); the fusion itself joins two ≤k-row lists — the windows
    * run single-partition over ≤2k rows by construction. */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame,
      queryVecId: Long = 0L, k: Int = TextOps.Bm25TopK): DataFrame = {
    // both frames are ≤k / ≤2k rows by construction — boundedGlobal
    // states that invariant in the plan (no empty-partitionSpec
    // WindowExec; PlanAuditSpec sweeps for those)
    val wb = WindowUtil.boundedGlobal(col("doc_id"))
      .orderBy(col("score_u").desc, col("doc_id").asc)
    val lexical = TextOps.bm25TopDocs(docs, k = k)
      .withColumn("rank_bm25", row_number().over(wb).cast("long"))
      .select(col("doc_id"), col("rank_bm25"))
    val vector = bruteForceTopK(embeddings, col("vec_id") === queryVecId, k)
      .select(col("n_id").as("doc_id"), col("rank").as("rank_vec"))
    val wr = WindowUtil.boundedGlobal(col("doc_id"))
      .orderBy(col("rrf_ppm").desc, col("doc_id").asc)
    lexical.join(vector, Seq("doc_id"), "full_outer")
      .withColumn("rrf_ppm",
        coalesce(expr(s"1000000 div ($RrfK + rank_bm25)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($RrfK + rank_vec)"), lit(0L)))
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank_bm25"), col("rank_vec"),
        col("rrf_ppm"), col("rank"))
  }

  /** Power-iteration rounds / Gram-sample target for [[pcaPower]]. */
  val PcaRounds = 3
  val PcaGramTarget = 20000

  /** Top principal direction of the embedding distribution by
    * fixed-point POWER ITERATION — the trainer behind all-but-the-top
    * postprocessing (Mu & Viswanath 2018: natural embedding corpora
    * hide a large common direction; removing it sharpens cosine
    * geometry) and anisotropy drift diagnostics. House training
    * stance ([[kmeansFixed]], the perceptron): every stage is exact
    * int64, so the full train — mean → center → Gram → R matvec
    * rounds — replays bit-identically in DuckDB.
    *
    *  1. mean_u per dim: exact micro-unit sums, truncating div (div ≡
    *     `//`, INCLUDING negatives — both engines truncate toward 0).
    *  2. centered milli units: cm = (x_u − mean_u) div 1000.
    *  3. Gram: G = Σ cm·cmᵀ via a vec_id-keyed self-join + (i,j) agg —
    *     map-side combinable, dim²-bounded per row.
    *  4. Power: v₀ = 1000·𝟙; w = G·v; v ← (w·1000) div max|w| — the
    *     driver holds only G (dim² longs, the Lloyd k·dim precedent).
    *
    * Scale: the Gram runs on a COUNT-DRIVEN sample (mod = N /
    * [[PcaGramTarget]], the recall-audit discipline — mod 1 at the
    * sf0.01 gate): covariance estimation converges at ~d²·log d
    * samples, so a fixed-size sample serves ANY corpus size, and it
    * also bounds every int64 intermediate (|cm| ≲ 2¹¹, so |G| ≲
    * 4·10⁴·N_sample ≲ 2³⁷ and |w·1000| ≲ 2⁵³ — overflow-free by
    * construction, which DuckDB requires). */
  def pcaPower(embeddings: DataFrame, rounds: Int = PcaRounds,
      gramTarget: Int = PcaGramTarget): DataFrame = {
    val (d, g) = gramMatrix(embeddings, gramTarget)
    val (v, wLast) = powerLoop(g, d, rounds)
    val s = embeddings.sparkSession
    import s.implicits._
    (0 until d).map(i => (i.toLong, v(i), wLast(i)))
      .toDF("pos", "v_mil", "w_last")
  }

  /** Count-driven-sampled integer Gram matrix (the [[pcaPower]] train
    * stage, steps 1-3 of its derivation), driver-collected as d² longs. */
  private def gramMatrix(embeddings: DataFrame,
      gramTarget: Int): (Int, Array[Array[Long]]) = {
    val d = dataDim(embeddings)
    val mod = math.max(1L, embeddings.count() / gramTarget)
    val sub = embeddings.filter(col("vec_id") % mod === 0)
    val xu = sub.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        round(col("col").cast("double") * 1e6).cast("long").as("xu"))
    val mean = xu.groupBy("i")
      .agg(sum("xu").as("s"), count(lit(1)).as("n"))
      .select(col("i"), expr("s div n").as("mean_u"))
    val cm = xu.join(mean, "i")
      .select(col("vec_id"), col("i"), expr("(xu - mean_u) div 1000").as("cm"))
      .localCheckpoint(eager = false) // both sides of the Gram self-join
    val gram = cm
      .join(cm.select(col("vec_id").as("v2"), col("i").as("j"),
        col("cm").as("cm2")), col("vec_id") === col("v2"))
      .groupBy("i", "j").agg(sum(col("cm") * col("cm2")).as("g"))
    val g = Array.ofDim[Long](d, d)
    gram.collect().foreach(r => g(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    (d, g)
  }

  /** Fixed-point power rounds on a driver-held Gram (the [[pcaPower]]
    * step-4 loop): v₀ = 1000·𝟙; w = G·v; v ← (w·1000) div max|w|.
    * Returns (final v, last w). */
  private def powerLoop(g: Array[Array[Long]], d: Int,
      rounds: Int): (Array[Long], Array[Long]) = {
    var v = Array.fill(d)(1000L)
    var wLast = Array.fill(d)(0L)
    for (_ <- 1 to rounds) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => g(i)(j) * v(j)).sum)
      val mx = w.map(math.abs).max
      wLast = w
      if (mx != 0L) v = w.map(x => x * 1000L / mx)
    }
    (v, wLast)
  }

  /** Directions the top-D ABTT removes — Mu & Viswanath remove the top
    * D ≈ dim/100; at the engine's 64-dim demo corpus the interesting
    * regime is D = 2 (a planted two-direction corpus is recovered in
    * PcaPowerSpec). */
  val AbttDirs = 2

  /** TOP-D principal directions by power iteration + integer HOTELLING
    * DEFLATION — the multi-direction trainer behind [[abttTopD]]
    * (Mu & Viswanath 2018 remove the top D common directions, not just
    * the leading one). One distributed Gram ([[gramMatrix]], the
    * count-driven sample); each direction k then costs only driver
    * arithmetic: [[powerLoop]] on the current G, a fresh matvec
    * w* = G·v (the loop's last w is pre-normalization — deflation must
    * use the SAME v it removes), and the rank-1 update
    * `G ← G − (w*·w*ᵀ) div (vᵀw*)` — Hotelling's deflation, which
    * zeroes the extracted eigendirection while leaving the orthogonal
    * complement untouched.
    *
    * Fixed-point stance: w*, vᵀw*, and the rank-1 quotient run in
    * BigInt (|w*·w*| can reach ~2¹⁰⁶, past int64) and the quotient is
    * TRUNCATED toward zero — exactly DuckDB's HUGEINT `//` (verified:
    * −7//2 = −3), so the deflated Gram and every subsequent direction
    * replay bit-identically in the oracle's unrolled CTE chain. The
    * deflated entries themselves fit back in int64 (each ≤ the
    * pre-deflation Gram bound). */
  def pcaPowerDirs(embeddings: DataFrame, nDirs: Int = AbttDirs,
      rounds: Int = PcaRounds,
      gramTarget: Int = PcaGramTarget): Seq[Array[Long]] = {
    val (d, g) = gramMatrix(embeddings, gramTarget)
    (1 to nDirs).map { _ =>
      val (v, _) = powerLoop(g, d, rounds)
      val ws = Array.tabulate(d)(i =>
        (0 until d).map(j => BigInt(g(i)(j)) * v(j)).sum)
      val vw0 = (0 until d).map(i => ws(i) * v(i)).sum
      val vw = if (vw0 > 0) vw0 else BigInt(1)
      for (i <- 0 until d; j <- 0 until d)
        g(i)(j) = (BigInt(g(i)(j)) - ws(i) * ws(j) / vw).toLong
      v
    }
  }

  /** [[pcaPowerDirs]] rendered as a DataFrame (dir, pos, v_mil) for the
    * oracle compare. */
  def pcaPowerTopD(embeddings: DataFrame, nDirs: Int = AbttDirs,
      rounds: Int = PcaRounds,
      gramTarget: Int = PcaGramTarget): DataFrame = {
    val dirs = pcaPowerDirs(embeddings, nDirs, rounds, gramTarget)
    val s = embeddings.sparkSession
    import s.implicits._
    dirs.zipWithIndex.flatMap { case (v, k) =>
      v.indices.map(i => ((k + 1).toLong, i.toLong, v(i)))
    }.toDF("dir", "pos", "v_mil")
  }

  /** TOP-D all-but-the-top application: removes [[AbttDirs]] trained
    * directions in sequence. Per direction k the projection
    * p_k = Σ r·v_k and the residual update r ← r − (p_k·v_k) div vv_k
    * (vv_k = Σ v_k², GREATEST(·,1)-guarded like the oracle) — ONE
    * truncating integer division per element per direction, so the
    * residual stays at input scale (~2²⁴) and the D-step chain never
    * overflows (the division-free common-denominator form of
    * [[abttApply]] compounds a ×vv factor per direction — ~2²⁶ each —
    * and leaves int64 at D = 2). Same narrow one-scan shape: train on
    * the Gram sample, apply at read bandwidth. Emits per-direction
    * projections p1..pD plus the final residual L1 mass. */
  def abttTopD(embeddings: DataFrame, nDirs: Int = AbttDirs,
      rounds: Int = PcaRounds,
      gramTarget: Int = PcaGramTarget): DataFrame = {
    val dirs = pcaPowerDirs(embeddings, nDirs, rounds, gramTarget)
    var cur = embeddings.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long")).as("xu"))
    dirs.zipWithIndex.foreach { case (v, k) =>
      val vv = math.max(v.map(x => x * x).sum, 1L)
      cur = cur
        .withColumn("vk", typedLit(v.toSeq))
        .withColumn(s"p${k + 1}",
          aggregate(zip_with(col("xu"), col("vk"), (a, b) => a * b),
            lit(0L), (acc, t) => acc + t))
        .withColumn("xu",
          expr(s"zip_with(xu, vk, (a, b) -> a - (p${k + 1} * b) div $vv)"))
        .drop("vk")
    }
    cur.select(col("vec_id") +:
      (1 to nDirs).map(k => col(s"p$k")) :+
      aggregate(col("xu"), lit(0L), (acc, t) => acc + abs(t)).as("res_l1"): _*)
  }

  /** ALL-BUT-THE-TOP application — the train-on-sample /
    * apply-everywhere split over [[pcaPower]] (the Mu & Viswanath 2018
    * postprocessing; the perceptronApply pattern for
    * embeddings): the trained direction v (driver-collected, dim
    * longs) scores every vector with its common-direction component
    * and the L1 mass of the residual after removing it — the two
    * anisotropy diagnostics a corpus monitor tracks.
    *
    * Exact-integer throughout, common-denominator form: p = Σ x_u·v
    * and r_i = x_u[i]·(v·v) − p·v[i] (the residual times the positive
    * constant v·v — rescaling changes no comparison), so there is no
    * per-element division at all; every intermediate stays ≤ ~2⁵²
    * at the trained scales. The apply pass is a pure narrow
    * projection over ONE corpus scan — at 100 TB it runs at read
    * bandwidth while the training cost stays on the fixed-size Gram
    * sample. */
  def abttApply(embeddings: DataFrame, rounds: Int = PcaRounds,
      gramTarget: Int = PcaGramTarget): DataFrame = {
    val vRows = pcaPower(embeddings, rounds, gramTarget).collect()
    val v = vRows.sortBy(_.getLong(0)).map(_.getLong(1))
    val vv = v.map(x => x * x).sum
    val vLit = typedLit(v.toSeq)
    embeddings
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1e6).cast("long")).as("xu"))
      .withColumn("p",
        aggregate(zip_with(col("xu"), vLit, (a, b) => a * b),
          lit(0L), (acc, t) => acc + t))
      .select(col("vec_id"), col("p"),
        aggregate(
          zip_with(col("xu"), vLit,
            (a, b) => abs(a * lit(vv) - col("p") * b)),
          lit(0L), (acc, t) => acc + t).as("res_l1"))
  }

  /** SERVING-INDEX BUILD capstone: the ANN index ARTIFACT — per-cell
    * manifest rows (cell id, vector count, id span, SQ8 code-mass
    * stats) — built as ONE composed Catalyst plan from the two
    * separately-oracled derivations the serving ladder already runs:
    * the [[quantizeInt8]] SQ8 codes (pure narrow projection) and the
    * [[autoCentroids]]-sized max-cosine cell assignment (the semDedup
    * shape). This is the build job a production vector store runs
    * before [[ivfTopK]]/[[sqTopK]] can serve: cells become the
    * partition/file layout, the code stats become the manifest
    * metadata a query planner prunes on (the curate_export_manifest
    * discipline applied to the serving side).
    *
    * Scale shape: one corpus scan feeds BOTH arms — codes narrow, and
    * the assignment the CellProbe narrow kernel at nProbe=1 against
    * the driver-collected K·dim centroid matrix (the stream_ann_topk
    * discipline: a bounded index-build artifact on the driver, ZERO
    * exchanges for the assignment, where the broadcast-K argmax join
    * scored N·K rows — with K ~ 8·√N under autoCentroids that term
    * was the build's measured sf1 slope 3.77; the kernel is linear in
    * N·dim) — then one vec_id equi-join and one cid-keyed agg with
    * map-side partials; the output is K rows. Nothing corpus-sized
    * shuffles twice, nothing corpus-sized collects. */
  def indexBuild(embeddings: DataFrame,
      nCentroids: Int = AutoCentroids): DataFrame = {
    val kCent = resolveK(embeddings, nCentroids)
    val cents = graft.streaming.StreamAnnServe.collectCentroids(
      embeddings, kCent)
    val assign = graft.streaming.StreamAnnServe
      .assignCorpus(embeddings, cents)
      .select(col("n_id").as("vec_id"), col("cid"))
    // codes only for screened vectors: the inner join drops undefined-
    // norm rows anyway, and an unscreened NaN amax would throw in the
    // ANSI round→long cast before the join could filter it
    val codes = quantizeInt8(
        embeddings.filter(definedNrm(norm(col("embedding")))))
      .select(col("vec_id"), col("amax_u"), col("code_l1"))
    assign.join(codes, "vec_id")
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        min(col("vec_id")).as("min_vec_id"),
        max(col("vec_id")).as("max_vec_id"),
        sum(col("amax_u")).as("sum_amax_u"),
        sum(col("code_l1")).as("sum_code_l1"))
  }

  /** INCREMENTAL INDEX MAINTENANCE: assign NEWLY-ARRIVED vectors to
    * the cells of an index trained on the BASE corpus — the append
    * path every production vector store runs between retrains (a full
    * [[indexBuild]] retrain on each ingest batch would re-shuffle the
    * whole corpus; appending assigns only the delta against the FROZEN
    * broadcast centroids). Emits the per-cell delta manifest:
    * base/new counts plus the new vectors' micro-cosine assignment
    * mass — the index-freshness signal (a drifting ingest stops
    * fitting the frozen cells: per-new-vector mean assignment cosine
    * drops, which is the retrain alarm).
    *
    * Split rule `vec_id % 8 = 7` models the ingest batch (~12.5 %);
    * centroids resolve on the BASE count and come from the base
    * first-K sample — the new data provably cannot move them.
    * Scale shape: two narrow scans (base assignment ~1 row/vector,
    * delta assignment ~1 row/new vector), one cid-keyed agg. */
  def indexAppend(embeddings: DataFrame,
      newPred: Column = col("vec_id") % 8 === 7,
      nCentroids: Int = AutoCentroids): DataFrame = {
    val base = embeddings.filter(!newPred)
    val (cents, vb) = firstKCells(base, resolveK(base, nCentroids))
    val vn = screenedVecs(embeddings.filter(newPred))
    val asgB = assignBest(vb, cents, col("cid"))
      .select(col("vec_id"), col("best").as("cid"))
    val asgN = assignBest(vn, cents,
      struct(col("cid"), col("c_emb"), col("c_nrm")))
      .select(col("vec_id"), col("best.cid").as("cid"),
        col("best.c_emb").as("c_emb"), col("best.c_nrm").as("c_nrm"))
      .join(vn, "vec_id")
      .select(col("vec_id"), col("cid"),
        round(dot(col("embedding"), col("c_emb")) /
          (col("nrm") * col("c_nrm")) * 1e6).cast("long").as("sim_u"))
    asgB.groupBy("cid").agg(count(lit(1)).as("n_base"))
      .join(asgN.groupBy("cid").agg(count(lit(1)).as("n_new"),
        sum(col("sim_u")).as("new_sim_sum_u")), Seq("cid"), "full_outer")
      .select(col("cid"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("new_sim_sum_u"), lit(0L)).as("new_sim_sum_u"))
  }

  /** Candidate-list size for [[mmrTopK]] — the shortlist the
    * diversifier reranks (the serving path's top-C output). */
  val MmrCands = 30

  /** MMR (maximal-marginal-relevance) diversified top-k — the
    * reranker that keeps a result list from being k copies of the
    * same near-duplicate (Carbonell & Goldstein 1998), the serving-
    * time twin of SemDeDup's corpus-side dedup: greedily pick the
    * candidate maximizing λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s) over
    * the already-selected set S.
    *
    * Exactness stance: λ is FIXED at ½ so the objective collapses to
    * `simq_u − max pair_u` in exact micro-cosine int64 — every greedy
    * argmax (ties → n_id ASC) is integer arithmetic, and the whole
    * k-step selection replays hash-exact in DuckDB (MATERIALIZED
    * per-step CTEs; the same inlining discipline as the unigram DP).
    *
    * Scale shape: MMR is a RERANKER — corpus-size cost lives entirely
    * in the candidate stage (here the brute-force top-C so the oracle
    * is self-contained; in production [[ivfTopK]]/[[sqTopK]] feed it).
    * The diversification itself is bounded by the query sample:
    * pairs = |Q|·C² rows keyed by q_id (one keyed shuffle, never the
    * corpus), and each of the k−1 greedy rounds joins the ≤|Q|·k
    * selected set against it — all keyed small-frame ops,
    * localCheckpoint'd per round like the CC/label-prop family. */
  def mmrTopK(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      nCands: Int = MmrCands): DataFrame = {
    val cands = cosineTopN(embeddings, queryPred, nCands)
      .select(col("q_id"), col("col.n_id").as("n_id"),
        (col("pos") + 1).cast("long").as("rank"),
        round(col("col.sim") * 1e6).cast("long").as("simq_u"))
      .localCheckpoint(eager = false)
    // r17: the greedy selection no longer runs as a k-round DataFrame
    // loop (9 rounds × 2 joins + window + anti-join + lazy checkpoint
    // of fixed job/planning cost at ANY corpus size — the loop's state
    // is the BOUNDED per-query shortlist, not the corpus). The
    // corpus-proportional work keeps its distributed shape: the
    // shortlist agg above, plus ONE embeddings scan here to attach
    // candidate vectors (the old pair join scanned embeddings twice —
    // once per pair side); the ≤ nCands² per-query pair cosines come
    // from a self-join of that bounded frame, and the greedy itself
    // collapses into one MmrGreedySelect eval per query over the
    // collected (cands, pairs) arrays — semantics (and the DuckDB
    // oracle's recursive CTE) replicated exactly, see the kernel doc.
    val cemb = cands.select(col("q_id"), col("n_id"))
      .join(embeddings.select(col("vec_id").as("n_id"),
        col("embedding").as("e"), norm(col("embedding")).as("nr")), "n_id")
      .localCheckpoint(eager = false) // consumed by both pair sides
    val pairs = cemb
      .select(col("q_id"), col("n_id").as("a"), col("e").as("ea"), col("nr").as("na"))
      .join(cemb.select(col("q_id").as("q2"), col("n_id").as("b"),
          col("e").as("eb"), col("nr").as("nb")),
        col("q_id") === col("q2") && col("a") =!= col("b"))
      .select(col("q_id"), col("a"), col("b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")) * 1e6)
          .cast("long").as("pair_u"))
    val candArr = cands.groupBy("q_id").agg(collect_list(
      struct(col("n_id"), col("rank"), col("simq_u"))).as("cl"))
    val pairArr = pairs.groupBy("q_id").agg(collect_list(
      struct(col("a"), col("b"), col("pair_u"))).as("pl"))
    import org.apache.spark.sql.graft.Bridge
    candArr.join(pairArr, Seq("q_id"), "left")
      .select(col("q_id"), explode(Bridge.column(
        graft.functions.MmrGreedySelect(
          Bridge.expression(col("cl")), Bridge.expression(col("pl")), k))).as("s"))
      .select(col("q_id"), col("s.n_id").as("n_id"), col("s.step").as("step"))
  }

  /** Exact brute-force DOT top-k — the ground truth [[sqRecall]]
    * audits against ([[sqTopK]] ranks by raw dot, not cosine/L2). */
  private def dotTopK(embeddings: DataFrame, queryPred: Column,
      k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("dotp").desc, col("n_id").asc)
    rawQueries(embeddings, queryPred)
      .join(rawCorpus(embeddings), col("q_id") =!= col("n_id"))
      .withColumn("dotp", dot(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id")
  }

  /** Self-measuring SQ8 recall audit — completes the audit quartet
    * (IVF, near-dup LSH, RQ, SQ): served top-k vs the exhaustive dot
    * ranking, per query in exact ppm. The brute-force side is paid
    * only on the sampled query set — estimator discipline, not
    * serving cost. Exhaustive shortlist ⇒ recall 1.0 exactly
    * (SqTopKSpec). */
  def sqRecall(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      shortlist: Int = PqShortlist): DataFrame =
    recallAudit(dotTopK(embeddings, queryPred, k),
      sqTopK(embeddings, queryPred, k, shortlist))

  /** Sign-bit word width for [[bqTopK]] — 32 bits per packed word
    * (not 64: a 63-bit shift overflows DuckDB's signed BIGINT, and
    * two half-words replay exactly in both engines). */
  val BqWordBits = 32

  /** Sign-bit code words for [[bqTopK]]: bit i of word i/32 is
    * (v_i > 0) — [[graft.functions.PlaneBandKeys]] with axis-unit
    * planes, so the packing is the committed LSH kernel with the
    * identity rotation. dim 64 ⇒ array of exactly 2 longs. */
  private def bqCodeWords(emb: Column, dim: Int): Column = {
    val eye = (0 until dim).map(i =>
      Seq.tabulate(dim)(j => if (i == j) 1.0 else 0.0))
    graft.functions.VectorFunctions.plane_band_keys(emb, eye, BqWordBits)
  }

  /** BINARY (sign-bit) QUANTIZATION serving — the cheapest rung of
    * the quantized-ANN ladder under SQ8/PQ/RQ: 1 bit per dimension
    * (64-dim float32 → 8 bytes, 32×), candidate distance = Hamming
    * distance XOR+popcount — the bitwise kernel vector stores ship as
    * their first-pass filter because it runs at register speed and,
    * unlike float ADC, is EXACTLY replayable: the whole shortlist
    * stage is integer (popcount sums, ties by n_id), no IEEE fold
    * anywhere. Exact-dot rerank of the shortlist restores precision —
    * the [[sqTopK]] contract at 1/8 its code bytes.
    *
    * Scale shape: codes are a narrow projection of the corpus scan
    * (8 B/vector at rest — a 32× IO cut on the candidate pass); the
    * Hamming join broadcasts only the query code words; the shortlist
    * is a map-side partial top-k; the rerank broadcasts the
    * ≤|Q|·shortlist id set. Nothing corpus-sized shuffles or
    * broadcasts. Recall is measured, not assumed — [[bqRecall]]. */
  def bqTopK(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      shortlist: Int = PqShortlist, dim: Int = OracleDim): DataFrame = {
    val codes = embeddings.select(col("vec_id"),
      bqCodeWords(col("embedding"), dim).as("cw"))
    val qCodes = codes.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("cw").as("qw"))
    val nWords = (dim + BqWordBits - 1) / BqWordBits
    val ham = (0 until nWords).map(i =>
        expr(s"bit_count(element_at(qw, ${i + 1}) ^ element_at(cw, ${i + 1}))")
          .cast("long"))
      .reduce(_ + _)
    val cand = shortlistIds(codes.select(col("vec_id").as("n_id"), col("cw"))
      .join(broadcast(qCodes), col("q_id") =!= col("n_id"))
      .withColumn("ham", ham), shortlist, -col("ham").cast("double"))
    rerankTopK(rawCorpus(embeddings), cand, rawQueries(embeddings, queryPred), k,
      "dotp", dot(col("q_emb"), col("n_emb")), ascending = false)
  }

  /** Binary-quantization recall audit — the fifth member of the
    * self-measuring quartet (IVF, near-dup LSH, RQ, SQ): served top-k
    * vs the exhaustive dot ranking, per query in exact ppm, on the
    * bounded query batch only. */
  def bqRecall(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      shortlist: Int = PqShortlist): DataFrame =
    recallAudit(dotTopK(embeddings, queryPred, k),
      bqTopK(embeddings, queryPred, k, shortlist))

  /** One measured shortlist configuration for a quantized serving
    * rung: micro-averaged recall in exact ppm and the rerank cost in
    * exact-dot evaluations (|Q|·shortlist by construction — the
    * distance work the rerank stage pays). */
  case class ShortlistMeasurement(shortlist: Int, recallPpm: Long,
      rerankRows: Long)

  /** Default shortlist ladder for [[tuneShortlist]]. */
  val DefaultShortlistGrid: Seq[Int] = Seq(20, 50, 100, 200)

  /** Closed-loop SHORTLIST tuner for the quantized serving rungs —
    * completes the tuner discipline across the ladder ([[tuneIvf]]
    * sizes cells/probes, [[tuneLsh]] sizes bands, this sizes the one
    * knob the BQ/SQ/PQ/RQ rungs share): run the rung's own recall
    * audit per grid point and return the CHEAPEST shortlist meeting
    * the recall SLO, or None — "grow the grid", never silent
    * best-effort. The audit argument is the committed recall operator
    * itself ([[bqRecall]] by default, [[sqRecall]] etc. fit the same
    * shape), so a drifted reimplementation cannot tune a different
    * serving path than ships. Recall is monotone in the shortlist
    * (a longer shortlist is a superset before an exact rerank), so
    * the first grid point to pass is the optimum within the grid —
    * spec-pinned. */
  def tuneShortlist(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      recallSlo: Double = 0.8,
      grid: Seq[Int] = DefaultShortlistGrid,
      audit: (DataFrame, Column, Int, Int) => DataFrame =
        (e, p, kk, sl) => bqRecall(e, p, kk, sl)):
      (Option[ShortlistMeasurement], Seq[ShortlistMeasurement]) = {
    val nQ = embeddings.filter(queryPred).count()
    val measured = grid.map { sl =>
      ShortlistMeasurement(sl, microPpm(audit(embeddings, queryPred, k, sl)),
        nQ * sl)
    }
    val sloPpm = math.round(recallSlo * 1000000L)
    val chosen = measured.filter(_.recallPpm >= sloPpm)
      .sortBy(m => (m.rerankRows, m.shortlist)).headOption
    (chosen, measured)
  }

  case class GraphBeamMeasurement(beam: Int, recallPpm: Long,
      visitRows: Long)

  /** Default beam ladder for [[tuneGraph]]. */
  val DefaultBeamGrid: Seq[Int] = Seq(2, 4, 8, 16)

  /** Closed-loop tuner for the GRAPH serving rung — the beam width is
    * its accuracy/cost knob at the pinned [[GraphHops]] hop count,
    * tuned through the committed [[graphRecall]] audit exactly like
    * [[tuneShortlist]] tunes the quantized rungs and tuneIvf the
    * cell-probed one: measure the audit at EVERY grid beam, return
    * the CHEAPEST beam meeting the recall SLO, or None ("grow the
    * grid", never silent best-effort). Cost is the per-batch visited
    * bound |Q|·(seeds·(1+degree) + (hops−1)·beam·degree) — the
    * embedding-lookup row count the serve pays. At a single beam
    * level recall is provably beam-monotone (top-B of one total order
    * is a prefix); with [[GraphHops]] > 2 the later beams rank
    * DIFFERENT candidate sets per width, so monotonicity is measured,
    * not assumed — the tuner scans the whole grid rather than
    * early-exiting on the first pass. */
  def tuneGraph(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      recallSlo: Double = 0.5,
      grid: Seq[Int] = DefaultBeamGrid, hops: Int = GraphHops):
      (Option[GraphBeamMeasurement], Seq[GraphBeamMeasurement]) = {
    val nQ = embeddings.filter(queryPred).count()
    val measured = grid.map { b =>
      GraphBeamMeasurement(b,
        microPpm(graphRecall(embeddings, queryPred, k, beam = b, hops = hops)),
        nQ * (GraphSeeds * (1L + KnnK) +
          math.max(hops - 1, 0).toLong * b.toLong * KnnK))
    }
    val sloPpm = math.round(recallSlo * 1000000L)
    val chosen = measured.filter(_.recallPpm >= sloPpm)
      .sortBy(m => (m.visitRows, m.beam)).headOption
    (chosen, measured)
  }

  case class RungMeasurement(rung: String, beam: Int, recallPpm: Long,
      scannedRows: Long)

  /** Closed-loop SERVING-RUNG tuner for the graph family — the r14
    * gap closed ("tuneGraph has no layer axis"): measures BOTH graph
    * rungs (flat 3-hop beam; layered descent) across the beam grid
    * through the committed [[graphRecall]] audit, costs each config
    * by its scanned rows — the layered rung's MEASURED per-batch
    * distinct scored nodes (its search exposes the visited frame),
    * the flat rung's analytic bound incl. the [[autoCentroids]]-sized
    * entry scan it actually pays — and returns the cheapest config
    * meeting the recall SLO, or None ("grow the grid", never silent
    * best-effort). On corpora with local structure the layered rung
    * reaches SLOs the flat rung cannot at ANY grid beam (spec-pinned
    * on the hierarchical corpus: SLO 0.8 picks layered; every flat
    * config measures below it). */
  def tuneGraphRung(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      recallSlo: Double = 0.8, grid: Seq[Int] = DefaultBeamGrid,
      hops: Int = GraphHops):
      (Option[RungMeasurement], Seq[RungMeasurement]) = {
    val nQ = embeddings.filter(queryPred).count()
    val n = embeddings.count()
    val kCent = autoCentroids(n)
    val nLayers = autoLayers(n)
    val flat = grid.map { b =>
      RungMeasurement("flat", b,
        microPpm(graphRecall(embeddings, queryPred, k, beam = b, hops = hops)),
        nQ * (kCent + GraphSeeds * (1L + KnnK) +
          math.max(hops - 1, 0).toLong * b * KnnK))
    }
    val layered = grid.map { b =>
      val (topk, visited) = graphLayeredSearch(embeddings, queryPred, k,
        b, GraphSeeds, hops, nLayers)
      RungMeasurement("layered", b,
        microPpm(graphRecall(embeddings, queryPred, k, served = Some(topk))),
        visited.count())
    }
    val all = flat ++ layered
    val sloPpm = math.round(recallSlo * 1000000L)
    (all.filter(_.recallPpm >= sloPpm)
      .sortBy(m => (m.scannedRows, m.beam)).headOption, all)
  }

  val queries: Map[String, QFn] = Map(
    "sim_topk" -> ((s, d) => { val e = t(s, d, "embeddings")
      bruteForceTopK(e, servingQueryPred(e), k = 10) }),
    "emb_quantize_int8" -> ((s, d) => quantizeInt8(t(s, d, "embeddings"))),
    "sim_neardup_pairs" -> ((s, d) =>
      nearDupPairs(t(s, d, "embeddings"), tau = NdTau,
        nBands = NdBands, bitsPerBand = NdBits, dim = OracleDim)),
    "sim_lsh_buckets" -> ((s, d) => lshBuckets(t(s, d, "embeddings"))),
    "sim_lsh_buckets_hashed" -> ((s, d) =>
      lshBucketsHashed(t(s, d, "embeddings"), dim = OracleDim)),
    "sim_ivf_topk" -> ((s, d) => { val e = t(s, d, "embeddings")
      ivfTopK(e, servingQueryPred(e),
        nCentroids = IvfCentroids, nProbe = IvfProbe) }),
    "sim_radius_search" -> ((s, d) => { val e = t(s, d, "embeddings")
      radiusSearch(e, servingQueryPred(e)) }),
    // metadata-filtered top-k: pre-filter on the denormalized index
    // label, so the answer is the true top-k of the eligible subset
    "sim_filtered_topk" -> ((s, d) => { val e = t(s, d, "embeddings")
      filteredTopK(e, servingQueryPred(e)) }),
    // graph rung of the serving ladder, served from the PERSISTED
    // sb/nb-bucketed index (ensure-once + load + frontier-pruned
    // search — the stream_ann_topk precedent): per-query cost is
    // O(hops·beam·degree), independent of corpus size, and the
    // corpus-scale knnGraph build is paid ONCE by the artifact write
    // (serve_graph_index_write), never per query batch. graphTopK's
    // self-contained build+search remains the committed oracle
    // fixture (StreamGraphServeSpec pins serve ≡ in-plan row for row)
    "sim_graph_topk" -> ((s, d) => { val e = t(s, d, "embeddings")
      val dir = graft.serving.IndexStore.scratchDir(d, "knn")
      graft.serving.IndexStore.ensureKnn(e, dir)
      graft.streaming.StreamGraphServe.serveTopK(
        e.filter(servingQueryPred(e)).select(col("vec_id"), col("embedding")),
        graft.serving.IndexStore.loadKnn(s, dir)) }),
    // metadata-filtered GRAPH search (round 15 — the filtered-DiskANN
    // shape): the beam search traverses ALL nodes from the persisted
    // artifact; only the emit stage filters, so the answer is the
    // true top-k of the matching VISITED set and connectivity
    // survives selective predicates (every row matches, spec-pinned)
    "sim_graph_filtered_topk" -> ((s, d) => { val e = t(s, d, "embeddings")
      val dir = graft.serving.IndexStore.scratchDir(d, "knn")
      graft.serving.IndexStore.ensureKnn(e, dir)
      graft.streaming.StreamGraphServe.serveFilteredTopK(
        e.filter(servingQueryPred(e)).select(col("vec_id"), col("embedding")),
        graft.serving.IndexStore.loadKnn(s, dir),
        e.select(col("vec_id"), col("label"))) }),
    // the LAYERED rung (round 15, HNSW shape): descent through
    // hash-sampled upper layers from the persisted (layer, sb)-
    // partitioned artifact; the oracle unrolls build + descent + beam
    // + gather stage for stage, so one wrong carry/hop breaks the hash
    "sim_graph_layered_topk" -> ((s, d) => { val e = t(s, d, "embeddings")
      val dir = graft.serving.IndexStore.scratchDir(d, "lknn")
      graft.serving.IndexStore.ensureKnnLayered(e, dir)
      graft.streaming.StreamGraphServe.serveLayeredTopK(
        e.filter(servingQueryPred(e)).select(col("vec_id"), col("embedding")),
        graft.serving.IndexStore.loadKnnLayered(s, dir)) }),
    // layered DELETE: the tombstone mask on the layered artifact —
    // nodes, BOTH edge directions, and entry points; the oracle strips
    // every edge touching the deletion split from the write oracle
    "serve_graph_index_layered_delete" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val dir = graft.serving.IndexStore.scratchDir(d, "lknn_delete")
      graft.serving.IndexStore.writeKnnLayered(e, dir)
      graft.serving.IndexStore.deleteKnn(
        e.filter(graphDeletePred).select("vec_id"), dir)
      graft.serving.IndexStore.loadKnnLayered(s, dir).edges
        .groupBy(col("layer").cast("long").as("layer"), col("src"))
        .agg(count(lit(1)).as("deg"))
        .groupBy("layer", "deg").agg(count(lit(1)).as("n_srcs"),
          min("src").as("min_src"), max("src").as("max_src"))
    }),
    // metadata-filtered search on the LAYERED rung (filtered-DiskANN:
    // unfiltered descent + beam, emit-stage label filter)
    "sim_graph_layered_filtered_topk" -> ((s, d) => { val e = t(s, d, "embeddings")
      val dir = graft.serving.IndexStore.scratchDir(d, "lknn")
      graft.serving.IndexStore.ensureKnnLayered(e, dir)
      graft.streaming.StreamGraphServe.serveLayeredFilteredTopK(
        e.filter(servingQueryPred(e)).select(col("vec_id"), col("embedding")),
        graft.serving.IndexStore.loadKnnLayered(s, dir),
        e.select(col("vec_id"), col("label"))) }),
    // the layered rung's recall audit (the serving-ladder discipline:
    // every rung ships with its accuracy dashboard) — scores the SAME
    // artifact-served results the serving query ships vs brute force
    "sim_graph_layered_recall" -> ((s, d) => { val e = t(s, d, "embeddings")
      val dir = graft.serving.IndexStore.scratchDir(d, "lknn")
      graft.serving.IndexStore.ensureKnnLayered(e, dir)
      graphRecall(e, servingQueryPred(e), served = Some(
        graft.streaming.StreamGraphServe.serveLayeredTopK(
          e.filter(servingQueryPred(e)).select(col("vec_id"), col("embedding")),
          graft.serving.IndexStore.loadKnnLayered(s, dir)))) }),
    // the layered artifact's write manifest: per-layer degree
    // histogram read back from the (layer, sb)-partitioned table —
    // the oracle recomputes every layer's mirrored member kNN graph
    "serve_graph_index_layered_write" -> ((s, d) => {
      val dir = graft.serving.IndexStore.scratchDir(d, "lknn")
      graft.serving.IndexStore.writeKnnLayered(t(s, d, "embeddings"), dir)
      graft.serving.IndexStore.loadKnnLayered(s, dir).edges
        .groupBy(col("layer").cast("long").as("layer"), col("src"))
        .agg(count(lit(1)).as("deg"))
        .groupBy("layer", "deg").agg(count(lit(1)).as("n_srcs"),
          min("src").as("min_src"), max("src").as("max_src"))
    }),
    // layered lifecycle, stage 2: HNSW insert with hash-derived levels
    // (append and rebuild agree on levels by construction; a new
    // top-layer member becomes an entry point) — the oracle replays
    // the whole descent per delta vector per layer
    "serve_graph_index_layered_append" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val dir = graft.serving.IndexStore.scratchDir(d, "lknn_append")
      graft.serving.IndexStore.writeKnnLayered(e.filter(!graphAppendPred), dir)
      graft.serving.IndexStore.appendKnnLayered(e.filter(graphAppendPred), dir)
      graft.serving.IndexStore.loadKnnLayered(s, dir).edges
        .groupBy(col("layer").cast("long").as("layer"), col("src"))
        .agg(count(lit(1)).as("deg"))
        .groupBy("layer", "deg").agg(count(lit(1)).as("n_srcs"),
          min("src").as("min_src"), max("src").as("max_src"))
    }),
    // layered lifecycle, stage 3: the scheduled per-layer degree prune
    // (each (layer, src) rewound to its exact-cosine top-LayerK — the
    // NSW out-degree bound) through a generation commit
    "serve_graph_index_layered_compact" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val dir = graft.serving.IndexStore.scratchDir(d, "lknn_compact")
      graft.serving.IndexStore.writeKnnLayered(e, dir)
      graft.serving.IndexStore.compactKnnLayered(s, dir)
      graft.serving.IndexStore.loadKnnLayered(s, dir).edges
        .groupBy(col("layer").cast("long").as("layer"), col("src"))
        .agg(count(lit(1)).as("deg"))
        .groupBy("layer", "deg").agg(count(lit(1)).as("n_srcs"),
          min("src").as("min_src"), max("src").as("max_src"))
    }),
    // the recall audit scores the SAME artifact-served results the
    // serving query ships (brute-force truth is the audit's own arm)
    "sim_graph_recall" -> ((s, d) => { val e = t(s, d, "embeddings")
      val dir = graft.serving.IndexStore.scratchDir(d, "knn")
      graft.serving.IndexStore.ensureKnn(e, dir)
      graphRecall(e, servingQueryPred(e), served = Some(
        graft.streaming.StreamGraphServe.serveTopK(
          e.filter(servingQueryPred(e)).select(col("vec_id"), col("embedding")),
          graft.serving.IndexStore.loadKnn(s, dir)))) }),
    // the PHYSICAL graph index: write the src-bucketed edge +
    // node-bucketed vector artifacts, then report the out-degree
    // histogram READ BACK FROM the artifact (the serve_index_write
    // discipline — the oracle recomputes the edges from parquet truth)
    "serve_graph_index_write" -> ((s, d) => {
      val dir = graft.serving.IndexStore.scratchDir(d, "knn")
      graft.serving.IndexStore.writeKnn(t(s, d, "embeddings"), dir)
      graft.serving.IndexStore.loadKnn(s, dir).edges
        .groupBy("src").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_srcs"),
          min("src").as("min_src"), max("src").as("max_src"))
    }),
    // incremental graph maintenance: rebuild the base index on the
    // pre-append split, insert the delta by graph search
    // (search-then-connect with back-edges — the NSW insertion), then
    // report the degree histogram read back from the appended artifact
    "serve_graph_index_append" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val newPred = graphAppendPred
      val dir = graft.serving.IndexStore.scratchDir(d, "knn_append")
      graft.serving.IndexStore.writeKnn(e.filter(!newPred), dir)
      graft.serving.IndexStore.appendKnn(e.filter(newPred), dir)
      graft.serving.IndexStore.loadKnn(s, dir).edges
        .groupBy("src").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_srcs"),
          min("src").as("min_src"), max("src").as("max_src"))
    }),
    // the graph lifecycle's LAST stage, oracled: write + NSW append +
    // the scheduled degree-prune compaction (each src rewound to its
    // exact-cosine top-KnnK — the writeKnn retention rule — through a
    // generation-manifest commit), degree histogram read back from
    // the COMPACTED artifact; DuckDB replays base build + unrolled
    // insert search + back-edge union + the retention window, so a
    // compaction that drops/keeps one wrong edge breaks the hash
    "serve_graph_index_compact" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val newPred = graphAppendPred
      val dir = graft.serving.IndexStore.scratchDir(d, "knn_compact")
      graft.serving.IndexStore.writeKnn(e.filter(!newPred), dir)
      graft.serving.IndexStore.appendKnn(e.filter(newPred), dir)
      graft.serving.IndexStore.compactKnn(s, dir)
      graft.serving.IndexStore.loadKnn(s, dir).edges
        .groupBy("src").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_srcs"),
          min("src").as("min_src"), max("src").as("max_src"))
    }),
    // the ANN artifact lifecycle's last stage, oracled: write + delta
    // append under FROZEN base centroids + small-file compaction
    // (row-content-identical by contract — the oracle recomputes the
    // full-corpus frozen-centroid assignment, so a compaction that
    // loses or duplicates one row breaks the hash), per-cell manifest
    // read back from the compacted artifact
    "serve_ann_index_compact" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val newPred = graphAppendPred
      val dir = graft.serving.IndexStore.scratchDir(d, "ann_compact")
      graft.serving.IndexStore.writeAnn(e.filter(!newPred), dir, IvfCentroids)
      graft.serving.IndexStore.appendAnn(e.filter(newPred), dir)
      graft.serving.IndexStore.compactAnn(s, dir)
      graft.serving.IndexStore.loadAnn(s, dir).assign
        .groupBy("cid").agg(count(lit(1)).as("n_vecs"),
          min("n_id").as("min_vec_id"), max("n_id").as("max_vec_id"))
    }),
    // the DELETE lifecycle stage (takedown/decontamination against an
    // ALREADY-BUILT index): tombstone the deletion split, then report
    // the per-cell manifest read back through the masked load — the
    // oracle recomputes the assignment from truth-minus-deleted under
    // the FULL corpus's frozen centroids (deleting a centroid-sample
    // row removes the servable row, not the trained structure), so a
    // mask that leaks or over-drops one row breaks the hash
    "serve_ann_index_delete" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val dir = graft.serving.IndexStore.scratchDir(d, "ann_delete")
      graft.serving.IndexStore.writeAnn(e, dir, IvfCentroids)
      graft.serving.IndexStore.deleteAnn(
        e.filter(graphDeletePred).select("vec_id"), dir)
      graft.serving.IndexStore.loadAnn(s, dir).assign
        .groupBy("cid").agg(count(lit(1)).as("n_vecs"),
          min("n_id").as("min_vec_id"), max("n_id").as("max_vec_id"))
    }),
    // graph DELETE: tombstoned nodes are masked from the node store,
    // BOTH edge directions, and the entry points — the oracle replays
    // the full build and strips every edge touching the deletion
    // split, so a mask that leaves one edge into a deleted node (the
    // findability path) breaks the hash
    "serve_graph_index_delete" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val dir = graft.serving.IndexStore.scratchDir(d, "knn_delete")
      graft.serving.IndexStore.writeKnn(e, dir)
      graft.serving.IndexStore.deleteKnn(
        e.filter(graphDeletePred).select("vec_id"), dir)
      graft.serving.IndexStore.loadKnn(s, dir).edges
        .groupBy("src").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_srcs"),
          min("src").as("min_src"), max("src").as("max_src"))
    }),
    "emb_semdedup" -> ((s, d) => semDedup(t(s, d, "embeddings"))),
    "mix_cluster_cap" -> ((s, d) => clusterCap(t(s, d, "embeddings"))),
    "serve_index_build" -> ((s, d) => indexBuild(t(s, d, "embeddings"))),
    // the PHYSICAL index: write the cid-partitioned assignment +
    // centroid artifacts, then report the per-cell manifest READ BACK
    // FROM the artifact — the oracle recomputes the assignment from
    // the parquet truth, so a write/load corruption (dropped rows,
    // drifted types, wrong partition values) breaks the hash
    "serve_index_write" -> ((s, d) => {
      val dir = graft.serving.IndexStore.scratchDir(d, "ann")
      graft.serving.IndexStore.writeAnn(t(s, d, "embeddings"), dir)
      graft.serving.IndexStore.loadAnn(s, dir).assign
        .groupBy("cid").agg(count(lit(1)).as("n_vecs"),
          min("n_id").as("min_vec_id"), max("n_id").as("max_vec_id"))
    }),
    "serve_query_router" -> ((s, d) => { val e = t(s, d, "embeddings")
      queryRouter(e, servingQueryPred(e)) }),
    "serve_shard_plan" -> ((s, d) => shardPlan(t(s, d, "embeddings"))),
    "serve_index_append" -> ((s, d) => indexAppend(t(s, d, "embeddings"))),
    "emb_semdedup_recall" -> ((s, d) => semDedupRecall(t(s, d, "embeddings"))),
    "emb_kmeans_fixed" -> ((s, d) => kmeansFixed(t(s, d, "embeddings"))),
    "emb_outliers" -> ((s, d) => kmeansOutliers(t(s, d, "embeddings"))),
    "sim_ivf_recall" -> ((s, d) => { val e = t(s, d, "embeddings")
      ivfRecall(e, servingQueryPred(e)) }),
    // ranking-order audit next to the membership audit: reciprocal
    // rank of the exhaustive top-1 inside the served IVF list
    "sim_serving_mrr" -> ((s, d) => { val e = t(s, d, "embeddings")
      servingMrr(e, servingQueryPred(e)) }),
    "sim_serving_ndcg" -> ((s, d) => { val e = t(s, d, "embeddings")
      servingNdcg(e, servingQueryPred(e)) }),
    // Matryoshka pair: prefix-shortlist serving + its truncation audit
    "sim_adaptive_topk" -> ((s, d) => { val e = t(s, d, "embeddings")
      adaptiveTopK(e, servingQueryPred(e)) }),
    "sim_mrl_recall" -> ((s, d) => { val e = t(s, d, "embeddings")
      mrlRecall(e, servingQueryPred(e)) }),
    // binary-quantization rung: XOR+popcount shortlist, exact rerank
    "sim_bq_topk" -> ((s, d) => { val e = t(s, d, "embeddings")
      bqTopK(e, servingQueryPred(e)) }),
    "sim_bq_recall" -> ((s, d) => { val e = t(s, d, "embeddings")
      bqRecall(e, servingQueryPred(e)) }),
    "sim_neardup_recall" -> ((s, d) =>
      nearDupRecall(t(s, d, "embeddings"), dim = OracleDim)),
    "emb_rq_encode" -> ((s, d) => rqEncode(t(s, d, "embeddings"))),
    // k1=k2=16 → 8-bit codes (256 reconstruction points): measured
    // recall@10 0.54 with the 5× shortlist — on par with PQ's 0.52 at
    // a 4× SMALLER code budget (8 vs 32 bits/vector); 8×8 codes (6
    // bits) measured 0.36
    "sim_rq_topk" -> ((s, d) => { val e = t(s, d, "embeddings")
      rqTopK(e, servingQueryPred(e), k1 = 16, k2 = 16) }),
    "sim_rq_recall" -> ((s, d) => { val e = t(s, d, "embeddings")
      rqRecall(e, servingQueryPred(e)) }),
    "sim_pq_topk" -> ((s, d) => { val e = t(s, d, "embeddings")
      pqTopK(e, servingQueryPred(e), k = 10, dim = OracleDim) }),
    // SQ8 completes the quantized-serving ladder (SQ8 → RQ → PQ/IVF-PQ):
    // full-dimension int8 codes, integer ADC shortlist (bit-exact
    // ranking cross-engine), exact-dot rerank. Measured recall@10 vs
    // brute-force dot top-k in SimilarityOpsSpec.
    "sim_sq_topk" -> ((s, d) => { val e = t(s, d, "embeddings")
      sqTopK(e, servingQueryPred(e), k = 10) }),
    "sim_sq_recall" -> ((s, d) => { val e = t(s, d, "embeddings")
      sqRecall(e, servingQueryPred(e)) }),
    "sim_mmr_topk" -> ((s, d) => { val e = t(s, d, "embeddings")
      mmrTopK(e, servingQueryPred(e)) }),
    "emb_pca_power" -> ((s, d) => pcaPower(t(s, d, "embeddings"))),
    "emb_abtt" -> ((s, d) => abttApply(t(s, d, "embeddings"))),
    "emb_pca_topd" -> ((s, d) => pcaPowerTopD(t(s, d, "embeddings"))),
    "emb_abtt_topd" -> ((s, d) => abttTopD(t(s, d, "embeddings"))),
    "sim_hybrid_rrf" -> ((s, d) =>
      hybridRrf(t(s, d, "documents"), t(s, d, "embeddings"))),
    "emb_knn_graph" -> ((s, d) => knnGraph(t(s, d, "embeddings"))),
    "emb_hard_negatives" -> ((s, d) =>
      hardNegatives(t(s, d, "embeddings"), col("vec_id") % 20 === 0)),
    "sim_ivfpq_topk" -> ((s, d) => { val e = t(s, d, "embeddings")
      ivfPqTopK(e, servingQueryPred(e), k = 10, dim = OracleDim) }),
    "emb_label_prop" -> ((s, d) =>
      knnLabelProp(t(s, d, "embeddings"), col("vec_id") % LpSeedMod === 0)),
    // Per-label centroid, one row per (label, dimension): posexplode →
    // keyed agg with map-side partials — the distributed shape for
    // class centroids / cluster means at any corpus size. Sums run in
    // exact integer micro-units (float→double widening is exact, so
    // round(v*1e6) agrees bit-for-bit across engines); the mean is
    // derived from the exact sum by one double division.
    "emb_label_centroid" -> ((s, d) =>
      t(s, d, "embeddings")
        .select(col("label").cast("long").as("label"), posexplode(col("embedding")))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n"),
          sum(round(col("col").cast("double") * 1e6).cast("long")).as("sum_u"))
        .select(col("label"), col("pos").cast("long").as("pos"), col("n"),
          col("sum_u"),
          (col("sum_u").cast("double") / lit(1e6) / col("n").cast("double"))
            .as("mean_v")))
  )

  /** Shared DuckDB CTE chain of the banded hashed-plane LSH candidate
    * pipeline: e (vectors + norms + band keys) → bands → cand →
    * s (exact-cosine-scored candidates). Literal plane weights so both
    * engines hash identically. Ends without a trailing comma. */
  private def neardupLshCtes: String = neardupLshCtesFrom("embeddings")

  private def neardupLshCtesFrom(src: String): String = {
    def bandKey(b: Int): String = {
      val terms = (0 until NdBits).map { r =>
        val i = b * NdBits + r
        val ws = (0 until 64).map(j => s"${hashedPlaneWeight(i, j)}.0").mkString(",")
        s"""CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
           |    list_transform(list_zip(embedding, [$ws]), s ->
           |      s[1]::DOUBLE * s[2])), (x,y) -> x+y) > 0 THEN ${1L << r} ELSE 0 END"""
          .stripMargin
      }
      s"CAST(${terms.mkString(" + ")} AS BIGINT)"
    }
    val keys = (0 until NdBands).map(b => s"${bandKey(b)} AS k$b").mkString(",\n  ")
    val keyList = (0 until NdBands).map(b => s"k$b").mkString(", ")
    s"""e AS (
       |  SELECT vec_id, embedding, ${sqlNrm("embedding")} AS nrm,
       |  $keys
       |  FROM $src),
       |bands AS (
       |  SELECT vec_id, bb.b AS band, [$keyList][bb.b + 1] AS key
       |  FROM e, (SELECT unnest(range(0, $NdBands)) AS b) bb),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS d1, x.vec_id AS d2
       |  FROM bands a JOIN bands x
       |    ON a.band = x.band AND a.key = x.key AND a.vec_id < x.vec_id),
       |s AS (
       |  SELECT c.d1, c.d2,
       |    ${sqlDot("e1.embedding", "e2.embedding")} / (e1.nrm * e2.nrm) AS sim
       |  FROM cand c JOIN e e1 ON c.d1 = e1.vec_id JOIN e e2 ON c.d2 = e2.vec_id)"""
      .stripMargin
  }

  private val sqlCos =
    """list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip(a.e, b.e), s -> s[1]::DOUBLE * s[2]::DOUBLE)), (x,y) -> x+y)
      | / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(a.e, x -> x::DOUBLE * x::DOUBLE)), (x,y) -> x+y))
      |    * sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(b.e, x -> x::DOUBLE * x::DOUBLE)), (x,y) -> x+y)))""".stripMargin

  private def sqlDot(x: String, y: String) =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip($x, $y), s -> s[1]::DOUBLE * s[2]::DOUBLE)), (u,v) -> u+v)"
  private def sqlNrm(x: String) =
    s"sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform($x, t -> t::DOUBLE * t::DOUBLE)), (u,v) -> u+v))"

  /** Prefix twins of [[sqlDot]]/[[sqlNrm]] — DuckDB list_slice is
    * 1-based inclusive, so `[1, n]` is exactly the first n elements
    * the VecDotPrefix kernel folds, in the same order. */
  private def sqlDotN(x: String, y: String, n: Int) =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip(list_slice($x, 1, $n), list_slice($y, 1, $n)), s -> s[1]::DOUBLE * s[2]::DOUBLE)), (u,v) -> u+v)"
  private def sqlNrmN(x: String, n: Int) =
    s"sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_slice($x, 1, $n), t -> t::DOUBLE * t::DOUBLE)), (u,v) -> u+v))"

  /** Sequential-fold squared-L2 in DuckDB — the SQL twin of [[sqdist]]. */
  private def sqlSqd(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip($a, $b),
       |  s -> (s[1]::DOUBLE - s[2]::DOUBLE) * (s[1]::DOUBLE - s[2]::DOUBLE))), (u,v) -> u+v)"""

  /** Full-training SQL replay of [[pcaPower]]: sample → micro units →
    * truncating mean/center → Gram (MATERIALIZED — referenced by every
    * matvec round) → `rounds` unrolled (w, v) CTE pairs with the exact
    * mx-normalization division. The degenerate mx = 0 branch carries
    * the PREVIOUS round's v, mirroring the driver loop. */
  /** One prefix-parameterized set of power-round CTEs (w{p}k, m{p}k,
    * v{p}k over Gram CTE `gname`) — pfx = "" reproduces the original
    * direction-1 chain verbatim; pfx = "d2_" runs direction 2 on the
    * deflated Gram. */
  private def pcaRoundCtes(rounds: Int, pfx: String, gname: String): String =
    (1 to rounds).map { k =>
      s"""w$pfx$k AS MATERIALIZED (
         |  SELECT g.i, CAST(SUM(g.g * v.v) AS BIGINT) AS w
         |  FROM $gname g JOIN v$pfx${k - 1} v ON v.i = g.j GROUP BY 1),
         |m$pfx$k AS (SELECT MAX(abs(w)) AS mx FROM w$pfx$k),
         |v$pfx$k AS MATERIALIZED (
         |  SELECT w.i,
         |    CASE WHEN m.mx = 0 THEN p.v ELSE (w.w * 1000) // m.mx END AS v
         |  FROM w$pfx$k w JOIN v$pfx${k - 1} p ON p.i = w.i CROSS JOIN m$pfx$k m)"""
    }.mkString(",\n")

  /** Integer Hotelling deflation in SQL ([[pcaPowerDirs]]'s rank-1
    * update): w* = G·v_final in HUGEINT, vw = max(vᵀw*, 1), then
    * g2 = g − (w*ᵢ·w*ⱼ) // vw — HUGEINT `//` truncates toward zero
    * exactly like driver-side BigInt division, so direction 2's power
    * rounds replay bit-identically. */
  private def pcaDeflateCtes(rounds: Int, dim: Int): String =
    s"""ws AS MATERIALIZED (
       |  SELECT g.i, CAST(SUM(CAST(g.g AS HUGEINT) * v.v) AS HUGEINT) AS w
       |  FROM g JOIN v$rounds v ON v.i = g.j GROUP BY 1),
       |vwagg AS (
       |  SELECT GREATEST(CAST(SUM(w.w * v.v) AS HUGEINT),
       |                  CAST(1 AS HUGEINT)) AS vw
       |  FROM ws w JOIN v$rounds v ON v.i = w.i),
       |g2 AS MATERIALIZED (
       |  SELECT g.i, g.j,
       |    CAST(CAST(g.g AS HUGEINT) - (wa.w * wb.w) // x.vw AS BIGINT) AS g
       |  FROM g JOIN ws wa ON wa.i = g.i JOIN ws wb ON wb.i = g.j
       |  CROSS JOIN vwagg x),
       |vd2_0 AS (SELECT UNNEST(range(0, $dim)) AS i, 1000::BIGINT AS v),
       |${pcaRoundCtes(rounds, "d2_", "g2")}""".stripMargin

  private def pcaOracle(rounds: Int, dim: Int, gramTarget: Int,
      mode: String = "train"): String = {
    val tail = mode match {
      case "train" =>
        s"""SELECT CAST(v$rounds.i AS BIGINT) AS pos,
           |  CAST(v$rounds.v AS BIGINT) AS v_mil,
           |  CAST(w$rounds.w AS BIGINT) AS w_last
           |FROM v$rounds JOIN w$rounds ON v$rounds.i = w$rounds.i""".stripMargin
      case "apply" =>
        // the trained v applied over the FULL corpus: p = Σ x_u·v,
        // r_i = x_u[i]·(v·v) − p·v[i] — no per-element division
        s"""vagg AS (
           |  SELECT list(v ORDER BY i ASC) AS vl,
           |    CAST(SUM(v * v) AS BIGINT) AS vv
           |  FROM v$rounds),
           |xall AS (
           |  SELECT vec_id, list_transform(embedding,
           |    x -> CAST(round(x::DOUBLE * 1e6) AS BIGINT)) AS xu
           |  FROM embeddings),
           |pp AS (
           |  SELECT vec_id, xu, va.vl, va.vv,
           |    list_reduce(list_prepend(0::BIGINT,
           |      list_transform(list_zip(xu, va.vl), s -> s[1] * s[2])),
           |      (u, v) -> u + v) AS p
           |  FROM xall, vagg va)
           |SELECT vec_id, p,
           |  list_reduce(list_prepend(0::BIGINT,
           |    list_transform(list_zip(xu, vl), s -> abs(s[1] * vv - p * s[2]))),
           |    (u, v) -> u + v) AS res_l1
           |FROM pp""".stripMargin
      case "train_topd" =>
        s"""${pcaDeflateCtes(rounds, dim)}
           |SELECT CAST(1 AS BIGINT) AS dir, CAST(v.i AS BIGINT) AS pos,
           |  CAST(v.v AS BIGINT) AS v_mil
           |FROM v$rounds v
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), CAST(v.i AS BIGINT), CAST(v.v AS BIGINT)
           |FROM vd2_$rounds v""".stripMargin
      case "apply_topd" =>
        // sequential removal ([[abttTopD]]): p1 = Σ xu·v1,
        // xu1 = xu − (p1·v1) // vv1; p2 = Σ xu1·v2,
        // res_l1 = Σ |xu1 − (p2·v2) // vv2|
        s"""${pcaDeflateCtes(rounds, dim)},
           |v1agg AS (
           |  SELECT list(v ORDER BY i ASC) AS vl,
           |    GREATEST(CAST(SUM(v * v) AS BIGINT), 1) AS vv
           |  FROM v$rounds),
           |v2agg AS (
           |  SELECT list(v ORDER BY i ASC) AS vl,
           |    GREATEST(CAST(SUM(v * v) AS BIGINT), 1) AS vv
           |  FROM vd2_$rounds),
           |xall AS (
           |  SELECT vec_id, list_transform(embedding,
           |    x -> CAST(round(x::DOUBLE * 1e6) AS BIGINT)) AS xu
           |  FROM embeddings),
           |s1 AS (
           |  SELECT x.vec_id, x.xu, a.vl AS vl1, a.vv AS vv1,
           |    b.vl AS vl2, b.vv AS vv2,
           |    list_reduce(list_prepend(0::BIGINT,
           |      list_transform(list_zip(x.xu, a.vl), s -> s[1] * s[2])),
           |      (u, v) -> u + v) AS p1
           |  FROM xall x, v1agg a, v2agg b),
           |s2 AS (
           |  SELECT vec_id, p1, vl2, vv2,
           |    list_transform(list_zip(xu, vl1),
           |      s -> s[1] - (p1 * s[2]) // vv1) AS xu1
           |  FROM s1),
           |s3 AS (
           |  SELECT vec_id, p1, xu1, vl2, vv2,
           |    list_reduce(list_prepend(0::BIGINT,
           |      list_transform(list_zip(xu1, vl2), s -> s[1] * s[2])),
           |      (u, v) -> u + v) AS p2
           |  FROM s2)
           |SELECT vec_id, p1, p2,
           |  list_reduce(list_prepend(0::BIGINT,
           |    list_transform(list_zip(xu1, vl2),
           |      s -> abs(s[1] - (p2 * s[2]) // vv2))),
           |    (u, v) -> u + v) AS res_l1
           |FROM s3""".stripMargin
    }
    val glue = if (mode != "train") "," else ""
    s"""WITH sub AS (
       |  SELECT * FROM embeddings WHERE vec_id %
       |    (SELECT GREATEST(1, COUNT(*) // $gramTarget) FROM embeddings) = 0),
       |xu AS (
       |  SELECT vec_id, i,
       |    CAST(round(embedding[i + 1]::DOUBLE * 1e6) AS BIGINT) AS xu
       |  FROM (SELECT vec_id, embedding,
       |          UNNEST(range(0, len(embedding))) AS i
       |        FROM sub)),
       |mean AS (
       |  SELECT i, CAST(SUM(xu) AS BIGINT) // COUNT(1) AS mean_u
       |  FROM xu GROUP BY 1),
       |cm AS MATERIALIZED (
       |  SELECT vec_id, x.i, (x.xu - m.mean_u) // 1000 AS cm
       |  FROM xu x JOIN mean m ON x.i = m.i),
       |g AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j, CAST(SUM(a.cm * b.cm) AS BIGINT) AS g
       |  FROM cm a JOIN cm b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |v0 AS (SELECT UNNEST(range(0, $dim)) AS i, 1000::BIGINT AS v),
       |${pcaRoundCtes(rounds, "", "g")}$glue
       |$tail""".stripMargin
  }

  /** SQL replay of [[mmrTopK]]: brute-force top-C candidates, the
    * per-query pair matrix, then one MATERIALIZED CTE pair per greedy
    * round (pick + accumulated selection). All comparisons are on
    * micro-cosine int64, so the argmax chain replays hash-exact. */
  private def mmrOracle(k: Int, nCands: Int): String = {
    val rounds = (2 to k).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT q_id, n_id, CAST($i AS BIGINT) AS step FROM (
         |    SELECT c.q_id, c.n_id,
         |      ROW_NUMBER() OVER (PARTITION BY c.q_id
         |        ORDER BY (c.simq_u - m.mx) DESC, c.n_id ASC) AS rn
         |    FROM cand c
         |    JOIN (SELECT p.q_id, p.a AS n_id, MAX(p.pair_u) AS mx
         |          FROM pairs p JOIN sel${i - 1} s
         |            ON s.q_id = p.q_id AND s.n_id = p.b
         |          GROUP BY 1, 2) m
         |      ON m.q_id = c.q_id AND m.n_id = c.n_id
         |    WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s2
         |      WHERE s2.q_id = c.q_id AND s2.n_id = c.n_id))
         |  WHERE rn = 1),
         |sel$i AS MATERIALIZED (
         |  SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)"""
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding AS e FROM embeddings),
       |cand AS MATERIALIZED (
       |  SELECT q_id, n_id, rank, CAST(round(sim * 1e6) AS BIGINT) AS simq_u
       |  FROM (
       |    SELECT a.vec_id AS q_id, b.vec_id AS n_id, $sqlCos AS sim,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |        ORDER BY $sqlCos DESC, b.vec_id ASC) AS rank
       |    FROM e a JOIN e b ON a.vec_id % $sqlServeMod = 0 AND a.vec_id != b.vec_id)
       |  WHERE rank <= $nCands),
       |pairs AS MATERIALIZED (
       |  SELECT c1.q_id, c1.n_id AS a, c2.n_id AS b,
       |    CAST(round(($sqlCos) * 1e6) AS BIGINT) AS pair_u
       |  FROM cand c1 JOIN cand c2 ON c1.q_id = c2.q_id AND c1.n_id != c2.n_id
       |  JOIN e a ON a.vec_id = c1.n_id
       |  JOIN e b ON b.vec_id = c2.n_id),
       |sel1 AS MATERIALIZED (
       |  SELECT q_id, n_id, CAST(1 AS BIGINT) AS step FROM cand WHERE rank = 1),
       |$rounds
       |SELECT q_id, n_id, step FROM sel$k""".stripMargin
  }

  /** SQL replay of [[sqTopK]]/[[sqRecall]]: shared quantize → integer
    * ADC → exact-dot rerank CTE chain; `mode = "recall"` appends the
    * exhaustive-dot reference and the per-query ppm compare. */
  /** SQL replay of [[bqTopK]]/[[bqRecall]]: sign-bit 32-bit code
    * words → XOR+popcount Hamming shortlist (all-integer ordering) →
    * exact-dot rerank; `mode = "recall"` appends the exhaustive-dot
    * reference and the per-query ppm compare (the sqOracle shape). */
  private def bqOracle(mode: String): String = {
    def word(lo: Int): String =
      s"""list_reduce(list_prepend(0::BIGINT, list_transform(range($lo, ${lo + BqWordBits}),
         |      i -> CASE WHEN embedding[i+1] > 0 THEN (1::BIGINT << (i - $lo))
         |                ELSE 0::BIGINT END)), (a,b) -> a+b)""".stripMargin
    val tail = mode match {
      case "topk" =>
        s"""SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank,
           |  ROUND(dotp, 6) AS dotp
           |FROM ranked WHERE rank <= 10""".stripMargin
      case "recall" =>
        s"""iv AS (SELECT q_id, n_id FROM ranked WHERE rank <= 10),
           |exd AS (SELECT qe.vec_id AS q_id, ne.vec_id AS n_id,
           |    ${sqlDot("qe.embedding", "ne.embedding")} AS dotp
           |  FROM (SELECT * FROM embeddings WHERE vec_id % $sqlServeMod = 0) qe
           |  JOIN embeddings ne ON qe.vec_id != ne.vec_id),
           |ex AS (SELECT q_id, n_id FROM (
           |    SELECT q_id, n_id,
           |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dotp DESC, n_id ASC)
           |        AS rank FROM exd) WHERE rank <= 10),
           |hits AS (SELECT x.q_id, COUNT(*) AS n_hit
           |  FROM ex x JOIN iv i ON x.q_id = i.q_id AND x.n_id = i.n_id
           |  GROUP BY 1),
           |nex AS (SELECT q_id, COUNT(*) AS n_exact FROM ex GROUP BY 1)
           |SELECT n.q_id, CAST(n.n_exact AS BIGINT) AS n_exact,
           |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           |  CAST(COALESCE(h.n_hit, 0) * 1000000 // GREATEST(n.n_exact, 1)
           |    AS BIGINT) AS recall_ppm
           |FROM nex n LEFT JOIN hits h ON n.q_id = h.q_id""".stripMargin
    }
    val glue = if (mode == "recall") "," else ""
    s"""WITH codes AS (
       |  SELECT vec_id,
       |    ${word(0)} AS c0,
       |    ${word(BqWordBits)} AS c1
       |  FROM embeddings),
       |qc AS (SELECT vec_id AS q_id, c0 AS q0, c1 AS q1
       |       FROM codes WHERE vec_id % $sqlServeMod = 0),
       |hm AS (
       |  SELECT qc.q_id, n.vec_id AS n_id,
       |    CAST(bit_count(xor(qc.q0, n.c0)) AS BIGINT)
       |      + CAST(bit_count(xor(qc.q1, n.c1)) AS BIGINT) AS ham
       |  FROM qc JOIN codes n ON qc.q_id != n.vec_id),
       |sl AS (
       |  SELECT q_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ham ASC, n_id ASC)
       |      AS srn
       |  FROM hm),
       |rerank AS (
       |  SELECT s.q_id, s.n_id,
       |    ${sqlDot("qe.embedding", "ne.embedding")} AS dotp
       |  FROM sl s JOIN embeddings qe ON s.q_id = qe.vec_id
       |  JOIN embeddings ne ON s.n_id = ne.vec_id
       |  WHERE s.srn <= $PqShortlist),
       |ranked AS (
       |  SELECT q_id, n_id, dotp,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dotp DESC, n_id ASC)
       |      AS rank
       |  FROM rerank)$glue
       |$tail""".stripMargin
  }

  private def sqOracle(mode: String): String = {
    val tail = mode match {
      case "topk" =>
        s"""SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank,
           |  ROUND(dotp, 6) AS dotp
           |FROM ranked WHERE rank <= 10""".stripMargin
      case "recall" =>
        s"""iv AS (SELECT q_id, n_id FROM ranked WHERE rank <= 10),
           |exd AS (SELECT qe.vec_id AS q_id, ne.vec_id AS n_id,
           |    ${sqlDot("qe.embedding", "ne.embedding")} AS dotp
           |  FROM (SELECT * FROM embeddings WHERE vec_id % $sqlServeMod = 0) qe
           |  JOIN embeddings ne ON qe.vec_id != ne.vec_id),
           |ex AS (SELECT q_id, n_id FROM (
           |    SELECT q_id, n_id,
           |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dotp DESC, n_id ASC)
           |        AS rank FROM exd) WHERE rank <= 10),
           |hits AS (SELECT x.q_id, COUNT(*) AS n_hit
           |  FROM ex x JOIN iv i ON x.q_id = i.q_id AND x.n_id = i.n_id
           |  GROUP BY 1),
           |nex AS (SELECT q_id, COUNT(*) AS n_exact FROM ex GROUP BY 1)
           |SELECT n.q_id, CAST(n.n_exact AS BIGINT) AS n_exact,
           |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           |  CAST(COALESCE(h.n_hit, 0) * 1000000 // GREATEST(n.n_exact, 1)
           |    AS BIGINT) AS recall_ppm
           |FROM nex n LEFT JOIN hits h ON n.q_id = h.q_id""".stripMargin
    }
    val glue = if (mode == "recall") "," else ""
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
       |  FROM embeddings),
       |codes AS (
       |  SELECT vec_id, CAST(round(amax * 1e6) AS BIGINT) AS amax_u,
       |    CASE WHEN amax > 0
       |      THEN list_transform(embedding,
       |        x -> CAST(round(x::DOUBLE / amax * 127) AS BIGINT))
       |      ELSE list_transform(embedding, x -> 0::BIGINT) END AS c
       |  FROM base),
       |qc AS (SELECT vec_id AS q_id, c AS qc FROM codes WHERE vec_id % $sqlServeMod = 0),
       |ad AS (
       |  SELECT qc.q_id, n.vec_id AS n_id,
       |    list_reduce(list_prepend(0::BIGINT,
       |      list_transform(list_zip(qc.qc, n.c), s -> s[1] * s[2])),
       |      (u, v) -> u + v) * n.amax_u AS score
       |  FROM qc JOIN codes n ON qc.q_id != n.vec_id),
       |short AS (
       |  SELECT q_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id ASC)
       |      AS srn
       |  FROM ad),
       |rerank AS (
       |  SELECT s.q_id, s.n_id,
       |    ${sqlDot("qe.embedding", "ne.embedding")} AS dotp
       |  FROM short s JOIN embeddings qe ON s.q_id = qe.vec_id
       |  JOIN embeddings ne ON s.n_id = ne.vec_id
       |  WHERE s.srn <= $PqShortlist),
       |ranked AS (
       |  SELECT q_id, n_id, dotp,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dotp DESC, n_id ASC)
       |      AS rank
       |  FROM rerank)$glue
       |$tail""".stripMargin
  }
      .stripMargin

  /** DuckDB replay of the full PQ pipeline: sample-train the codebook,
    * encode every corpus vector (argmin over the m-th sub-distance,
    * ROW_NUMBER tie-break = the engine's (d, code) struct-min), ADC
    * score in the same (subspace-ordered) sequential fold, shortlist,
    * exact-L2 rerank. */
  private def pqOracle: String = {
    val (m, sub, k) = (PqSubs, PqSubDim, PqCodes)
    val subSlice = s"list_slice(c.embedding, cb.m*$sub+1, cb.m*$sub+$sub)"
    s"""WITH cbsrc AS (
       |  SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k
       |  FROM embeddings WHERE vec_id < $k AND len(embedding) = $OracleDim),
       |cb AS (
       |  SELECT mm.m, cbsrc.k,
       |    list_slice(cbsrc.embedding, mm.m*$sub+1, mm.m*$sub+$sub) AS sub
       |  FROM cbsrc, (SELECT unnest(range(0, $m)) AS m) mm),
       |cbflat AS (SELECT list(sub ORDER BY m, k) AS fcb FROM cb),
       |corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) = $OracleDim),
       |encl AS (
       |  SELECT c.vec_id, cb.m, cb.k,
       |    ROW_NUMBER() OVER (PARTITION BY c.vec_id, cb.m
       |      ORDER BY ${sqlSqd(subSlice, "cb.sub")} ASC, cb.k ASC) AS rn
       |  FROM corpus c CROSS JOIN cb),
       |enc AS (
       |  SELECT vec_id, list(k ORDER BY m) AS codes
       |  FROM encl WHERE rn = 1 GROUP BY vec_id),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb
       |      FROM corpus WHERE vec_id % $sqlServeMod = 0),
       |adc AS (
       |  SELECT q.q_id, enc.vec_id AS n_id,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(range(0, $m), m ->
       |        ${sqlSqd(s"list_slice(q.q_emb, m*$sub+1, m*$sub+$sub)",
                         s"cbflat.fcb[m*$k + enc.codes[m+1] + 1]")})),
       |      (u,v) -> u+v) AS dist
       |  FROM q, enc, cbflat WHERE q.q_id != enc.vec_id),
       |short AS (
       |  SELECT q_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist ASC, n_id ASC) AS srn
       |  FROM adc),
       |rerank AS (
       |  SELECT s.q_id, s.n_id,
       |    ${sqlSqd("q.q_emb", "n.embedding")} AS dist
       |  FROM short s
       |  JOIN q ON s.q_id = q.q_id
       |  JOIN corpus n ON s.n_id = n.vec_id
       |  WHERE s.srn <= $PqShortlist),
       |ranked AS (
       |  SELECT q_id, n_id, dist,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist ASC, n_id ASC) AS rank
       |  FROM rerank)
       |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, ROUND(dist, 6) AS dist
       |FROM ranked WHERE rank <= 10""".stripMargin
  }

  /** DuckDB replay of the composed IVF-PQ pipeline. Shares the PQ
    * codebook/encode CTEs with [[pqOracle]]'s derivation and adds the
    * L2 cell layer via the same x·x − 2·x·c + c·c expansion the engine
    * computes. */
  private def ivfPqOracle: String = {
    val (m, sub, kc) = (PqSubs, PqSubDim, PqCodes)
    s"""WITH cbsrc AS (
       |  SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k
       |  FROM embeddings WHERE vec_id < $kc AND len(embedding) = $OracleDim),
       |cb AS (
       |  SELECT mm.m, cbsrc.k,
       |    list_slice(cbsrc.embedding, mm.m*$sub+1, mm.m*$sub+$sub) AS sub
       |  FROM cbsrc, (SELECT unnest(range(0, $m)) AS m) mm),
       |cbflat AS (SELECT list(sub ORDER BY m, k) AS fcb FROM cb),
       |corpus AS (
       |  SELECT vec_id, embedding,
       |    ${sqlDot("embedding", "embedding")} AS xx
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) = $OracleDim),
       |cent AS (SELECT vec_id AS cid, embedding AS c_emb, xx AS cc
       |         FROM corpus WHERE vec_id < $IvfPqCells),
       |asg0 AS (
       |  SELECT c.vec_id, cent.cid,
       |    ROW_NUMBER() OVER (PARTITION BY c.vec_id
       |      ORDER BY c.xx - 2.0 * ${sqlDot("c.embedding", "cent.c_emb")} + cent.cc ASC,
       |               cent.cid ASC) AS rn
       |  FROM corpus c, cent),
       |asg AS (SELECT vec_id, cid FROM asg0 WHERE rn = 1),
       |encl AS (
       |  SELECT c.vec_id, cb.m, cb.k,
       |    ROW_NUMBER() OVER (PARTITION BY c.vec_id, cb.m
       |      ORDER BY ${sqlSqd(
                s"list_slice(c.embedding, cb.m*$sub+1, cb.m*$sub+$sub)", "cb.sub")} ASC,
       |               cb.k ASC) AS rn
       |  FROM corpus c CROSS JOIN cb),
       |enc AS (
       |  SELECT e.vec_id, list(e.k ORDER BY e.m) AS codes, asg.cid
       |  FROM encl e JOIN asg ON e.vec_id = asg.vec_id
       |  WHERE e.rn = 1 GROUP BY e.vec_id, asg.cid),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, xx AS q_xx
       |      FROM corpus WHERE vec_id % $sqlServeMod = 0),
       |prb0 AS (
       |  SELECT q.q_id, q.q_emb, cent.cid,
       |    ROW_NUMBER() OVER (PARTITION BY q.q_id
       |      ORDER BY q.q_xx - 2.0 * ${sqlDot("q.q_emb", "cent.c_emb")} + cent.cc ASC,
       |               cent.cid ASC) AS rn
       |  FROM q, cent),
       |prb AS (SELECT q_id, q_emb, cid FROM prb0 WHERE rn <= $IvfPqProbe),
       |adc AS (
       |  SELECT prb.q_id, enc.vec_id AS n_id,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(range(0, $m), mm ->
       |        ${sqlSqd(s"list_slice(prb.q_emb, mm*$sub+1, mm*$sub+$sub)",
                         s"cbflat.fcb[mm*$kc + enc.codes[mm+1] + 1]")})),
       |      (u,v) -> u+v) AS dist
       |  FROM prb JOIN enc USING (cid) CROSS JOIN cbflat
       |  WHERE prb.q_id != enc.vec_id),
       |short AS (
       |  SELECT q_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist ASC, n_id ASC) AS srn
       |  FROM adc),
       |rerank AS (
       |  SELECT s.q_id, s.n_id,
       |    q.q_xx - 2.0 * ${sqlDot("q.q_emb", "n.embedding")} + n.xx AS dist
       |  FROM short s
       |  JOIN q ON s.q_id = q.q_id
       |  JOIN corpus n ON s.n_id = n.vec_id
       |  WHERE s.srn <= $PqShortlist),
       |ranked AS (
       |  SELECT q_id, n_id, dist,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist ASC, n_id ASC) AS rank
       |  FROM rerank)
       |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, ROUND(dist, 6) AS dist
       |FROM ranked WHERE rank <= 10""".stripMargin
  }

  /** DuckDB replay of [[graphTopK]] (`mode = "topk"`) and
    * [[graphRecall]] (`mode = "recall"`): the emb_knn_graph edge
    * chain, then the unrolled seed → (hop/beam)×[[GraphHops]] →
    * gather expansion; recall composes the brute-force truth exactly
    * like sim_ivf_recall's oracle. */
  private def graphOracle(mode: String): String = {
    val gatherCtes = graphGatherCtes(
      s"""q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm
         |       FROM e WHERE vec_id % $sqlServeMod = 0)""".stripMargin)
    val tail = mode match {
      case "topk" =>
        """SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, ROUND(sim, 6) AS sim
          |FROM gr WHERE rank <= 10""".stripMargin
      case "filtered" =>
        // filtered-DiskANN: the SAME unfiltered visited set (vis/gsc),
        // ranked over the predicate-matching subset at the emit stage
        s"""gf AS (
           |  SELECT g.q_id, g.n_id, CAST(emb.label AS BIGINT) AS n_label,
           |    g.sim,
           |    ROW_NUMBER() OVER (PARTITION BY g.q_id
           |      ORDER BY g.sim DESC, g.n_id ASC) AS rank
           |  FROM gsc g JOIN embeddings emb ON g.n_id = emb.vec_id
           |  WHERE CAST(emb.label AS BIGINT) % $FilterLabelMod = 0)
           |SELECT q_id, n_id, n_label, CAST(rank AS BIGINT) AS rank,
           |  ROUND(sim, 6) AS sim
           |FROM gf WHERE rank <= 10""".stripMargin
      case "recall" =>
        s"""gv AS (SELECT q_id, n_id FROM gr WHERE rank <= 10),
           |ex0 AS (
           |  SELECT q.q_id, c.vec_id AS n_id,
           |    ROW_NUMBER() OVER (PARTITION BY q.q_id
           |      ORDER BY ${sqlDot("q.q_emb", "c.emb")} / (q.q_nrm * c.nrm) DESC,
           |               c.vec_id ASC) AS rank
           |  FROM q JOIN e c ON q.q_id != c.vec_id),
           |ex AS (SELECT q_id, n_id FROM ex0 WHERE rank <= 10),
           |hits AS (SELECT x.q_id, COUNT(*) AS n_hit
           |  FROM ex x JOIN gv i ON x.q_id = i.q_id AND x.n_id = i.n_id
           |  GROUP BY 1),
           |nex AS (SELECT q_id, COUNT(*) AS n_exact FROM ex GROUP BY 1)
           |SELECT n.q_id, CAST(n.n_exact AS BIGINT) AS n_exact,
           |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           |  CAST(COALESCE(h.n_hit, 0) * 1000000 // GREATEST(n.n_exact, 1) AS BIGINT)
           |    AS recall_ppm
           |FROM nex n LEFT JOIN hits h ON n.q_id = h.q_id""".stripMargin
    }
    val tailSep = if (mode == "topk") "" else ","
    s"""WITH ${knnChainCtes()},
       |$gatherCtes$tailSep
       |$tail""".stripMargin
  }

  /** DuckDB rendering of [[layerMemberPred]] — the same md5 hash the
    * knncap retention order uses, mod the layer's geometric factor. */
  private def sqlLayerPred(l: Int, id: String = "vec_id"): String = {
    val m = (1 to l).foldLeft(1L)((a, _) => a * LayerFactor)
    s"((('0x' || substr(md5('knnlayer:' || $id::VARCHAR), 1, 15))::BIGINT" +
      s" % ${TextOps.HashMod}) % $m) = 0"
  }

  /** DuckDB replay of the LAYERED graph serve ([[graphLayeredSearch]]
    * / `sim_graph_layered_topk`): one [[knnChainCtes]] per layer over
    * the md5-sampled member set at degree [[LayerK]], mirrored
    * (UNION = the engine's union+distinct), then the descent unrolled
    * stage for stage — entry = top-layer members + fallback, layers ×
    * [[LayerHops]] expand-and-narrow steps (the last widened to the
    * beam), [[GraphHops]] hops at layer 0, gather over everything
    * scored. `mode = "write"` instead rolls the mirrored per-layer
    * edge tables into the artifact's degree histogram. */
  private def graphLayeredOracle(mode: String = "topk"): String = {
    val layers = GraphLayers; val lh = LayerHops; val hops = GraphHops
    // the append oracle indexes only the pre-append corpus and
    // searches the delta vectors through the descent (the engine's
    // insert search = serve search rule)
    val baseSql =
      if (mode == "append")
        s"(SELECT * FROM embeddings WHERE NOT ($GraphAppendWhere))"
      else "embeddings"
    val chains = (0 to layers).map { l =>
      val corpus = if (l == 0) baseSql
        else s"(SELECT * FROM $baseSql t WHERE ${sqlLayerPred(l, "t.vec_id")})"
      knnChainCtes(corpus, LayerK, s"l$l")
    }.mkString(",\n")
    val mirrors = (0 to layers).map { l =>
      s"""m$l AS (SELECT src, dst FROM l${l}edges
         |        UNION SELECT dst, src FROM l${l}edges)""".stripMargin
    }.mkString(",\n")
    val layeredHistTail =
      s"""deg AS (SELECT layer, src, COUNT(*) AS deg FROM alle GROUP BY 1, 2)
         |SELECT CAST(layer AS BIGINT) AS layer, CAST(deg AS BIGINT) AS deg,
         |  COUNT(*)::BIGINT AS n_srcs, MIN(src) AS min_src, MAX(src) AS max_src
         |FROM deg GROUP BY 1, 2""".stripMargin
    if (mode == "write" || mode == "delete") {
      val layerRows = (0 to layers).map(l =>
        s"  SELECT $l AS layer, src, dst FROM m$l")
        .mkString("\n  UNION ALL\n")
      // delete: the write oracle minus every edge touching the
      // deletion split (src OR dst — the mask strips both directions)
      val alle = if (mode == "delete")
        s"""alle0 AS (
           |$layerRows),
           |alle AS (
           |  SELECT layer, src, dst FROM alle0
           |  WHERE NOT (src % 16 = 3) AND NOT (dst % 16 = 3))""".stripMargin
      else
        s"""alle AS (
           |$layerRows)""".stripMargin
      return s"""WITH $chains,
         |$mirrors,
         |$alle,
         |$layeredHistTail""".stripMargin
    }
    if (mode == "compact") {
      // write + degree prune: per (layer, src) top-LayerK by exact
      // cosine over the mirrored write edges — compactKnnLayered's
      // exact retention rule
      val layerRows = (0 to layers).map(l =>
        s"  SELECT $l AS layer, src, dst FROM m$l")
        .mkString("\n  UNION ALL\n")
      return s"""WITH $chains,
         |$mirrors,
         |alle0 AS (
         |$layerRows),
         |resc AS (
         |  SELECT a.layer, a.src, a.dst,
         |    ${sqlDot("e1.emb", "e2.emb")} / (e1.nrm * e2.nrm) AS sim
         |  FROM (SELECT DISTINCT layer, src, dst FROM alle0) a
         |  JOIN l0e e1 ON a.src = e1.vec_id
         |  JOIN l0e e2 ON a.dst = e2.vec_id),
         |alle AS (
         |  SELECT layer, src, dst FROM (
         |    SELECT layer, src, dst,
         |      ROW_NUMBER() OVER (PARTITION BY layer, src
         |        ORDER BY sim DESC, dst ASC) AS rn
         |    FROM resc)
         |  WHERE rn <= $LayerK),
         |$layeredHistTail""".stripMargin
    }
    def scoreTop(inCte: String, outCte: String, keep: Int): String =
      s"""${outCte}x AS (
         |  SELECT i.q_id, i.node,
         |    ROW_NUMBER() OVER (PARTITION BY i.q_id
         |      ORDER BY ${sqlDot("q.q_emb", "n.emb")} / (q.q_nrm * n.nrm) DESC,
         |               i.node ASC) AS rn
         |  FROM $inCte i JOIN l0e n ON i.node = n.vec_id
         |               JOIN q ON i.q_id = q.q_id),
         |$outCte AS (SELECT q_id, node FROM ${outCte}x WHERE rn <= $keep)"""
        .stripMargin
    val descentSteps = (for { l <- (1 to layers).reverse; s <- 1 to lh }
      yield (l, s)).toList
    val descent = descentSteps.zipWithIndex.map { case ((l, s), idx) =>
      val i = idx + 1
      val keep = if (l == 1 && s == lh) math.max(GraphSeeds, GraphBeam)
        else GraphSeeds
      s"""d$i AS (
         |  SELECT q_id, node FROM c${i - 1}
         |  UNION SELECT c.q_id, m.dst AS node
         |        FROM c${i - 1} c JOIN m$l m ON c.node = m.src),
         |${scoreTop(s"d$i", s"c$i", keep)}""".stripMargin
    }.mkString(",\n")
    val nD = descentSteps.size
    val hopCtes = (1 to hops).map { h =>
      val src = if (h == 1) s"c$nD" else s"hf${h - 1}"
      val hop =
        s"""h$h AS (
           |  SELECT DISTINCT f.q_id, m.dst AS node
           |  FROM $src f JOIN m0 m ON f.node = m.src)""".stripMargin
      if (h < hops) hop + s",\n${scoreTop(s"h$h", s"hf$h", GraphBeam)}"
      else hop
    }.mkString(",\n")
    val visUnion = ((1 to nD).map(i => s"    UNION SELECT q_id, node FROM d$i")
      ++ (1 to hops).map(h => s"    UNION SELECT q_id, node FROM h$h"))
      .mkString("\n")
    val qCte = if (mode == "append")
      s"""q AS (SELECT vec_id AS q_id, embedding AS q_emb,
         |      ${sqlNrm("embedding")} AS q_nrm
         |      FROM embeddings WHERE $GraphAppendWhere)""".stripMargin
    else
      s"""q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm
         |      FROM l0e WHERE vec_id % $sqlServeMod = 0)""".stripMargin
    if (mode == "append") {
      // per-layer insert edges: top-LayerK layer-ℓ members among the
      // descent's scored candidates at that layer (layer 0: the full
      // gather), for queries whose md5 level reaches ℓ — the engine's
      // layeredInsertEdges, unrolled
      val newes = (0 to layers).map { l =>
        val candSql = if (l == 0) "SELECT q_id, node FROM vis"
          else {
            val steps = descentSteps.zipWithIndex
              .filter(_._1._1 == l).map(_._2 + 1)
            val un = steps.map(i => s"SELECT q_id, node FROM d$i")
              .mkString("\n      UNION ")
            s"""SELECT DISTINCT q_id, node FROM (
               |      $un) u
               |    WHERE ${sqlLayerPred(l, "u.node")} AND u.node != u.q_id"""
              .stripMargin
          }
        s"""ne${l}x AS (
           |  SELECT i.q_id, i.node,
           |    ROW_NUMBER() OVER (PARTITION BY i.q_id
           |      ORDER BY ${sqlDot("q.q_emb", "n.emb")} / (q.q_nrm * n.nrm) DESC,
           |               i.node ASC) AS rn
           |  FROM ($candSql) i
           |  JOIN l0e n ON i.node = n.vec_id
           |  JOIN q ON i.q_id = q.q_id),
           |newe$l AS (
           |  SELECT q_id AS src, node AS dst FROM ne${l}x
           |  WHERE rn <= $LayerK${if (l == 0) ""
             else s" AND ${sqlLayerPred(l, "q_id")}"})""".stripMargin
      }.mkString(",\n")
      val layerRows = (0 to layers).map(l =>
        s"""  SELECT $l AS layer, src, dst FROM m$l
           |  UNION ALL SELECT $l, src, dst FROM newe$l
           |  UNION ALL SELECT $l, dst AS src, src AS dst FROM newe$l"""
          .stripMargin).mkString("\n  UNION ALL\n")
      return s"""WITH $chains,
         |$qCte,
         |$mirrors,
         |ent AS (
         |  SELECT q.q_id, e.vec_id AS node
         |  FROM q, l0e e
         |  WHERE ${sqlLayerPred(layers, "e.vec_id")} OR e.vec_id < $LayerEntryK),
         |${scoreTop("ent", "c0", GraphSeeds)},
         |$descent,
         |$hopCtes,
         |vis AS (
         |  SELECT DISTINCT q_id, node FROM (
         |    SELECT q_id, node FROM ent
         |$visUnion)
         |  WHERE node != q_id),
         |$newes,
         |alle AS (
         |$layerRows),
         |$layeredHistTail""".stripMargin
    }
    s"""WITH $chains,
       |$qCte,
       |$mirrors,
       |ent AS (
       |  SELECT q.q_id, e.vec_id AS node
       |  FROM q, l0e e
       |  WHERE ${sqlLayerPred(layers, "e.vec_id")} OR e.vec_id < $LayerEntryK),
       |${scoreTop("ent", "c0", GraphSeeds)},
       |$descent,
       |$hopCtes,
       |vis AS (
       |  SELECT DISTINCT q_id, node FROM (
       |    SELECT q_id, node FROM ent
       |$visUnion)
       |  WHERE node != q_id),
       |gsc AS (
       |  SELECT v.q_id, v.node AS n_id,
       |    ${sqlDot("q.q_emb", "n.emb")} / (q.q_nrm * n.nrm) AS sim
       |  FROM vis v JOIN l0e n ON v.node = n.vec_id
       |            JOIN q ON v.q_id = q.q_id),
       |gr AS (
       |  SELECT q_id, n_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC)
       |      AS rank
       |  FROM gsc)${if (mode == "topk") "" else ","}
       |${if (mode == "filtered")
        // same unfiltered gather (vis/gsc), ranked over the
        // predicate-matching subset at the emit stage
        s"""gf AS (
           |  SELECT g.q_id, g.n_id, CAST(emb.label AS BIGINT) AS n_label,
           |    g.sim,
           |    ROW_NUMBER() OVER (PARTITION BY g.q_id
           |      ORDER BY g.sim DESC, g.n_id ASC) AS rank
           |  FROM gsc g JOIN embeddings emb ON g.n_id = emb.vec_id
           |  WHERE CAST(emb.label AS BIGINT) % $FilterLabelMod = 0)
           |SELECT q_id, n_id, n_label, CAST(rank AS BIGINT) AS rank,
           |  ROUND(sim, 6) AS sim
           |FROM gf WHERE rank <= 10""".stripMargin
      else if (mode == "recall")
        s"""gv AS (SELECT q_id, n_id FROM gr WHERE rank <= 10),
           |ex0 AS (
           |  SELECT q.q_id, c.vec_id AS n_id,
           |    ROW_NUMBER() OVER (PARTITION BY q.q_id
           |      ORDER BY ${sqlDot("q.q_emb", "c.emb")} / (q.q_nrm * c.nrm) DESC,
           |               c.vec_id ASC) AS rank
           |  FROM q JOIN l0e c ON q.q_id != c.vec_id),
           |ex AS (SELECT q_id, n_id FROM ex0 WHERE rank <= 10),
           |hits AS (SELECT x.q_id, COUNT(*) AS n_hit
           |  FROM ex x JOIN gv i ON x.q_id = i.q_id AND x.n_id = i.n_id
           |  GROUP BY 1),
           |nex AS (SELECT q_id, COUNT(*) AS n_exact FROM ex GROUP BY 1)
           |SELECT n.q_id, CAST(n.n_exact AS BIGINT) AS n_exact,
           |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           |  CAST(COALESCE(h.n_hit, 0) * 1000000 // GREATEST(n.n_exact, 1) AS BIGINT)
           |    AS recall_ppm
           |FROM nex n LEFT JOIN hits h ON n.q_id = h.q_id""".stripMargin
      else
        """SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, ROUND(sim, 6) AS sim
          |FROM gr WHERE rank <= 10""".stripMargin}""".stripMargin
  }

  /** The seed → (hop/beam)×[[GraphHops]] → gather CTE chain of the
    * graph search, over a caller-supplied `q AS (...)` query CTE —
    * shared by [[graphOracle]] and the append oracle (whose queries
    * are the NEW vectors, searched against the OLD corpus's chain).
    * Each hop expands the previous frontier (`seeds` for hop 1,
    * `beam(h−1)` after); every hop except the last narrows to the
    * per-query top-[[GraphBeam]] — the engine's loop, unrolled hop
    * for hop. Ends in `gr` (q_id, n_id, sim, rank). */
  private def graphGatherCtes(qCte: String, hops: Int = GraphHops): String = {
    val hopCtes = (1 to hops).map { h =>
      val src = if (h == 1) "seeds" else s"beam${h - 1}"
      val hop =
        s"""hop$h AS (
           |  SELECT DISTINCT s.q_id, ed.dst AS node
           |  FROM $src s JOIN edges ed ON s.node = ed.src)""".stripMargin
      val beamed = if (h < hops)
        s""",
           |b$h AS (
           |  SELECT h.q_id, h.node,
           |    ROW_NUMBER() OVER (PARTITION BY h.q_id
           |      ORDER BY ${sqlDot("q.q_emb", "n.emb")} / (q.q_nrm * n.nrm) DESC,
           |               h.node ASC) AS rn
           |  FROM hop$h h JOIN e n ON h.node = n.vec_id
           |             JOIN q ON h.q_id = q.q_id),
           |beam$h AS (SELECT q_id, node FROM b$h WHERE rn <= $GraphBeam)"""
          .stripMargin
      else ""
      hop + beamed
    }.mkString(",\n")
    val visUnion = (1 to hops)
      .map(h => s"    UNION ALL SELECT q_id, node FROM hop$h")
      .mkString("\n")
    s"""$qCte,
       |sd0 AS (
       |  SELECT q.q_id, c.cid AS node,
       |    ROW_NUMBER() OVER (PARTITION BY q.q_id
       |      ORDER BY ${sqlDot("q.q_emb", "c.c_emb")} / (q.q_nrm * c.c_nrm) DESC,
       |               c.cid ASC) AS rn
       |  FROM q, cent c),
       |seeds AS (SELECT q_id, node FROM sd0 WHERE rn <= $GraphSeeds),
       |$hopCtes,
       |vis AS (
       |  SELECT DISTINCT q_id, node FROM (
       |    SELECT q_id, node FROM seeds
       |$visUnion)
       |  WHERE node != q_id),
       |gsc AS (
       |  SELECT v.q_id, v.node AS n_id,
       |    ${sqlDot("q.q_emb", "n.emb")} / (q.q_nrm * n.nrm) AS sim
       |  FROM vis v JOIN e n ON v.node = n.vec_id
       |            JOIN q ON v.q_id = q.q_id),
       |gr AS (
       |  SELECT q_id, n_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC)
       |      AS rank
       |  FROM gsc)""".stripMargin
  }

  /** The emb_knn_graph derivation ending in an `edges` (src, dst) CTE
    * — the shared front end of the graph-serve oracles
    * ([[graphOracle]], serve_graph_index_write/append). `corpusSql`
    * parameterizes the indexed corpus (the append oracle indexes only
    * the pre-append rows; the auto-K scalar subquery tracks the same
    * relation so the entry count matches what writeKnn computed). */
  private def knnChainCtes(corpusSql: String = "embeddings",
      k: Int = KnnK, p: String = ""): String =
    s"""${p}e AS (
       |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
       |  FROM $corpusSql),
       |${p}cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm
       |         FROM ${p}e WHERE vec_id < ${sqlAutoKFrom(corpusSql)}),
       |${p}asg0 AS (
       |  SELECT e.vec_id, cent.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${sqlDot("e.emb", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
       |               cent.cid ASC) AS rn
       |  FROM ${p}e e, ${p}cent cent),
       |${p}asg AS (SELECT vec_id, cid FROM ${p}asg0 WHERE rn <= $KnnProbes),
       |${p}mem AS (
       |  SELECT vec_id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY cid
       |      ORDER BY ('0x' || substr(md5('knncap:' || vec_id::VARCHAR), 1, 15))::BIGINT
       |                 % ${TextOps.HashMod} ASC,
       |               vec_id ASC) AS mrn
       |  FROM ${p}asg),
       |${p}cand AS (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM ${p}asg a JOIN ${p}mem b
       |    ON a.cid = b.cid AND b.mrn <= $KnnCellCap AND a.vec_id != b.vec_id),
       |${p}sims AS (
       |  SELECT c.src, c.dst,
       |    ${sqlDot("e1.emb", "e2.emb")} / (e1.nrm * e2.nrm) AS sim
       |  FROM ${p}cand c JOIN ${p}e e1 ON c.src = e1.vec_id
       |              JOIN ${p}e e2 ON c.dst = e2.vec_id),
       |${p}edges AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rank
       |    FROM ${p}sims)
       |  WHERE rank <= $k)""".stripMargin

  /** DuckDB replay of [[knnLabelProp]]: the kNN-graph CTE chain (the
    * emb_knn_graph derivation, edges only) + `rounds` unrolled
    * propagation rounds (votes from the PREVIOUS round's labeled set,
    * majority (n DESC, label ASC), anti-join keeps seeds clamped). */
  private def labelPropOracle(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""v$r AS (
         |  SELECT ed.src, l.pred_label, COUNT(1) AS n
         |  FROM edges ed JOIN l${r - 1} l ON ed.dst = l.vec_id
         |  GROUP BY 1, 2),
         |n$r AS (
         |  SELECT src AS vec_id, pred_label, CAST($r AS BIGINT) AS round
         |  FROM (
         |    SELECT src, pred_label,
         |      ROW_NUMBER() OVER (PARTITION BY src
         |        ORDER BY n DESC, pred_label ASC) AS rn
         |    FROM v$r
         |    WHERE src NOT IN (SELECT vec_id FROM l${r - 1}))
         |  WHERE rn = 1),
         |l$r AS (SELECT * FROM l${r - 1} UNION ALL SELECT * FROM n$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ${knnChainCtes()},
       |l0 AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS pred_label, CAST(0 AS BIGINT) AS round
       |  FROM embeddings WHERE vec_id % $LpSeedMod = 0),
       |$roundCtes
       |SELECT vec_id, pred_label, round FROM l$rounds""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "emb_kmeans_fixed" -> kmeansFixedOracle(4, 3, OracleDim, 1000000L),
    "emb_outliers" -> kmeansFixedOracle(4, 3, OracleDim, 1000000L, "outliers"),
    "emb_rq_encode" -> rqOracle(8, 2, 8, 2, OracleDim, 1000000L),
    "sim_rq_topk" -> rqOracle(16, 2, 16, 2, OracleDim, 1000000L, "topk"),
    "sim_rq_recall" -> rqOracle(16, 2, 16, 2, OracleDim, 1000000L, "recall"),
    "sim_graph_topk" -> graphOracle("topk"),
    "sim_graph_recall" -> graphOracle("recall"),
    "sim_graph_layered_topk" -> graphLayeredOracle("topk"),
    "serve_graph_index_layered_write" -> graphLayeredOracle("write"),
    "sim_graph_layered_recall" -> graphLayeredOracle("recall"),
    "serve_graph_index_layered_append" -> graphLayeredOracle("append"),
    "serve_graph_index_layered_compact" -> graphLayeredOracle("compact"),
    "serve_graph_index_layered_delete" -> graphLayeredOracle("delete"),
    "sim_graph_layered_filtered_topk" -> graphLayeredOracle("filtered"),
    "sim_graph_filtered_topk" -> graphOracle("filtered"),
    // graph-artifact manifest: the oracle recomputes the edge table
    // from the parquet truth, so a write/load corruption (dropped
    // edges, drifted types, wrong bucket values) breaks the hash
    "serve_graph_index_write" ->
      s"""WITH ${knnChainCtes()},
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1)
         |SELECT CAST(deg AS BIGINT) AS deg, COUNT(*)::BIGINT AS n_srcs,
         |  MIN(src) AS min_src, MAX(src) AS max_src
         |FROM deg GROUP BY 1""".stripMargin,

    // graph compaction: the append oracle's edge universe (old chain +
    // unrolled insert search + back-edge union), deduped, rescored by
    // exact cosine over the FULL corpus's vectors (the node store
    // carries base + delta), per-src top-KnnK retention — the exact
    // rule compactKnn ships — then the degree histogram
    "serve_graph_index_compact" ->
      s"""WITH ${knnChainCtes(s"(SELECT * FROM embeddings WHERE NOT ($GraphAppendWhere))")},
         |${graphGatherCtes(
        s"""q AS (SELECT vec_id AS q_id, embedding AS q_emb,
           |       ${sqlNrm("embedding")} AS q_nrm
           |       FROM embeddings WHERE $GraphAppendWhere)""".stripMargin)},
         |newe AS (SELECT q_id AS src, n_id AS dst FROM gr WHERE rank <= $KnnK),
         |alle AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM edges
         |    UNION ALL SELECT src, dst FROM newe
         |    UNION ALL SELECT dst AS src, src AS dst FROM newe)),
         |ef AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM embeddings),
         |resc AS (
         |  SELECT a.src, a.dst,
         |    ${sqlDot("e1.emb", "e2.emb")} / (e1.nrm * e2.nrm) AS sim
         |  FROM alle a JOIN ef e1 ON a.src = e1.vec_id
         |              JOIN ef e2 ON a.dst = e2.vec_id),
         |kept AS (
         |  SELECT src, dst FROM (
         |    SELECT src, dst,
         |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk
         |    FROM resc)
         |  WHERE rk <= $KnnK),
         |deg AS (SELECT src, COUNT(*) AS deg FROM kept GROUP BY 1)
         |SELECT CAST(deg AS BIGINT) AS deg, COUNT(*)::BIGINT AS n_srcs,
         |  MIN(src) AS min_src, MAX(src) AS max_src
         |FROM deg GROUP BY 1""".stripMargin,

    // ANN compaction: row-content-identical by contract, so the
    // oracle is the full-corpus assignment under the base-frozen
    // first-K centroids (base build + frozen-centroid delta append),
    // rolled into the per-cell manifest
    "serve_ann_index_compact" ->
      s"""WITH base AS (SELECT * FROM embeddings WHERE NOT ($GraphAppendWhere)),
         |e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM base),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm
         |         FROM e WHERE vec_id < $IvfCentroids),
         |ef AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM embeddings),
         |asg0 AS (
         |  SELECT ef.vec_id, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY ef.vec_id
         |      ORDER BY ${sqlDot("ef.emb", "cent.c_emb")} / (ef.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM ef, cent)
         |SELECT cid, COUNT(1)::BIGINT AS n_vecs,
         |  MIN(vec_id) AS min_vec_id, MAX(vec_id) AS max_vec_id
         |FROM asg0 WHERE rn = 1 GROUP BY 1""".stripMargin,

    // ANN delete: assignment of truth-minus-deleted under the FULL
    // corpus's frozen first-K centroids (the structure-retained rule)
    "serve_ann_index_delete" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm
         |         FROM e WHERE vec_id < $IvfCentroids),
         |surv AS (SELECT * FROM e WHERE NOT ($GraphDeleteWhere)),
         |asg0 AS (
         |  SELECT surv.vec_id, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY surv.vec_id
         |      ORDER BY ${sqlDot("surv.emb", "cent.c_emb")} / (surv.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM surv, cent)
         |SELECT cid, COUNT(1)::BIGINT AS n_vecs,
         |  MIN(vec_id) AS min_vec_id, MAX(vec_id) AS max_vec_id
         |FROM asg0 WHERE rn = 1 GROUP BY 1""".stripMargin,

    // graph delete: the full build's edge table minus every edge
    // touching the deletion split (src OR dst — back-edges included)
    "serve_graph_index_delete" ->
      s"""WITH ${knnChainCtes()},
         |kept AS (
         |  SELECT src, dst FROM edges
         |  WHERE NOT (src % 16 = 3) AND NOT (dst % 16 = 3)),
         |deg AS (SELECT src, COUNT(*) AS deg FROM kept GROUP BY 1)
         |SELECT CAST(deg AS BIGINT) AS deg, COUNT(*)::BIGINT AS n_srcs,
         |  MIN(src) AS min_src, MAX(src) AS max_src
         |FROM deg GROUP BY 1""".stripMargin,

    // graph append: the OLD corpus's chain + the NEW vectors' graph
    // search (the NSW insert = serve at k=KnnK) + bidirectional edge
    // union + the same degree histogram over the appended table
    "serve_graph_index_append" ->
      s"""WITH ${knnChainCtes(s"(SELECT * FROM embeddings WHERE NOT ($GraphAppendWhere))")},
         |${graphGatherCtes(
        s"""q AS (SELECT vec_id AS q_id, embedding AS q_emb,
           |       ${sqlNrm("embedding")} AS q_nrm
           |       FROM embeddings WHERE $GraphAppendWhere)""".stripMargin)},
         |newe AS (SELECT q_id AS src, n_id AS dst FROM gr WHERE rank <= $KnnK),
         |alle AS (
         |  SELECT src, dst FROM edges
         |  UNION ALL SELECT src, dst FROM newe
         |  UNION ALL SELECT dst AS src, src AS dst FROM newe),
         |deg AS (SELECT src, COUNT(*) AS deg FROM alle GROUP BY 1)
         |SELECT CAST(deg AS BIGINT) AS deg, COUNT(*)::BIGINT AS n_srcs,
         |  MIN(src) AS min_src, MAX(src) AS max_src
         |FROM deg GROUP BY 1""".stripMargin,

    // recall audit: both sub-pipelines are the separately-oracled
    // derivations (brute-force + IVF), composed and intersected
    "sim_ivf_recall" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM embeddings),
         |ex0 AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlDot("q.emb", "c.emb")} / (q.nrm * c.nrm) DESC,
         |               c.vec_id ASC) AS rank
         |  FROM (SELECT * FROM e WHERE vec_id % $sqlServeMod = 0) q
         |  JOIN e c ON q.vec_id != c.vec_id),
         |ex AS (SELECT q_id, n_id FROM ex0 WHERE rank <= 10),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm
         |         FROM e WHERE vec_id < $IvfCentroids),
         |asg0 AS (
         |  SELECT e.vec_id AS n_id, e.emb AS n_emb, e.nrm AS n_nrm, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.emb", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM e, cent),
         |asg AS (SELECT n_id, n_emb, n_nrm, cid FROM asg0 WHERE rn = 1),
         |prb0 AS (
         |  SELECT q.vec_id AS q_id, q.emb AS q_emb, q.nrm AS q_nrm, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlDot("q.emb", "cent.c_emb")} / (q.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM (SELECT * FROM e WHERE vec_id % $sqlServeMod = 0) q, cent),
         |prb AS (SELECT q_id, q_emb, q_nrm, cid FROM prb0 WHERE rn <= $IvfProbe),
         |sims AS (
         |  SELECT prb.q_id, asg.n_id,
         |    ${sqlDot("prb.q_emb", "asg.n_emb")} / (prb.q_nrm * asg.n_nrm) AS sim
         |  FROM prb JOIN asg USING (cid)
         |  WHERE prb.q_id != asg.n_id),
         |iv AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC)
         |        AS rank
         |    FROM sims) WHERE rank <= 10),
         |hits AS (SELECT x.q_id, COUNT(*) AS n_hit
         |  FROM ex x JOIN iv i ON x.q_id = i.q_id AND x.n_id = i.n_id
         |  GROUP BY 1),
         |nex AS (SELECT q_id, COUNT(*) AS n_exact FROM ex GROUP BY 1)
         |SELECT n.q_id, CAST(n.n_exact AS BIGINT) AS n_exact,
         |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(COALESCE(h.n_hit, 0) * 1000000 // GREATEST(n.n_exact, 1) AS BIGINT)
         |    AS recall_ppm
         |FROM nex n LEFT JOIN hits h ON n.q_id = h.q_id""".stripMargin,

    // servingMrr: the sim_ivf_recall chains with ex cut to the top-1
    // truth and the IVF ranks kept; rr in exact integer ppm
    "sim_serving_mrr" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM embeddings),
         |ex0 AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlDot("q.emb", "c.emb")} / (q.nrm * c.nrm) DESC,
         |               c.vec_id ASC) AS rank
         |  FROM (SELECT * FROM e WHERE vec_id % $sqlServeMod = 0) q
         |  JOIN e c ON q.vec_id != c.vec_id),
         |tru AS (SELECT q_id, n_id AS true_nn FROM ex0 WHERE rank = 1),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm
         |         FROM e WHERE vec_id < $IvfCentroids),
         |asg0 AS (
         |  SELECT e.vec_id AS n_id, e.emb AS n_emb, e.nrm AS n_nrm, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.emb", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM e, cent),
         |asg AS (SELECT n_id, n_emb, n_nrm, cid FROM asg0 WHERE rn = 1),
         |prb0 AS (
         |  SELECT q.vec_id AS q_id, q.emb AS q_emb, q.nrm AS q_nrm, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlDot("q.emb", "cent.c_emb")} / (q.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM (SELECT * FROM e WHERE vec_id % $sqlServeMod = 0) q, cent),
         |prb AS (SELECT q_id, q_emb, q_nrm, cid FROM prb0 WHERE rn <= $IvfProbe),
         |sims AS (
         |  SELECT prb.q_id, asg.n_id,
         |    ${sqlDot("prb.q_emb", "asg.n_emb")} / (prb.q_nrm * asg.n_nrm) AS sim
         |  FROM prb JOIN asg USING (cid)
         |  WHERE prb.q_id != asg.n_id),
         |iv AS (
         |  SELECT q_id, n_id, rank FROM (
         |    SELECT q_id, n_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC)
         |        AS rank
         |    FROM sims) WHERE rank <= 10)
         |SELECT t.q_id, t.true_nn,
         |  CAST(COALESCE(i.rank, 0) AS BIGINT) AS nn_rank,
         |  CAST(CASE WHEN COALESCE(i.rank, 0) > 0
         |    THEN 1000000 // i.rank ELSE 0 END AS BIGINT) AS rr_ppm
         |FROM tru t
         |LEFT JOIN iv i ON t.q_id = i.q_id AND t.true_nn = i.n_id""".stripMargin,

    // servingNdcg: the recall-audit chains with binary relevance vs
    // the exhaustive top-10, integer l2m discounts (10^9 // l2m(r+1)),
    // IDCG the discount prefix-sum over the truth-set size
    "sim_serving_ndcg" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM embeddings),
         |ex0 AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlDot("q.emb", "c.emb")} / (q.nrm * c.nrm) DESC,
         |               c.vec_id ASC) AS rank
         |  FROM (SELECT * FROM e WHERE vec_id % $sqlServeMod = 0) q
         |  JOIN e c ON q.vec_id != c.vec_id),
         |tru AS (SELECT q_id, n_id AS t_id FROM ex0 WHERE rank <= 10),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm
         |         FROM e WHERE vec_id < $IvfCentroids),
         |asg0 AS (
         |  SELECT e.vec_id AS n_id, e.emb AS n_emb, e.nrm AS n_nrm, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.emb", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM e, cent),
         |asg AS (SELECT n_id, n_emb, n_nrm, cid FROM asg0 WHERE rn = 1),
         |prb0 AS (
         |  SELECT q.vec_id AS q_id, q.emb AS q_emb, q.nrm AS q_nrm, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlDot("q.emb", "cent.c_emb")} / (q.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM (SELECT * FROM e WHERE vec_id % $sqlServeMod = 0) q, cent),
         |prb AS (SELECT q_id, q_emb, q_nrm, cid FROM prb0 WHERE rn <= $IvfProbe),
         |sims AS (
         |  SELECT prb.q_id, asg.n_id,
         |    ${sqlDot("prb.q_emb", "asg.n_emb")} / (prb.q_nrm * asg.n_nrm) AS sim
         |  FROM prb JOIN asg USING (cid)
         |  WHERE prb.q_id != asg.n_id),
         |iv AS (
         |  SELECT q_id, n_id, rank FROM (
         |    SELECT q_id, n_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC)
         |        AS rank
         |    FROM sims) WHERE rank <= 10),
         |hit AS (
         |  SELECT i.q_id, CAST(COUNT(1) AS BIGINT) AS n_hit,
         |    CAST(SUM(1000000000 // ${TextOps.sqlL2M("(i.rank + 1)")})
         |      AS BIGINT) AS dcg_micro
         |  FROM iv i JOIN tru t ON i.q_id = t.q_id AND i.n_id = t.t_id
         |  GROUP BY 1),
         |nrel AS (SELECT q_id, CAST(COUNT(1) AS BIGINT) AS n_rel
         |         FROM tru GROUP BY 1),
         |idcg AS (
         |  SELECT n.q_id, CAST(SUM(1000000000 // ${TextOps.sqlL2M("(t.r + 1)")})
         |    AS BIGINT) AS idcg_micro
         |  FROM nrel n, unnest(range(1, n.n_rel + 1)) AS t(r)
         |  GROUP BY 1)
         |SELECT n.q_id, n.n_rel,
         |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(COALESCE(h.dcg_micro, 0) AS BIGINT) AS dcg_micro,
         |  g.idcg_micro,
         |  CAST((COALESCE(h.dcg_micro, 0) * 1000000)
         |    // GREATEST(g.idcg_micro, 1) AS BIGINT) AS ndcg_ppm
         |FROM nrel n
         |JOIN idcg g ON n.q_id = g.q_id
         |LEFT JOIN hit h ON n.q_id = h.q_id""".stripMargin,

    // adaptiveTopK: prefix-cosine shortlist (first MrlPrefixDim dims,
    // rn <= shortlist) then exact full-dim cosine rerank
    "sim_adaptive_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS e,
         |    ${sqlNrmN("embedding", MrlPrefixDim)} AS pn,
         |    ${sqlNrm("embedding")} AS fn
         |  FROM embeddings),
         |qq AS (SELECT * FROM e WHERE vec_id % $sqlServeMod = 0 AND pn > 0),
         |ps AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    ${sqlDotN("q.e", "c.e", MrlPrefixDim)} / (q.pn * c.pn) AS psim
         |  FROM qq q JOIN e c ON q.vec_id != c.vec_id
         |  WHERE c.pn > 0),
         |cand AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id
         |        ORDER BY psim DESC, n_id ASC) AS rn
         |    FROM ps) WHERE rn <= $PqShortlist),
         |rer AS (
         |  SELECT cd.q_id, cd.n_id,
         |    ${sqlDot("qe.e", "ne.e")} / (qe.fn * ne.fn) AS sim
         |  FROM cand cd
         |  JOIN e qe ON qe.vec_id = cd.q_id
         |  JOIN e ne ON ne.vec_id = cd.n_id
         |  WHERE qe.fn > 0 AND ne.fn > 0)
         |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, ROUND(sim, 6) AS sim
         |FROM (
         |  SELECT q_id, n_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY sim DESC, n_id ASC) AS rank
         |  FROM rer)
         |WHERE rank <= 10""".stripMargin,

    // mrlRecall: per prefix width, recall@10 of the prefix-cosine
    // ranking vs the exact full-dim top-10 (one arm per width)
    "sim_mrl_recall" -> {
      val dims = Seq(4, 8, 16, 32)
      val arms = dims.map { d =>
        s"""p$d AS (
           |  SELECT q_id, n_id FROM (
           |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${sqlDotN("q.e", "c.e", d)}
           |          / (${sqlNrmN("q.e", d)} * ${sqlNrmN("c.e", d)}) DESC,
           |                 c.vec_id ASC) AS rn
           |    FROM qq q JOIN e c ON q.vec_id != c.vec_id
           |    WHERE ${sqlNrmN("q.e", d)} > 0 AND ${sqlNrmN("c.e", d)} > 0)
           |  WHERE rn <= 10),
           |h$d AS (
           |  SELECT x.q_id, COUNT(*) AS n_hit
           |  FROM ex x JOIN p$d p ON x.q_id = p.q_id AND x.n_id = p.n_id
           |  GROUP BY 1),
           |a$d AS (
           |  SELECT n.q_id, CAST($d AS BIGINT) AS prefix_dim,
           |    CAST(n.n_exact AS BIGINT) AS n_exact,
           |    CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit
           |  FROM nex n LEFT JOIN h$d h ON n.q_id = h.q_id)""".stripMargin
      }.mkString(",\n")
      val unions = dims.map(d => s"SELECT * FROM a$d").mkString("\nUNION ALL\n")
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS e, ${sqlNrm("embedding")} AS fn
         |  FROM embeddings),
         |qq AS (SELECT * FROM e WHERE vec_id % $sqlServeMod = 0 AND fn > 0),
         |ex AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${sqlDot("q.e", "c.e")} / (q.fn * c.fn) DESC,
         |                 c.vec_id ASC) AS rank
         |    FROM qq q JOIN e c ON q.vec_id != c.vec_id
         |    WHERE c.fn > 0)
         |  WHERE rank <= 10),
         |nex AS (SELECT q_id, COUNT(*) AS n_exact FROM ex GROUP BY 1),
         |$arms
         |SELECT q_id, prefix_dim, n_exact, n_hit,
         |  CAST((n_hit * 1000000) // GREATEST(n_exact, 1) AS BIGINT) AS recall_ppm
         |FROM ($unions)""".stripMargin
    },
    "sim_pq_topk" -> pqOracle,

    // Independent replay of the SQ8 serving stack: quantize → integer
    // ADC (BIGINT fold, so the shortlist ranking is bit-exact by
    // construction) → exact-dot rerank. The quantize CTEs mirror
    // emb_quantize_int8's oracle verbatim; "recall" appends the
    // exhaustive-dot reference and the per-query ppm compare.
    "sim_sq_topk" -> sqOracle("topk"),
    "sim_sq_recall" -> sqOracle("recall"),
    "sim_bq_topk" -> bqOracle("topk"),
    "sim_bq_recall" -> bqOracle("recall"),

    // Verbatim replay of the k-step MMR greedy: candidate top-C +
    // pair matrix in micro-cosine ints, then one MATERIALIZED CTE per
    // greedy round (each round references the previous selection 2× —
    // unMATERIALIZED, DuckDB would inline the selection DAG
    // exponentially, the unigram-DP lesson).
    "sim_mmr_topk" -> mmrOracle(10, MmrCands),
    "emb_pca_power" -> pcaOracle(PcaRounds, OracleDim, PcaGramTarget),
    "emb_abtt" -> pcaOracle(PcaRounds, OracleDim, PcaGramTarget, "apply"),
    // top-D (D=2) trainer + apply: direction 1's chain verbatim, then
    // the HUGEINT Hotelling deflation and direction 2's rounds on the
    // deflated Gram (see pcaDeflateCtes)
    "emb_pca_topd" -> pcaOracle(PcaRounds, OracleDim, PcaGramTarget, "train_topd"),
    "emb_abtt_topd" -> pcaOracle(PcaRounds, OracleDim, PcaGramTarget, "apply_topd"),

    // Composition of the two separately-oracled rankings (the
    // dedup_cc_groups-over-dedup_lsh_pairs idiom): BM25 oracle text
    // reused verbatim as a subquery, cosine side the sim_topk shape
    // pinned to query 0, fused by integer-ppm RRF.
    "sim_hybrid_rrf" -> {
      val bm25Sql = TextOps.oracle("txt_bm25")
      s"""WITH bm AS (SELECT doc_id, score_u FROM ($bm25Sql)),
         |bmr AS (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY score_u DESC, doc_id ASC) AS rank_bm25
         |  FROM bm),
         |e AS (SELECT vec_id, embedding AS e FROM embeddings),
         |sims AS (
         |  SELECT b.vec_id AS n_id, $sqlCos AS sim
         |  FROM e a JOIN e b ON a.vec_id = 0 AND a.vec_id != b.vec_id),
         |vr AS (SELECT n_id AS doc_id, rank_vec FROM (
         |  SELECT n_id,
         |    ROW_NUMBER() OVER (ORDER BY sim DESC, n_id ASC) AS rank_vec
         |  FROM sims) WHERE rank_vec <= ${TextOps.Bm25TopK}),
         |f AS (
         |  SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
         |    CAST(b.rank_bm25 AS BIGINT) AS rank_bm25,
         |    CAST(v.rank_vec AS BIGINT) AS rank_vec
         |  FROM bmr b FULL OUTER JOIN vr v ON b.doc_id = v.doc_id),
         |s AS (
         |  SELECT doc_id, rank_bm25, rank_vec,
         |    COALESCE(1000000 // ($RrfK + rank_bm25), 0)
         |      + COALESCE(1000000 // ($RrfK + rank_vec), 0) AS rrf_ppm
         |  FROM f)
         |SELECT doc_id, rank_bm25, rank_vec, rrf_ppm, rank FROM (
         |  SELECT doc_id, rank_bm25, rank_vec, CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
         |    CAST(ROW_NUMBER() OVER (ORDER BY rrf_ppm DESC, doc_id ASC)
         |      AS BIGINT) AS rank
         |  FROM s)
         |WHERE rank <= ${TextOps.Bm25TopK}""".stripMargin
    },
    "sim_ivfpq_topk" -> ivfPqOracle,
    "emb_label_prop" -> labelPropOracle(LpRounds),

    "emb_hard_negatives" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm,
         |    CAST(label AS BIGINT) AS label
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm
         |         FROM e WHERE vec_id < $sqlAutoK),
         |asg0 AS (
         |  SELECT e.vec_id, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.emb", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM e, cent),
         |asg AS (SELECT vec_id, cid FROM asg0 WHERE rn <= $HnProbes),
         |mem AS (
         |  SELECT vec_id, cid,
         |    ROW_NUMBER() OVER (PARTITION BY cid
         |      ORDER BY ('0x' || substr(md5('knncap:' || vec_id::VARCHAR), 1, 15))::BIGINT
         |                 % ${TextOps.HashMod} ASC,
         |               vec_id ASC) AS mrn
         |  FROM asg),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS anchor, b.vec_id AS other
         |  FROM asg a JOIN mem b
         |    ON a.cid = b.cid AND b.mrn <= $KnnCellCap AND a.vec_id != b.vec_id
         |  WHERE a.vec_id % 20 = 0),
         |scored AS (
         |  SELECT c.anchor, c.other, e1.label AS l1, e2.label AS l2,
         |    ${sqlDot("e1.emb", "e2.emb")} / (e1.nrm * e2.nrm) AS sim
         |  FROM cand c JOIN e e1 ON c.anchor = e1.vec_id
         |              JOIN e e2 ON c.other = e2.vec_id),
         |pos AS (
         |  SELECT anchor, 'pos' AS role, other, sim,
         |    ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY sim DESC, other ASC) AS rank
         |  FROM scored WHERE l1 = l2),
         |neg AS (
         |  SELECT anchor, 'neg' AS role, other, sim,
         |    ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY sim DESC, other ASC) AS rank
         |  FROM scored WHERE l1 != l2)
         |SELECT anchor, role, other, CAST(rank AS BIGINT) AS rank, ROUND(sim, 6) AS sim
         |FROM (SELECT * FROM pos WHERE rank <= 1
         |      UNION ALL SELECT * FROM neg WHERE rank <= $HnNegK)""".stripMargin,

    "emb_knn_graph" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm
         |         FROM e WHERE vec_id < $sqlAutoK),
         |asg0 AS (
         |  SELECT e.vec_id, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.emb", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM e, cent),
         |asg AS (SELECT vec_id, cid FROM asg0 WHERE rn <= $KnnProbes),
         |mem AS (
         |  SELECT vec_id, cid,
         |    ROW_NUMBER() OVER (PARTITION BY cid
         |      ORDER BY ('0x' || substr(md5('knncap:' || vec_id::VARCHAR), 1, 15))::BIGINT
         |                 % ${TextOps.HashMod} ASC,
         |               vec_id ASC) AS mrn
         |  FROM asg),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
         |  FROM asg a JOIN mem b
         |    ON a.cid = b.cid AND b.mrn <= $KnnCellCap AND a.vec_id != b.vec_id),
         |sims AS (
         |  SELECT c.src, c.dst,
         |    ${sqlDot("e1.emb", "e2.emb")} / (e1.nrm * e2.nrm) AS sim
         |  FROM cand c JOIN e e1 ON c.src = e1.vec_id
         |              JOIN e e2 ON c.dst = e2.vec_id),
         |ranked AS (
         |  SELECT src, dst, sim,
         |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rank
         |  FROM sims)
         |SELECT src, dst, CAST(rank AS BIGINT) AS rank, ROUND(sim, 6) AS sim
         |FROM ranked WHERE rank <= $KnnK""".stripMargin,
    "emb_quantize_int8" ->
      """WITH base AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax,
        |    embedding
        |  FROM embeddings),
        |el AS (
        |  SELECT vec_id, amax,
        |    CASE WHEN amax > 0
        |      THEN CAST(round(x::DOUBLE / amax * 127) AS BIGINT)
        |      ELSE 0 END AS code
        |  FROM (SELECT vec_id, amax, unnest(embedding) AS x FROM base))
        |SELECT vec_id, CAST(round(amax * 1e6) AS BIGINT) AS amax_u,
        |  COUNT(1) AS n_dims,
        |  CAST(SUM(code) AS BIGINT) AS code_sum,
        |  MIN(code) AS code_min, MAX(code) AS code_max,
        |  CAST(SUM(abs(code)) AS BIGINT) AS code_l1
        |FROM el GROUP BY 1, 2""".stripMargin,

    "emb_label_centroid" ->
      """SELECT CAST(label AS BIGINT) AS label, i AS pos, COUNT(1) AS n,
        |  CAST(SUM(CAST(ROUND(embedding[i + 1]::DOUBLE * 1e6) AS BIGINT)) AS BIGINT) AS sum_u,
        |  CAST(SUM(CAST(ROUND(embedding[i + 1]::DOUBLE * 1e6) AS BIGINT)) AS DOUBLE)
        |    / 1e6 / COUNT(1)::DOUBLE AS mean_v
        |FROM (SELECT label, embedding,
        |        UNNEST(range(0, len(embedding))) AS i
        |      FROM embeddings)
        |GROUP BY 1, 2""".stripMargin,

    "sim_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding AS e FROM embeddings),
         |sims AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, $sqlCos AS sim
         |  FROM e a JOIN e b ON a.vec_id % $sqlServeMod = 0 AND a.vec_id != b.vec_id),
         |ranked AS (
         |  SELECT q_id, n_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
         |  FROM sims)
         |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, ROUND(sim, 6) AS sim
         |FROM ranked WHERE rank <= 10""".stripMargin,

    "sim_neardup_pairs" ->
      s"""WITH $neardupLshCtes
         |SELECT d1, d2, ROUND(sim, 6) AS sim FROM s WHERE sim >= $NdTau""".stripMargin,

    // LSH recall audit vs exhaustive pairs, banded by similarity: the
    // hyperplane scheme's recall is cos-dependent by construction —
    // this query MEASURES it in-engine (the sampled-corpus estimator a
    // production near-dup pipeline runs to size nBands)
    "sim_neardup_recall" ->
      s"""WITH ${neardupLshCtesFrom(
        s"(SELECT * FROM embeddings WHERE vec_id % " +
          s"(SELECT GREATEST(1, COUNT(*) // $NdAuditTarget) FROM embeddings) = 0)")},
         |found AS (SELECT d1, d2 FROM s WHERE sim >= $NdTau),
         |ex AS (
         |  SELECT a.vec_id AS d1, b.vec_id AS d2,
         |    ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS sim
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id
         |  WHERE a.nrm * b.nrm > 0),
         |expairs AS (SELECT d1, d2, sim FROM ex WHERE sim >= $NdTau),
         |j AS (
         |  SELECT x.sim, CASE WHEN f.d1 IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM expairs x LEFT JOIN found f ON x.d1 = f.d1 AND x.d2 = f.d2)
         |SELECT CASE WHEN ROUND(sim, 6) >= 0.98 THEN 'hi' ELSE 'lo' END AS band,
         |  COUNT(*)::BIGINT AS n_exact,
         |  CAST(SUM(hit) AS BIGINT) AS n_found,
         |  CAST(SUM(hit) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
         |FROM j GROUP BY 1""".stripMargin,

    // shardPlan: the committed IVF assignment CTEs to cell sizes,
    // then pure rank arithmetic — serpentine stripe + per-shard load
    "serve_shard_plan" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm FROM e WHERE vec_id < $IvfCentroids),
         |asg0 AS (
         |  SELECT e.vec_id, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.emb", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM e, cent),
         |sizes AS (
         |  SELECT cid, COUNT(1)::BIGINT AS n_vecs
         |  FROM asg0 WHERE rn = 1 GROUP BY 1),
         |rk AS (
         |  SELECT cid, n_vecs,
         |    CAST(ROW_NUMBER() OVER (ORDER BY n_vecs DESC, cid ASC)
         |      AS BIGINT) AS cell_rank
         |  FROM sizes),
         |sp AS (
         |  SELECT *, CAST(CASE WHEN ((cell_rank - 1) // $ServeShards) % 2 = 0
         |    THEN (cell_rank - 1) % $ServeShards
         |    ELSE ${ServeShards - 1} - (cell_rank - 1) % $ServeShards END
         |    AS INT) AS shard
         |  FROM rk)
         |SELECT cid, n_vecs, cell_rank, shard,
         |  CAST(SUM(n_vecs) OVER (PARTITION BY shard) AS BIGINT)
         |    AS shard_load
         |FROM sp""".stripMargin,

    // queryRouter: the committed IVF assignment/probe CTE conventions,
    // rolled to cell sizes + per-query probe ranking + running cost
    "serve_query_router" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm FROM e WHERE vec_id < $IvfCentroids),
         |asg0 AS (
         |  SELECT e.vec_id, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.emb", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM e, cent),
         |sizes AS (
         |  SELECT cid, COUNT(1)::BIGINT AS cell_n_vecs
         |  FROM asg0 WHERE rn = 1 GROUP BY 1),
         |prb0 AS (
         |  SELECT q.vec_id AS q_id, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlDot("q.emb", "cent.c_emb")} / (q.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM (SELECT * FROM e WHERE vec_id % $sqlServeMod = 0) q, cent),
         |prb AS (SELECT q_id, cid, rn FROM prb0 WHERE rn <= $IvfProbe)
         |SELECT q_id, CAST(rn AS BIGINT) AS probe_rank, cid, cell_n_vecs,
         |  CAST(SUM(cell_n_vecs) OVER (PARTITION BY q_id ORDER BY rn)
         |    AS BIGINT) AS cum_candidates
         |FROM prb JOIN sizes USING (cid)""".stripMargin,

    // radiusSearch: the IVF candidate CTEs with the integer-micro tau
    // predicate instead of the per-query rank
    "sim_radius_search" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm FROM e WHERE vec_id < $IvfCentroids),
         |asg0 AS (
         |  SELECT e.vec_id AS n_id, e.emb AS n_emb, e.nrm AS n_nrm, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.emb", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM e, cent),
         |asg AS (SELECT n_id, n_emb, n_nrm, cid FROM asg0 WHERE rn = 1),
         |prb0 AS (
         |  SELECT q.vec_id AS q_id, q.emb AS q_emb, q.nrm AS q_nrm, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlDot("q.emb", "cent.c_emb")} / (q.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM (SELECT * FROM e WHERE vec_id % $sqlServeMod = 0) q, cent),
         |prb AS (SELECT q_id, q_emb, q_nrm, cid FROM prb0 WHERE rn <= $IvfProbe)
         |SELECT prb.q_id, asg.n_id,
         |  CAST(ROUND(${sqlDot("prb.q_emb", "asg.n_emb")}
         |    / (prb.q_nrm * asg.n_nrm) * 1000000) AS BIGINT) AS sim_u
         |FROM prb JOIN asg USING (cid)
         |WHERE prb.q_id != asg.n_id
         |  AND CAST(ROUND(${sqlDot("prb.q_emb", "asg.n_emb")}
         |    / (prb.q_nrm * asg.n_nrm) * 1000000) AS BIGINT) >= $RadiusTauU""".stripMargin,

    "sim_ivf_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm FROM e WHERE vec_id < $IvfCentroids),
         |asg0 AS (
         |  SELECT e.vec_id AS n_id, e.emb AS n_emb, e.nrm AS n_nrm, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.emb", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM e, cent),
         |asg AS (SELECT n_id, n_emb, n_nrm, cid FROM asg0 WHERE rn = 1),
         |prb0 AS (
         |  SELECT q.vec_id AS q_id, q.emb AS q_emb, q.nrm AS q_nrm, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlDot("q.emb", "cent.c_emb")} / (q.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM (SELECT * FROM e WHERE vec_id % $sqlServeMod = 0) q, cent),
         |prb AS (SELECT q_id, q_emb, q_nrm, cid FROM prb0 WHERE rn <= $IvfProbe),
         |sims AS (
         |  SELECT prb.q_id, asg.n_id,
         |    ${sqlDot("prb.q_emb", "asg.n_emb")} / (prb.q_nrm * asg.n_nrm) AS sim
         |  FROM prb JOIN asg USING (cid)
         |  WHERE prb.q_id != asg.n_id),
         |ranked AS (
         |  SELECT q_id, n_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
         |  FROM sims)
         |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, ROUND(sim, 6) AS sim
         |FROM ranked WHERE rank <= 10""".stripMargin,

    // filtered search: the ivf chain with the label DENORMALIZED onto
    // the assignment and pre-filtered before the ranking
    "sim_filtered_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm,
         |    CAST(label AS BIGINT) AS n_label
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm FROM e WHERE vec_id < $IvfCentroids),
         |asg0 AS (
         |  SELECT e.vec_id AS n_id, e.emb AS n_emb, e.nrm AS n_nrm,
         |    e.n_label, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.emb", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM e, cent),
         |asg AS (SELECT n_id, n_emb, n_nrm, n_label, cid FROM asg0
         |        WHERE rn = 1 AND n_label % $FilterLabelMod = 0),
         |prb0 AS (
         |  SELECT q.vec_id AS q_id, q.emb AS q_emb, q.nrm AS q_nrm, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlDot("q.emb", "cent.c_emb")} / (q.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM (SELECT * FROM e WHERE vec_id % $sqlServeMod = 0) q, cent),
         |prb AS (SELECT q_id, q_emb, q_nrm, cid FROM prb0 WHERE rn <= $IvfProbe),
         |sims AS (
         |  SELECT prb.q_id, asg.n_id, asg.n_label,
         |    ${sqlDot("prb.q_emb", "asg.n_emb")} / (prb.q_nrm * asg.n_nrm) AS sim
         |  FROM prb JOIN asg USING (cid)
         |  WHERE prb.q_id != asg.n_id),
         |ranked AS (
         |  SELECT q_id, n_id, n_label, sim,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
         |  FROM sims)
         |SELECT q_id, n_id, n_label, CAST(rank AS BIGINT) AS rank,
         |  ROUND(sim, 6) AS sim
         |FROM ranked WHERE rank <= 10""".stripMargin,

    "emb_semdedup" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm FROM e WHERE vec_id < $sqlAutoK),
         |asg0 AS (
         |  SELECT e.vec_id, e.emb, e.nrm, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.emb", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM e, cent),
         |asg AS (SELECT vec_id, emb, nrm, cid FROM asg0 WHERE rn = 1),
         |sen AS (
         |  SELECT vec_id, emb, nrm, cid,
         |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id ASC) AS srn
         |  FROM asg),
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM sen a JOIN asg b
         |    ON a.cid = b.cid AND a.srn <= $SemCellCap AND a.vec_id < b.vec_id
         |  WHERE ${sqlDot("a.emb", "b.emb")} / (a.nrm * b.nrm) >= $SemTau)
         |SELECT asg.vec_id, asg.cid,
         |  (dropped.vec_id IS NULL) AS kept
         |FROM asg LEFT JOIN dropped ON asg.vec_id = dropped.vec_id""".stripMargin,

    // clusterCap: the semDedup assignment CTEs + the salted-hash
    // per-cell ranking window (deterministic unbiased cell sample)
    "mix_cluster_cap" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm FROM e WHERE vec_id < $sqlAutoK),
         |asg0 AS (
         |  SELECT e.vec_id, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.emb", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM e, cent),
         |asg AS (SELECT vec_id, cid FROM asg0 WHERE rn = 1),
         |hh AS (
         |  SELECT vec_id, cid,
         |    ('0x' || substr(md5('ccap:' || vec_id), 1, 15))::BIGINT
         |      % ${TextOps.HashMod} AS h
         |  FROM asg)
         |SELECT vec_id, cid, CAST(rk AS BIGINT) AS cell_rank,
         |  rk <= $ClusterCapN AS kept
         |FROM (SELECT vec_id, cid,
         |        ROW_NUMBER() OVER (PARTITION BY cid ORDER BY h ASC, vec_id ASC) AS rk
         |      FROM hh)""".stripMargin,

    // semDedupRecall: the semDedup assignment/pair CTEs on the
    // count-driven audit subsample, joined against the exhaustive
    // cos >= tau truth, banded like sim_neardup_recall
    "emb_semdedup_recall" ->
      s"""WITH sub AS (
         |  SELECT * FROM embeddings WHERE vec_id %
         |    (SELECT GREATEST(1, COUNT(*) // $NdAuditTarget) FROM embeddings) = 0),
         |e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM sub),
         |kk AS (
         |  SELECT GREATEST($MinCentroids, LEAST(
         |    CAST(CEIL(COUNT(*) / 32.0) AS BIGINT),
         |    8 * (1::BIGINT << (length(bin(COUNT(*))) >> 1)))) AS k
         |  FROM sub),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm
         |         FROM e, kk WHERE vec_id < kk.k),
         |asg0 AS (
         |  SELECT e.vec_id, e.emb, e.nrm, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.emb", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM e, cent),
         |asg AS (SELECT vec_id, emb, nrm, cid FROM asg0 WHERE rn = 1),
         |found AS (
         |  SELECT a.vec_id AS f1, b.vec_id AS f2
         |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE ${sqlDot("a.emb", "b.emb")} / (a.nrm * b.nrm) >= $SemTau),
         |ex AS (
         |  SELECT a.vec_id AS d1, b.vec_id AS d2,
         |    ${sqlDot("a.emb", "b.emb")} / (a.nrm * b.nrm) AS sim
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id
         |  WHERE a.nrm * b.nrm > 0),
         |expairs AS (SELECT d1, d2, sim FROM ex WHERE sim >= $SemTau),
         |j AS (
         |  SELECT x.sim, CASE WHEN f.f1 IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM expairs x LEFT JOIN found f ON x.d1 = f.f1 AND x.d2 = f.f2)
         |SELECT CASE WHEN ROUND(sim, 6) >= 0.98 THEN 'hi' ELSE 'lo' END AS band,
         |  COUNT(*)::BIGINT AS n_exact,
         |  CAST(SUM(hit) AS BIGINT) AS n_found,
         |  CAST(SUM(hit) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
         |FROM j GROUP BY 1""".stripMargin,

    // indexAppend: base-trained cells (count-driven K over the BASE),
    // the new batch assigned against the frozen centroid table, delta
    // manifest via full outer join
    "serve_index_append" ->
      s"""WITH base AS (SELECT * FROM embeddings WHERE NOT (vec_id % 8 = 7)),
         |e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM base),
         |kk AS (
         |  SELECT GREATEST($MinCentroids, LEAST(
         |    CAST(CEIL(COUNT(*) / 32.0) AS BIGINT),
         |    8 * (1::BIGINT << (length(bin(COUNT(*))) >> 1)))) AS k
         |  FROM base),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm
         |         FROM e, kk WHERE vec_id < kk.k),
         |asgb0 AS (
         |  SELECT e.vec_id, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.emb", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM e, cent),
         |asgb AS (SELECT vec_id, cid FROM asgb0 WHERE rn = 1),
         |nn AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM embeddings WHERE vec_id % 8 = 7),
         |asgn0 AS (
         |  SELECT nn.vec_id, cent.cid,
         |    ${sqlDot("nn.emb", "cent.c_emb")} / (nn.nrm * cent.c_nrm) AS sim,
         |    ROW_NUMBER() OVER (PARTITION BY nn.vec_id
         |      ORDER BY ${sqlDot("nn.emb", "cent.c_emb")} / (nn.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM nn, cent),
         |asgn AS (
         |  SELECT vec_id, cid, CAST(round(sim * 1e6) AS BIGINT) AS sim_u
         |  FROM asgn0 WHERE rn = 1),
         |b AS (SELECT cid, COUNT(1)::BIGINT AS n_base FROM asgb GROUP BY 1),
         |n AS (SELECT cid, COUNT(1)::BIGINT AS n_new,
         |        CAST(SUM(sim_u) AS BIGINT) AS s FROM asgn GROUP BY 1)
         |SELECT COALESCE(b.cid, n.cid) AS cid,
         |  COALESCE(b.n_base, 0) AS n_base,
         |  COALESCE(n.n_new, 0) AS n_new,
         |  COALESCE(n.s, 0) AS new_sim_sum_u
         |FROM b FULL OUTER JOIN n ON b.cid = n.cid""".stripMargin,

    // the physical-index manifest: the IVF-convention (first-K,
    // K = IvfCentroids) max-cosine assignment recomputed from the
    // parquet truth, rolled up per cell — what the engine reads back
    // from the written artifact must equal this
    "serve_index_write" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm FROM e WHERE vec_id < $IvfCentroids),
         |asg0 AS (
         |  SELECT e.vec_id, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.emb", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM e, cent)
         |SELECT cid, COUNT(1)::BIGINT AS n_vecs,
         |  MIN(vec_id) AS min_vec_id, MAX(vec_id) AS max_vec_id
         |FROM asg0 WHERE rn = 1 GROUP BY 1""".stripMargin,

    // indexBuild: the semDedup assignment CTEs composed with the
    // emb_quantize_int8 code derivation, rolled up per cell
    "serve_index_build" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding AS emb, ${sqlNrm("embedding")} AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm FROM e WHERE vec_id < $sqlAutoK),
         |asg0 AS (
         |  SELECT e.vec_id, cent.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.emb", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
         |               cent.cid ASC) AS rn
         |  FROM e, cent),
         |asg AS (SELECT vec_id, cid FROM asg0 WHERE rn = 1),
         |base AS (
         |  SELECT vec_id,
         |    embedding,
         |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
         |  FROM embeddings),
         |codes AS (
         |  SELECT vec_id, CAST(round(amax * 1e6) AS BIGINT) AS amax_u,
         |    CASE WHEN amax > 0
         |      THEN list_transform(embedding,
         |        x -> CAST(round(x::DOUBLE / amax * 127) AS BIGINT))
         |      ELSE list_transform(embedding, x -> 0::BIGINT) END AS c
         |  FROM base),
         |cl AS (
         |  SELECT vec_id, amax_u,
         |    list_reduce(list_prepend(0::BIGINT,
         |      list_transform(c, x -> abs(x))), (u, v) -> u + v) AS code_l1
         |  FROM codes)
         |SELECT asg.cid, COUNT(1)::BIGINT AS n_vecs,
         |  MIN(asg.vec_id) AS min_vec_id, MAX(asg.vec_id) AS max_vec_id,
         |  CAST(SUM(cl.amax_u) AS BIGINT) AS sum_amax_u,
         |  CAST(SUM(cl.code_l1) AS BIGINT) AS sum_code_l1
         |FROM asg JOIN cl ON asg.vec_id = cl.vec_id
         |GROUP BY 1""".stripMargin,

    "sim_lsh_buckets_hashed" -> {
      // weight literals precomputed with the same md5 derivation
      val planes = (0 until 8).map { i =>
        val ws = (0 until 64).map(j => s"${hashedPlaneWeight(i, j)}.0").mkString(",")
        s"""CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
           |    list_transform(list_zip(embedding, [$ws]), s ->
           |      s[1]::DOUBLE * s[2])), (x,y) -> x+y) > 0 THEN ${1L << i} ELSE 0 END"""
          .stripMargin
      }
      s"""SELECT vec_id, CAST(label AS BIGINT) AS label,
         |  CAST(${planes.mkString(" + ")} AS BIGINT) AS bucket
         |FROM embeddings""".stripMargin
    },

    "sim_lsh_buckets" ->
      s"""SELECT vec_id, CAST(label AS BIGINT) AS label,
         |  CAST(${(0 until 8).map(i =>
             s"""CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
                |    list_transform(list_zip(embedding, range(0, len(embedding))), s ->
                |      s[1]::DOUBLE * (((31*$i + 17*s[2] + 7) % 2001) - 1000)::DOUBLE)),
                |    (x,y) -> x+y) > 0 THEN ${1L << i} ELSE 0 END""".stripMargin)
             .mkString(" + ")} AS BIGINT) AS bucket
         |FROM embeddings""".stripMargin
  )
}
