package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/** Session-extension entry point: registers every custom Catalyst
  * expression as a SQL function, so
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * spark.sql("SELECT vec_dot(a.embedding, b.embedding) ...")
  * }}}
  *
  * works with no Scala imports — the custom kernels (geodesic GRS80,
  * vector dot, shingle/minhash, merge intersect) become part of the
  * SQL surface on every session of the application, including pure-SQL
  * clients (thriftserver, notebooks).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // auto-rewrite naive geodesic theta-joins into grid-cell equi-joins
    ext.injectOptimizerRule(_ => graft.plans.GeodesicJoinRule)
    // ... and naive vector-similarity theta-joins (vec_sqdist <= t /
    // vec_cos_sim >= tau) into the embedding-space grid equi-join
    ext.injectOptimizerRule(_ => graft.plans.VecSimJoinRule)
    // lower AsofJoinNode to the native streaming-merge physical operator
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)

    def info(name: String, usage: String) =
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

    def inject(name: String, usage: String)(builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))

    // static-shape params (loop bounds baked into generated code) must
    // be foldable integer literals at resolution time
    def intLit(e: Expression, what: String): Int = e match {
      case lit: org.apache.spark.sql.catalyst.expressions.Literal
          if lit.dataType == org.apache.spark.sql.types.IntegerType =>
        lit.value.asInstanceOf[Int]
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }

    inject("st_geodesic_distance",
      "st_geodesic_distance(lon1, lat1, lon2, lat2) - GRS80 inverse distance in meters") {
      e => GeodesicDistance(e)
    }
    inject("st_azimuth",
      "st_azimuth(lon1, lat1, lon2, lat2) - forward azimuth deg (-180, 180]") {
      e => GeodesicAzimuth(e)
    }
    inject("bearing_diff",
      "bearing_diff(b1, b2) - min(|d|, 360-|d|), no antiparallel folding") {
      e => BearingDiff(e(0), e(1))
    }
    inject("st_geodesic_length",
      "st_geodesic_length(array<struct<lon,lat>>) - polyline length in meters") {
      e => GeodesicPolylineLength(e.head)
    }
    inject("vec_dot",
      "vec_dot(array<float>, array<float>) - sequential double-precision dot product") {
      e => VecDot(e(0), e(1))
    }
    inject("vec_sqdist",
      "vec_sqdist(array<float>, array<float>) - squared Euclidean distance, " +
        "shorter vector zero-padded; joins on vec_sqdist(a,b) <= t auto-rewrite " +
        "to a grid equi-join (VecSimJoinRule)") {
      e => VecSqdist(e(0), e(1))
    }
    inject("vec_cos_sim",
      "vec_cos_sim(array<float>, array<float>) - cosine similarity (NaN on zero " +
        "norms); joins on vec_cos_sim(a,b) >= tau auto-rewrite to a grid " +
        "equi-join (VecSimJoinRule)") {
      e => VecCosSim(e(0), e(1))
    }
    inject("pq_encode",
      "pq_encode(array<float>, array<array<float>>, nSubs, nCodes) - PQ codeword " +
        "indices (argmin L2 per subspace; codebook flat, subspace-major)") {
      e => PqEncode(e(0), e(1), intLit(e(2), "pq_encode nSubs"),
        intLit(e(3), "pq_encode nCodes"))
    }
    inject("pq_adc",
      "pq_adc(array<float>, array<int>, array<array<float>>, nSubs, nCodes) - " +
        "asymmetric PQ distance of a query against a coded row") {
      e => PqAdc(e(0), e(1), e(2), intLit(e(3), "pq_adc nSubs"),
        intLit(e(4), "pq_adc nCodes"))
    }
    inject("shingle_hashes",
      "shingle_hashes(text) - sorted distinct word-3-gram hashes in [0, 1e9+7)") {
      e => ShingleHashes(e.head)
    }
    inject("feature_counts",
      "feature_counts(text, nFeatures) - dense hashed-unigram count vector " +
        "of length nFeatures+1 (bias slot last)") {
      e => FeatureCounts(e(0), intLit(e(1), "feature_counts nFeatures"))
    }
    inject("entropy_stats",
      "entropy_stats(text) - [n_tokens, n_distinct, ent_mbits]: one-pass " +
        "token-distribution Shannon entropy in exact milli-bits (NULL on " +
        "empty/NULL text)") {
      e => EntropyStats(e.head)
    }
    inject("minhash_sig",
      "minhash_sig(text) - 4-lane minhash signature of the word-3-gram set") {
      e => MinHashSig(e.head, graft.ops.DedupOps.A, graft.ops.DedupOps.B)
    }
    inject("sorted_inter_count",
      "sorted_inter_count(a, b) - |a intersect b| for two ascending long arrays") {
      e => SortedInterCount(e(0), e(1))
    }
    inject("simhash60",
      "simhash60(text) - 60-bit SimHash of the token multiset (md5 token hashes)") {
      e => SimHash60(e.head)
    }
  }
}

object GraftExtensions {

  /** Registers `f` as the SQL function `name` in `spark` unless a
    * function of that name exists there, which is never replaced: for
    * typed aggregates the extension cannot inject. */
  def registerIfAbsent(spark: org.apache.spark.sql.SparkSession, name: String,
      f: org.apache.spark.sql.expressions.UserDefinedFunction): Unit = synchronized {
    if (!spark.catalog.functionExists(name)) spark.udf.register(name, f)
  }

  /** Appends `strategy` to the session's planner strategies unless it
    * is there already: for sessions launched without
    * `spark.sql.extensions=graft.GraftExtensions`, which injects it. */
  def strategyIfAbsent(spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = synchronized {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val cur = s.experimental.extraStrategies
    if (!cur.contains(strategy)) s.experimental.extraStrategies = cur :+ strategy
  }
}
