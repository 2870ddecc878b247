package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Physical-plan fingerprinting for the bench/audit artifacts.
  *
  * A per-round bench timing alone can't distinguish "this query got
  * slower because the machine was loaded" from "an edit changed the
  * plan" — so every benched query also reports a fingerprint of the
  * plan Spark chose: a hash of the canonicalized physical plan
  * (expr-ids normalized, so it's stable across sessions), the exchange
  * count (each one is a cluster-wide shuffle or broadcast at 100 TB),
  * and a scan summary (scan count, pushed-filter count, total columns
  * read). Two rounds with equal fingerprints and different timings =
  * machine noise; a fingerprint diff = a real plan change to explain.
  */
object PlanFingerprint {

  /** @param hash     12-hex md5 of the masked pre-AQE physical plan text
    * @param exchanges  shuffle + broadcast exchange nodes in the plan
    * @param scans      leaf scan nodes
    * @param pushedFilters  filters pushed into file scans (sum)
    * @param readCols   columns actually read across file scans (sum) */
  final case class Fp(hash: String, exchanges: Int, scans: Int,
      pushedFilters: Int, readCols: Int) {
    /** Compact single-token rendering for the bench JSON. */
    def render: String = s"$hash:x$exchanges:s$scans:pf$pushedFilters:rc$readCols"
  }

  /** Fingerprints the query WITHOUT executing it. Uses the AQE
    * INITIAL plan (post-EnsureRequirements, so exchanges are present)
    * rather than `sparkPlan` (no exchanges inserted yet) or the
    * AQE-finalized plan (depends on runtime metrics and only exists
    * after execution) — the initial plan is fully determined by
    * code + statistics, i.e. reproducible across rounds. */
  def of(df: DataFrame): Fp = {
    val plan = initialPlan(df)
    val canon = canonText(plan)
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val hash = md5.digest(canon.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val exchanges = plan.collect { case e: Exchange => e }.size
    val leaves = plan.collectLeaves()
    val fileScans = plan.collect { case f: FileSourceScanExec => f }
    val pushed = fileScans.map { f =>
      f.metadata.get("PushedFilters") match {
        case Some(s) if s != "[]" => s.count(_ == ',') + 1
        case _ => 0
      }
    }.sum
    val readCols = fileScans.map(_.requiredSchema.size).sum
    Fp(hash, exchanges, leaves.size, pushed, readCols)
  }

  /** The pre-AQE plan whose text gets fingerprinted. */
  def initialPlan(df: DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }

  /** Masked fingerprint text for `df` — what [[of]] hashes. */
  def textOf(df: DataFrame): String = canonText(initialPlan(df))

  /** The masked plan text that gets hashed.
    *
    * Hashes the plan's OWN toString, NOT `plan.canonicalized.toString`:
    * canonicalization reorders commutative comparisons by expression
    * hashCode (`Canonicalize.expressionReorder`), and expression
    * hashCodes include `ExprId.jvmId` — a RANDOM per-JVM UUID. A
    * predicate containing a scalar subquery therefore rendered as
    * `(subquery < a)` in one JVM and `(a > subquery)` in another,
    * flipping the hash between bench runs with zero plan change (the
    * round-5 q15/q17/q19/subquery_above_avg instability). The raw plan
    * text is deterministic optimizer output; session-varying tokens in
    * it are masked instead: (a) the session-global plan_id counter
    * ("[plan_id=175]"); (b) typed-lambda identities
    * ("$Lambda$3667/0x00007fb6...@71bb6009") — JVM memory addresses;
    * (c) exprIds and subquery/exchange tags ("l_orderkey#123",
    * "scalar-subquery#123", "[id=#45]") — session counters. Exposed
    * (not inlined in [[of]]) so the stability spec can diff the exact
    * hashed bytes when a mask class is missing.
    */
  def canonText(plan: org.apache.spark.sql.execution.SparkPlan): String =
    mask(plan.toString)

  /** The shared mask chain, applied to both the hashed plan text and
    * the committed fixture rendering (PlanDump). */
  def mask(text: String): String =
    text
      .replaceAll("plan_id=\\d+", "plan_id=*")
      .replaceAll("\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$Lambda\\$*")
      // Java identity hashes (Integer.toHexString) are 1-8 hex chars —
      // a {6,} floor let a 5-char hash (~3 % of objects) through and
      // flaked the fixture compare on aggregator toStrings
      .replaceAll("@[0-9a-f]{1,8}\\b", "@*")
      .replaceAll("#\\d+", "#*")
      // iterative ops (CC) embed localCheckpoint'd RDD ids (session
      // counters) and call-site line numbers (churn on unrelated edits)
      .replaceAll("RDD\\[\\d+\\]", "RDD[*]")
      .replaceAll("\\.scala:\\d+", ".scala:*")
      // higher-order-function lambda variables are numbered by a
      // session-global counter ("lambda x_7") — same plan, different
      // names depending on everything that ran before it in the JVM
      .replaceAll("lambda x_\\d+", "lambda x_*")
      // zip_with's second lambda variable gets the same session-global
      // counter treatment under the name y_N
      .replaceAll("lambda y_\\d+", "lambda y_*")
      // layout operators write scratch tables under java.io.tmpdir with
      // a per-JVM run tag (see LayoutOps.runTag): both the absolute
      // location and the tag are machine/run-specific, not plan shape
      .replaceAll("file:[^\\s,()\\[\\]]*?/graft_(buckets|compact)", "file:*/graft_$1")
      .replaceAll("_run[0-9a-f]{8}", "_run*")
      // serving-index artifacts live under numbered generation dirs
      // (IndexStore manifests): the generation is a version pointer
      // that increments per rebuild in the same scratch dir — version,
      // not plan shape
      .replaceAll("/graft_serving/([^\\s,()\\[\\]]*?)/g\\d+/", "/graft_serving/$1/g*/")
}
