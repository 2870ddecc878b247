package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 headroom probe (manual main): materializes a 10× replica of the
  * sf0.1 tables on disk (key-offset replication — each replica gets
  * disjoint key ranges so per-replica join cardinalities are preserved
  * and totals scale ~10×), then times the committed-plan top-10
  * ([[PlanDump.Audited]]) at both scales and writes `BENCH_SF1.json`
  * with the per-query scaling slope t(sf1)/t(sf0.1).
  *
  * Interpretation: ~10 = linear in data volume (the plan would survive
  * a 100× scale-up, modulo memory); <10 = fixed overhead amortizing
  * out; >10 needs a NAMED cause. Two known causes are designed in:
  * replicated documents are k× EXACT duplicates, so dedup pair/edge
  * structures grow ~k² inside copy-groups (the ScaleProfile worst
  * case); and rec_cte_tree's replicas deepen no tree but add frontier
  * rows per BFS round, so per-round fixed costs multiply.
  *
  * Usage: runMain graft.tools.Sf1Probe [gen|bench|all] [name…]
  * (default all). Trailing names restrict the bench to those queries
  * and MERGE their rows into the existing BENCH_SF1.json — the cheap
  * path for slope-measuring a newly pinned plan.
  */
object Sf1Probe {

  val Src = "/root/testdata/sf0.1"
  val Dst = "/tmp/graft_sf1"
  val K = 10
  val Off = 100000000L // per-replica key offset, >> any sf0.1 key

  /** key columns to shift per replica; dims (nation/region) copy 1×,
    * nationkey FKs stay — every replica shares the fixed dims */
  val KeyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def gen(spark: SparkSession): Unit = {
    Seq("nation", "region").foreach { name =>
      graft.Tables.t(spark, Src, name).write.mode("overwrite")
        .parquet(s"$Dst/$name.parquet")
    }
    KeyCols.foreach { case (name, keys) =>
      // Tables.t normalizes the events TIMESTAMP(NANOS) column to
      // micros on read; the replica is written with the normalized
      // schema, which Tables.events' pass-through branch reads back
      val base = graft.Tables.t(spark, Src, name)
      val replicas = (0 until K).map { i =>
        keys.foldLeft(base)((df, k) => df.withColumn(k, col(k) + lit(i * Off)))
      }
      replicas.reduce(_ unionByName _).write.mode("overwrite")
        .parquet(s"$Dst/$name.parquet")
      println(s"[sf1gen] $name x$K written")
    }
  }

  def bench(spark: SparkSession, only: Set[String] = Set.empty): Unit = {
    def run(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // codegen/shuffle warmup, same as Bench
    spark.range(1000000).selectExpr("sum(id)")
      .write.format("noop").mode("overwrite").save()
    // pipe_* stages read the KMZ fixture, not the sf directory — at
    // "both scales" they'd run the identical workload (slope ≡ 1), so
    // they carry no headroom signal and are excluded
    // surface filter typos up front: an unknown name in a subset run
    // would otherwise be silently ignored (measured = everything
    // else). pipe_* names are audited but EXCLUDED from this probe
    // (fixture-scale, slope ≡ 1) — flag them too, same silent-ignore
    // failure otherwise
    val unknown = only.filterNot(PlanDump.Audited.toSet)
    if (unknown.nonEmpty)
      println(s"[sf1] WARNING: filter name(s) match no audited query " +
        s"and are ignored: ${unknown.toSeq.sorted.mkString(", ")}")
    val piped = only.filter(_.startsWith("pipe_"))
    if (piped.nonEmpty)
      println(s"[sf1] WARNING: pipe_* stages carry no sf-scaling signal " +
        s"and are excluded from this probe: ${piped.toSeq.sorted.mkString(", ")}")
    val rows = PlanDump.Audited.filterNot(_.startsWith("pipe_"))
      .filter(n => only.isEmpty || only(n)).map { name =>
      // one DISCARDED run per SCALE first. sf0.1: the first execution
      // carries whole-stage-codegen compile and (for the first queries
      // in the list) JVM-wide C2/reader warmup — round 6's
      // emb_dedup_keep "slope 2.10" divided by a cold-start-inflated
      // sf0.1 denominator (10.12 s probed vs 1.97 s idle bench). sf1:
      // the heavy inner loops only reach C2 + a warmed execution-memory
      // pool at sf1 iteration counts — a per-stage profile measured the
      // candidate-distinct stage of emb_dedup_keep at 436 task-seconds
      // cold vs 71 warm (same JVM, same input, 407 MB shuffle write
      // both times), a 6× first-run artifact that sf0.1 warmup does
      // not remove. A cluster job amortizes exactly this across
      // thousands of tasks, so warm numbers are the slope signal.
      run(name, Src); run(name, Dst)
      val s1 = run(name, Src); val d1 = run(name, Dst)
      val s2 = run(name, Src); val d2 = run(name, Dst)
      // Post-query hygiene, OUTSIDE any timed region: the CC-family
      // queries leave lazy localCheckpoint RDD blocks pinned in the
      // block manager until their DataFrames are GC'd AND the async
      // ContextCleaner drains — with a large heap nothing triggers GC,
      // so sf1-sized blocks accumulate across the probe and degrade
      // the back half of the run (observed: graph_triangles 5.1 s →
      // 37.1 s purely by position). A driver GC nudge lets the cleaner
      // unpersist between queries, which is what a per-query cluster
      // job gets for free from JVM teardown.
      System.gc(); Thread.sleep(500)
      val t01 = math.min(s1, s2)
      val t1 = math.min(d1, d2)
      println(f"[sf1] $name%-22s sf0.1=$t01%6.2f s  sf1=$t1%7.2f s  slope=${t1 / t01}%5.2f")
      (name, t01, t1)
    }
    // subset runs MERGE into the existing file (measured names
    // overwrite their rows, everything else carries) so a new query's
    // slope lands without re-probing the other ~100 plans
    val prior: Seq[(String, String)] =
      if (only.isEmpty) Nil
      else try {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(java.nio.file.Files.readString(
          java.nio.file.Paths.get("BENCH_SF1.json")))
        val qs = root.get("queries")
        import scala.jdk.CollectionConverters._
        qs.fieldNames().asScala.filterNot(only).map { n =>
          n -> qs.get(n).toString
        }.toSeq
      } catch {
        case e: Throwable =>
          // a subset run REWRITES the file — carrying nothing silently
          // would drop every unmeasured row, so refuse instead of
          // pretending the prior file was empty
          throw new IllegalStateException(
            "subset bench cannot read prior BENCH_SF1.json to merge into " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}); run a full " +
              "bench (no name filter) or restore the file", e)
      }
    val json = (prior.map { case (n, body) => s""""$n":$body""" } ++
      rows.map { case (n, a, b) =>
        f""""$n":{"sf01_sec":$a%.3f,"sf1_sec":$b%.3f,"slope":${b / a}%.2f}"""
      }).mkString(",")
    val loadavg = try {
      scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString(" ")
    } catch { case _: Throwable => "unknown" }
    val out = s"""{"metric":"sf1_headroom","k":$K,"loadavg_end":"$loadavg","queries":{$json}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_SF1.json"), out + "\n")
    println(s"[sf1] wrote BENCH_SF1.json (${rows.length} measured" +
      s"${if (prior.nonEmpty) s", ${prior.length} carried" else ""})")
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("all")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (mode == "gen" || mode == "all") gen(spark)
    if (mode == "bench" || mode == "all") bench(spark, args.drop(1).toSet)
    spark.stop()
  }
}
