package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SimilarityOps
import graft.serving.IndexStore
import graft.streaming.{StreamAnnServe, StreamBm25Serve, StreamGraphServe}

/** The index DELETE lifecycle (tombstones): takedown/decontamination
  * must remove rows from ALREADY-BUILT serving artifacts without a
  * full rebuild — tombstones masked at every load, physically dropped
  * at the next compaction. Pinned here:
  *   - ANN serve-after-delete ≡ rebuild-without-deleted, row for row
  *     (deletion ids chosen ≥ the centroid sample so the frozen
  *     structure is identical both ways)
  *   - graph: deleted nodes are neither returned nor reachable (both
  *     edge directions masked, entry points filtered)
  *   - mask ≡ physical drop: compaction removes the rows AND the
  *     tombstone table, serving identically
  *   - the mask does not defeat the serve-side partition pruning
  *   - text: the dedup_decontaminate flagged set deletes cleanly from
  *     the lexical index (the verdict's deletion-set reuse)
  */
class IndexDeleteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val emb = {
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  }
  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private val qPred = col("vec_id") % 25 === 0

  private def asTuples(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  private def fresh(name: String): String = {
    val dir = IndexStore.scratchDir(s"spec_del_$name", name)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    dir
  }

  test("ANN: serve-after-delete ≡ rebuild-without-deleted row for row; " +
    "compaction drops the rows and the tombstone table physically and " +
    "serves identically") {
    // deletion ids ≥ the centroid sample → the rebuild trains the SAME
    // frozen centroids, making the equivalence exact
    val delPred = col("vec_id") % 5 === 4 &&
      col("vec_id") >= SimilarityOps.IvfCentroids
    val nDel = emb.filter(delPred).count()
    assert(nDel > 0)
    val dir = fresh("ann")
    IndexStore.writeAnn(emb, dir, SimilarityOps.IvfCentroids)
    IndexStore.deleteAnn(emb.filter(delPred).select("vec_id"), dir)
    val masked = IndexStore.loadAnn(spark, dir)
    val delIds = emb.filter(delPred).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(masked.assign.select("n_id").collect()
      .forall(r => !delIds(r.getLong(0))), "deleted ids masked from assign")
    val q = emb.filter(qPred).select(col("vec_id"), col("embedding"))
    val servedDel = asTuples(StreamAnnServe.serveTopK(q, masked).collect())
    val rebuildDir = fresh("ann_rebuild")
    IndexStore.writeAnn(emb.filter(!delPred), rebuildDir,
      SimilarityOps.IvfCentroids)
    val servedRebuild = asTuples(StreamAnnServe.serveTopK(q,
      IndexStore.loadAnn(spark, rebuildDir)).collect())
    assert(servedDel.nonEmpty && servedDel == servedRebuild,
      "serve-after-delete ≡ rebuild-without-deleted, row for row")
    // physical drop at compaction
    val nSurvivors = masked.assign.count()
    IndexStore.compactAnn(spark, dir)
    assert(!new java.io.File(
      IndexStore.tableDir(spark, dir, "tombstones")).exists(),
      "the compacted generation carries no tombstone table")
    val compacted = IndexStore.loadAnn(spark, dir)
    assert(compacted.assign.count() == nSurvivors,
      "compaction physically dropped exactly the tombstoned rows")
    assert(asTuples(StreamAnnServe.serveTopK(q, compacted).collect())
      == servedDel, "mask ≡ physical drop at serve time")
  }

  test("graph: deleted nodes are neither returned nor reachable — nodes, " +
    "BOTH edge directions, and entry points masked; mask ≡ compacted " +
    "physical drop row for row") {
    val delPred = SimilarityOps.graphDeletePred  // includes entry ids (3)
    val dir = fresh("knn")
    IndexStore.writeKnn(emb, dir)
    val entriesBefore = IndexStore.loadKnn(spark, dir).entries.map(_._1).toSet
    IndexStore.deleteKnn(emb.filter(delPred).select("vec_id"), dir)
    val delIds = emb.filter(delPred).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(entriesBefore.exists(delIds),
      "the deletion split must cover at least one entry point")
    val idx = IndexStore.loadKnn(spark, dir)
    assert(idx.entries.forall(e => !delIds(e._1)), "entry points filtered")
    assert(idx.nodes.select("node").collect()
      .forall(r => !delIds(r.getLong(0))), "node store masked")
    val edges = idx.edges.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty &&
      edges.forall(e => !delIds(e._1) && !delIds(e._2)),
      "no edge touches a deleted node in either direction")
    val q = emb.filter(qPred).select(col("vec_id"), col("embedding"))
    val servedDel = asTuples(StreamGraphServe.serveTopK(q, idx).collect())
    assert(servedDel.nonEmpty &&
      servedDel.forall(t => !delIds(t._2)), "deleted ids never served")
    // compaction: physical drop, identical serve
    IndexStore.compactKnn(spark, dir)
    assert(!new java.io.File(
      IndexStore.tableDir(spark, dir, "tombstones")).exists(),
      "the compacted generation carries no tombstone table")
    val after = IndexStore.loadKnn(spark, dir)
    assert(after.nodes.select("node").collect()
      .forall(r => !delIds(r.getLong(0))))
    assert(asTuples(StreamGraphServe.serveTopK(q, after).collect())
      == servedDel, "mask ≡ physical drop at serve time")
  }

  test("the tombstone mask does NOT defeat the serve-side partition " +
    "pruning: frontier scans still carry literal sb/nb PartitionFilters " +
    "under the anti-join") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val dir = fresh("knn_prune")
    IndexStore.writeKnn(emb, dir)
    IndexStore.deleteKnn(
      emb.filter(SimilarityOps.graphDeletePred).select("vec_id"), dir)
    val idx = IndexStore.loadKnn(spark, dir)
    val frontier = Seq((0L, 25L), (0L, 150L)).toDF("q_id", "node")
    val df = StreamGraphServe.expandFrontier(frontier, idx)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("/edges"))
        => f
    }
    assert(scans.nonEmpty, "the masked serve still scans the edge artifact")
    scans.foreach { f =>
      val static = f.partitionFilters.filterNot(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruning]))
      assert(static.nonEmpty &&
        static.exists(_.references.exists(_.name == "sb")),
        s"edge scan must keep its literal sb filter, got ${f.partitionFilters}")
      val pruned = f.relation.location.listFiles(static, Nil).length
      val total = f.relation.location.listFiles(Nil, Nil).length
      assert(pruned <= 2 && pruned < total,
        s"a 2-node frontier must read <= 2 edge buckets, got $pruned of $total")
    }
  }

  test("text compaction after delete ≡ writeText(truth-minus-deleted), row " +
    "for row across postings, terms AND stats; tombstones dropped") {
    val evalPred = col("doc_id") % 50 === 0
    val flagged = graft.ops.DedupOps.decontaminate(
        docs.filter(!evalPred), docs.filter(evalPred))
      .filter(col("contaminated")).select("doc_id")
    val delIds = flagged.collect().map(_.getLong(0)).toSet
    assert(delIds.nonEmpty)
    val dir = fresh("text_compact")
    IndexStore.writeText(docs, dir)
    IndexStore.deleteText(flagged, dir)
    IndexStore.compactText(spark, dir)
    assert(!new java.io.File(
      IndexStore.tableDir(spark, dir, "tombstones")).exists())
    val got = IndexStore.loadText(spark, dir)
    val rebuildDir = fresh("text_rebuild")
    IndexStore.writeText(
      docs.filter(!col("doc_id").isin(delIds.toSeq: _*)), rebuildDir)
    val want = IndexStore.loadText(spark, rebuildDir)
    assert(got.nDocs == want.nDocs && got.nTokens == want.nTokens,
      s"stats recomputed (${got.nDocs}/${got.nTokens} vs " +
        s"${want.nDocs}/${want.nTokens})")
    def terms(i: IndexStore.TextIndex) =
      i.terms.select("term", "df", "idf_milli").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(terms(got) == terms(want), "terms table ≡ rebuild's")
    def posts(i: IndexStore.TextIndex) =
      i.postings.select("term", "doc_id", "dl", "tf").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    assert(posts(got) == posts(want), "postings ≡ rebuild's")
  }

  test("overlapping deleteText calls do not inflate compaction's " +
    "n_docs/idf: tombstones are deduped at the accessor") {
    val delPred = col("doc_id") % 50 === 0
    val flagged = docs.filter(delPred).select("doc_id")
    val dir = fresh("text_overlap")
    IndexStore.writeText(docs, dir)
    IndexStore.deleteText(flagged, dir)
    IndexStore.deleteText(flagged, dir) // retried takedown batch
    IndexStore.deleteText(flagged.limit(3), dir) // partial overlap
    IndexStore.compactText(spark, dir)
    val got = IndexStore.loadText(spark, dir)
    val rebuildDir = fresh("text_overlap_rebuild")
    IndexStore.writeText(docs.filter(!delPred), rebuildDir)
    val want = IndexStore.loadText(spark, rebuildDir)
    assert(got.nDocs == want.nDocs && got.nTokens == want.nTokens,
      s"duplicate tombstone rows must not double-count nDeleted " +
        s"(${got.nDocs}/${got.nTokens} vs ${want.nDocs}/${want.nTokens})")
    def idf(i: IndexStore.TextIndex) =
      i.terms.select("term", "idf_milli").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(idf(got) == idf(want), "idf_milli ≡ rebuild's")
  }

  test("a claimed generation fails a racing writer BEFORE it touches the " +
    "directory; clearStaleIntent is the crash-recovery path") {
    val dir = fresh("race")
    val corpus = docs.limit(50)
    IndexStore.writeText(corpus, dir) // gen 0 committed
    assert(IndexStore.currentGen(spark, dir).contains(0))
    // another writer (live or crashed) holds the claim on gen 1 and
    // has in-progress tables under g1
    new java.io.File(s"$dir/intent-1").createNewFile()
    val winnersRoot = new java.io.File(s"$dir/g1/postings")
    winnersRoot.mkdirs()
    val winnersFile = new java.io.File(winnersRoot, "part-w.parquet")
    winnersFile.createNewFile()
    intercept[IllegalStateException] { IndexStore.writeText(corpus, dir) }
    assert(winnersFile.exists(),
      "the loser must fail before deleting the claimant's root")
    assert(IndexStore.currentGen(spark, dir).contains(0))
    IndexStore.clearStaleIntent(spark, dir)
    IndexStore.writeText(corpus, dir)
    assert(IndexStore.currentGen(spark, dir).contains(1),
      "after recovery the writer commits the next generation")
  }

  test("a directory with no committed manifest holds no index: delete, " +
    "append and load each fail once, naming it, and write nothing") {
    val dir = fresh("no_manifest")
    new java.io.File(dir).mkdirs()
    val ops = Seq[(String, () => Any)](
      "deleteAnn" -> (() => IndexStore.deleteAnn(emb.filter(qPred).select("vec_id"), dir)),
      "appendAnn" -> (() => IndexStore.appendAnn(emb.filter(qPred), dir)),
      "loadAnn" -> (() => IndexStore.loadAnn(spark, dir)))
    for ((name, op) <- ops) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains(dir), s"$name must name the directory: ${e.getMessage}")
    }
    assert(new java.io.File(dir).list().isEmpty,
      "a failed delete leaves no tombstones for a later commit to discard")
  }

  test("attribution: deleteAttr masks the flagged train docs from bands " +
    "and shingles — a taken-down doc never appears as a match") {
    val evalPred = col("doc_id") % 50 === 0
    val train = docs.filter(!evalPred)
    val flagged = graft.ops.DedupOps.decontaminate(
        train, docs.filter(evalPred))
      .filter(col("contaminated")).select("doc_id")
    val delIds = flagged.collect().map(_.getLong(0)).toSet
    assert(delIds.nonEmpty)
    val dir = fresh("attr")
    IndexStore.writeAttr(train, dir)
    IndexStore.deleteAttr(flagged, dir)
    val idx = IndexStore.loadAttr(spark, dir)
    assert(idx.bands.select("t_id").distinct().collect()
      .forall(r => !delIds(r.getLong(0))), "bands masked")
    assert(idx.shingles.select("t_id").distinct().collect()
      .forall(r => !delIds(r.getLong(0))), "shingles masked")
    // the eval docs that USED to attribute to a flagged doc now serve
    // from the surviving corpus only
    val served = graft.streaming.StreamAttribution.serveTopK(
      docs.filter(evalPred).limit(20), idx).collect()
    assert(served.forall(r => !delIds(r.getAs[Long]("t_id"))),
      "no taken-down doc is ever served as an attribution match")
  }

  test("text: the dedup_decontaminate flagged set deletes from the lexical " +
    "index — postings masked, contaminated docs never served") {
    val evalPred = col("doc_id") % 50 === 0
    val flagged = graft.ops.DedupOps.decontaminate(
        docs.filter(!evalPred), docs.filter(evalPred))
      .filter(col("contaminated")).select("doc_id")
    val delIds = flagged.collect().map(_.getLong(0)).toSet
    assert(delIds.nonEmpty, "the decontaminate split must flag documents")
    val dir = fresh("text")
    IndexStore.writeText(docs, dir)
    IndexStore.deleteText(flagged, dir)
    val idx = IndexStore.loadText(spark, dir)
    assert(idx.postings.select("doc_id").distinct().collect()
      .forall(r => !delIds(r.getLong(0))), "postings masked")
    // serve with terms drawn from a contaminated doc: it must not return
    val sample = docs.filter(col("doc_id").isin(delIds.take(3).toSeq: _*))
      .select(col("doc_id").as("q_id"),
        graft.ops.TextOps.tokens(col("text")).as("terms"))
    val served = StreamBm25Serve.serveTopK(sample, idx).collect()
    assert(served.nonEmpty, "other docs still serve")
    assert(served.forall(r => !delIds(r.getLong(1))),
      "a contaminated doc is never served, even for its own text")
  }
}
