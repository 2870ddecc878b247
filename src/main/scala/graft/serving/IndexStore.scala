package graft.serving

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{DedupOps, SimilarityOps, TextOps}
import graft.ops.SimilarityOps.{definedNrm, norm}

/** PHYSICAL serving-index artifacts — the offline half of the
  * offline/online split, made real: `serve_index_build` scores a cell
  * layout, this WRITES it (and the attribution family's band/shingle
  * tables) to storage so the online serves read a prebuilt index
  * instead of re-deriving corpus-sized state inside every query.
  *
  * Why it matters at 100 TB: Structured Streaming re-executes the
  * static side of a stream-static join EVERY micro-batch. A serve
  * whose static side is "assign the raw corpus to cells" therefore
  * pays a full corpus scan + kernel pass per micro-batch, even though
  * the join volume is only the probed cells. Persisting the
  * assignment PARTITIONED BY CELL turns that into: read only the
  * partitions this batch probes — the probed-cid literal filter
  * becomes a parquet PartitionFilter (spec-pinned), so a micro-batch's
  * IO is |probed cells|/K of the index, not the corpus.
  *
  * GENERATIONS: every artifact lives under a numbered generation
  * directory `dir/g<N>/<table>` with a zero-byte
  * `dir/manifest-<N>.json` committed AFTER the generation's tables
  * are fully written. Readers resolve the CURRENT generation by
  * listing manifests and taking the highest N — a new manifest
  * appears atomically (create + close), so a cold load during a
  * rebuild or compaction always sees a complete generation: either
  * the old one (manifest not yet committed) or the new one (committed
  * ⇒ tables finished), never a live path that is missing or half
  * swapped. A failed generation write throws before its manifest
  * exists — the previous generation stays current and intact, and
  * the orphaned `g<N+1>` directory is overwritten by the next
  * attempt. A directory with no committed manifest holds no index:
  * load, append and delete there fail once, naming the directory.
  *
  * READER grace period: a commit retains the newest [[GenRetain]]
  * committed generations and GC's only older ones plus manifest-less
  * orphans — the snapshot-retention knob every table format exposes.
  * A WARM reader (an [[AnnIndex]]/[[KnnIndex]] loaded before a
  * compaction, still serving lazy DataFrames) therefore keeps its
  * parquet files through the next commit; it loses them only if it
  * outlives a SECOND commit — the documented reader contract
  * (re-resolve per micro-batch via [[GenCached]] to never fall
  * behind).
  *
  * WRITER coordination: generation writes are single-writer by
  * contract, and [[nextGen]] enforces it BEFORE any directory
  * mutation — an `intent-N` claim file created with overwrite=false,
  * so of two racing writers that resolved the same next generation
  * the loser fails before it can delete or overwrite anything of the
  * winner's (the commit-time manifest check stays as a second
  * layer). A crashed writer's stale claim fails the next attempt
  * loudly; [[clearStaleIntent]] is the admin recovery path.
  *
  * TABLES: each generation table has one [[Table]] descriptor — its
  * directory name, its explicit schema and its partition keys. Every
  * read goes through [[readAt]] with that schema (no read infers one,
  * so no type can drift and no read pays a schema-inference job),
  * every write through [[writeTable]], and every compaction through
  * [[compact]]. Layouts (all plain parquet):
  *  - ANN:  `centroids` (cid, c_emb, c_nrm — K rows) and `assign`
  *          (n_id, n_emb, n_nrm) partitioned by `cid` —
  *          [[graft.streaming.StreamAnnServe.assignCorpus]]'s output,
  *          exactly (parquet roundtrips float/double values
  *          bit-exactly, so a serve from the artifact reproduces the
  *          in-plan serve row for row; StreamAnnServeSpec pins it).
  *  - Attribution: `bands` (t_id, band, key) partitioned by
  *          `pb = band·B + hash(key) mod B` (the band-bucket layout —
  *          a query's band keys prune to their colliding buckets) and
  *          `shingles` (t_id, t_shs) partitioned by
  *          `tb = hash(t_id) mod B` (candidate t_ids prune the rerank
  *          side the same way).
  *  - Text: `postings` (term, doc_id, dl, tf) partitioned by
  *          `tb = hash(term) mod B` (dl denormalized onto the posting
  *          so scoring never joins a corpus-sized doc-length table),
  *          `terms` (term, df, idf_milli) under the same bucketing,
  *          and `stats` (n_docs, n_tokens — one row per write or
  *          append): everything [[graft.ops.TextOps.bm25TopDocs]]
  *          derives per query, precomputed once.
  *  - Graph: `entries`, `edges`, `nodes` and their layered twins
  *          `lentries`, `ledges`, `lnodes` (see [[KnnIndex]] and
  *          [[LayeredIndex]]).
  *  - Deletes: `tombstones` (n_id) partitioned by `db = hash(n_id)
  *          mod 32`, in any family (see [[deleteAnn]]).
  */
object IndexStore {

  /** Scratch root for driver-query artifacts — keyed by sf dir so
    * concurrent scale factors never cross; overwritten per build (the
    * Coverage.rtDir convention: oracles read the parquet TRUTH, never
    * this path, so its location is free to vary per machine). */
  def scratchDir(sfDir: String, what: String): String =
    s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_serving/" +
      s"${sfDir.replaceAll("[^A-Za-z0-9._-]", "_")}/$what"

  /** Per-process build-once guard: a production index is built by an
    * offline job and SERVED many times — the serving queries model
    * that by ensuring the artifact once per JVM and serving from it
    * thereafter (so a bench's repeat runs measure SERVING, with the
    * build cost measured separately by `serve_index_write`, which
    * always writes). Rebuilds are explicit: call the write* method. */
  private val built = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def once(dir: String)(build: => Unit): Unit =
    if (!built.contains(dir)) synchronized {
      if (!built.contains(dir)) { build; built.add(dir) }
    }

  /** Run a lifecycle stage's INDEPENDENT Spark write jobs from a small
    * thread pool so one job's straggler/commit tail back-fills with the
    * next job's tasks (actions are only sequential because the driver
    * calls them sequentially). The lifecycle compositions
    * here are JOB-COUNT bound at bench scale (parquet write commands +
    * per-table planning dominate the wall, as Bench's per-query `jobs`
    * and `gap_s` fields show; scaling ratio ≈ 1 from 8→32 cores), and
    * each stage's writes land in DIFFERENT table directories of the
    * same uncommitted generation — independent by construction. The
    * generation manifest commits only after every branch finished; any
    * branch failure propagates before the commit, so a half-written
    * generation stays an uncommitted orphan exactly as in the
    * sequential form. */
  private def inParallel(stages: (() => Unit)*): Unit =
    if (stages.sizeIs <= 1) stages.foreach(_.apply())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(stages.length)
      try {
        val futs = stages.map(s => pool.submit(
          new java.util.concurrent.Callable[Unit] { def call(): Unit = s() }))
        futs.foreach { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            throw e.getCause }
        }
      } finally pool.shutdownNow()
    }

  // ---------------------------------------------------------- tables

  /** One generation table: its directory name under `g<N>`, the schema
    * every read of it passes (partition keys last, where parquet
    * partition discovery puts them) and the keys it is partitioned
    * by. */
  private final case class Table(name: String, keys: Seq[String],
      fields: (String, DataType)*) {
    val schema: StructType =
      StructType(fields.map { case (n, t) => StructField(n, t) })
  }

  private val Floats = ArrayType(FloatType)
  private val entryFields = Seq("node" -> LongType, "e_emb" -> Floats, "e_nrm" -> DoubleType)
  private val nodeFields =
    Seq("node" -> LongType, "n_emb" -> Floats, "n_nrm" -> DoubleType, "nb" -> IntegerType)

  private val Tombstones = Table("tombstones", Seq("db"), "n_id" -> LongType, "db" -> IntegerType)
  private val Centroids =
    Table("centroids", Nil, "cid" -> LongType, "c_emb" -> Floats, "c_nrm" -> DoubleType)
  private val Assign = Table("assign", Seq("cid"),
    "n_id" -> LongType, "n_emb" -> Floats, "n_nrm" -> DoubleType, "cid" -> LongType)
  private val Bands = Table("bands", Seq("pb"),
    "t_id" -> LongType, "band" -> IntegerType, "key" -> StringType, "pb" -> IntegerType)
  private val Shingles = Table("shingles", Seq("tb"),
    "t_id" -> LongType, "t_shs" -> ArrayType(LongType), "tb" -> IntegerType)
  private val Postings = Table("postings", Seq("tb"), "term" -> StringType,
    "doc_id" -> LongType, "dl" -> LongType, "tf" -> LongType, "tb" -> IntegerType)
  private val Terms = Table("terms", Seq("tb"), "term" -> StringType,
    "df" -> LongType, "idf_milli" -> LongType, "tb" -> IntegerType)
  private val Stats = Table("stats", Nil, "n_docs" -> LongType, "n_tokens" -> LongType)
  private val Entries = Table("entries", Nil, entryFields: _*)
  private val Edges = Table("edges", Seq("sb"),
    "src" -> LongType, "dst" -> LongType, "sb" -> IntegerType)
  private val Nodes = Table("nodes", Seq("nb"), nodeFields: _*)
  private val LEntries = Table("lentries", Nil, entryFields: _*)
  private val LEdges = Table("ledges", Seq("layer", "sb"),
    "src" -> LongType, "dst" -> LongType, "layer" -> IntegerType, "sb" -> IntegerType)
  private val LNodes = Table("lnodes", Seq("nb"), nodeFields: _*)

  /** Table `t`'s directory in generation `gen` of `dir`. Loads,
    * appends and compactions resolve the generation ONCE and derive
    * every table path from that one snapshot — resolving per table
    * would let a concurrent commit land between two resolutions and
    * hand the reader a torn mixed-generation index (gen-N centroids
    * with gen-N+1 assignments), the exact failure the manifest scheme
    * exists to prevent. */
  private def pathAt(dir: String, gen: Int, t: Table): String = s"$dir/g$gen/${t.name}"

  /** Table `t` of generation `gen`, read with its schema and masked
    * against `tomb` on each of `maskCols` in turn. */
  private def readAt(spark: SparkSession, dir: String, gen: Int, t: Table,
      tomb: Option[DataFrame], maskCols: String*): DataFrame =
    maskCols.foldLeft(spark.read.schema(t.schema).parquet(pathAt(dir, gen, t)))(
      (df, c) => maskDeleted(df, c, tomb))

  /** Write `df` as table `t` of generation `gen`. A partitioned table
    * is hash-repartitioned on its keys first into min(`bound`, shuffle
    * partitions) tasks, where `bound` is the number of values the keys
    * take (cells or buckets). Each key value lands in one task, so each
    * partition directory gets one file set instead of tasks × cells
    * files. The count is explicit because AQE coalesces a small
    * `repartition(col)` shuffle into one or two partitions, and one
    * task then writes every cell in turn; it never coalesces a
    * by-number repartition. It is bounded because task overhead grows
    * with it: 500 × 64 rows into 64 `cid` dirs on 4 cores wrote in
    * 1.1–1.2 s with 1 task, 0.5 s with 4–8, 1.3 s with 64 and 2.2 s
    * with 200. At scale the count is the one `repartition(col)` plans
    * anyway. An unpartitioned table is one plain write. */
  private def writeTable(df: DataFrame, mode: String, dir: String, gen: Int,
      t: Table, bound: Int = 0): Unit =
    if (t.keys.isEmpty) df.write.mode(mode).parquet(pathAt(dir, gen, t))
    else df.repartition(
        math.min(bound, df.sparkSession.sessionState.conf.numShufflePartitions),
        t.keys.map(col): _*)
      .write.mode(mode).partitionBy(t.keys: _*).parquet(pathAt(dir, gen, t))

  // ------------------------------------------- generation manifests

  private val ManifestRe = "manifest-(\\d+)\\.json".r

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** The artifact's current generation: highest committed manifest
    * number, or None when none is committed. */
  def currentGen(spark: SparkSession, dir: String): Option[Int] = {
    val p = new Path(dir)
    val f = fs(spark, dir)
    if (!f.exists(p)) None
    else f.listStatus(p).iterator.flatMap(s => s.getPath.getName match {
      case ManifestRe(n) => Some(n.toInt)
      case _ => None
    }).reduceOption(_ max _)
  }

  /** [[currentGen]] for an operation that needs an index: fails,
    * naming the directory, when none is committed there. */
  private def genOf(spark: SparkSession, dir: String): Int =
    currentGen(spark, dir).getOrElse(throw new IllegalStateException(
      s"no committed index generation in $dir (no manifest-<N>.json): " +
        "write the index before loading, appending to or deleting from it"))

  /** Resolve a SINGLE table's current path — for callers (specs,
    * tools) inspecting one table; multi-table loads resolve the
    * generation once instead (see [[pathAt]]). */
  def tableDir(spark: SparkSession, dir: String, table: String): String =
    s"$dir/g${genOf(spark, dir)}/$table"

  /** Committed generations retained after a commit — the reader grace
    * period (see the object doc): 2 keeps the previous generation
    * alive for warm readers that loaded it before the commit; they
    * must re-resolve (one manifest list — [[GenCached]]) before a
    * SECOND commit lands. */
  val GenRetain = 2

  /** Commit a generation: create its manifest (atomic appearance —
    * readers list manifests, and a created file is either absent or
    * complete; overwrite=false, a second detection layer behind the
    * [[nextGen]] intent claim), then GC everything in the artifact
    * directory outside the newest [[GenRetain]] committed generations
    * — older generations and their manifests, this generation's
    * now-consumed intent file and manifest-less orphans of failed
    * attempts (the directory is wholly owned by IndexStore: writers
    * create it). */
  private def commitGen(spark: SparkSession, dir: String, gen: Int): Unit = {
    val f = fs(spark, dir)
    val out = f.create(new Path(s"$dir/manifest-$gen.json"), false)
    out.write(s"""{"gen":$gen}""".getBytes("UTF-8"))
    out.close()
    val committed = f.listStatus(new Path(dir))
      .iterator.flatMap(_.getPath.getName match {
        case ManifestRe(n) => Some(n.toInt)
        case _ => None
      }).toSeq.sorted.takeRight(GenRetain)
    val keep = committed.flatMap(g => Seq(s"g$g", s"manifest-$g.json")).toSet
    f.listStatus(new Path(dir))
      .filterNot(s => keep(s.getPath.getName))
      .foreach(s => f.delete(s.getPath, true))
  }

  /** Start the NEXT generation: CLAIM it, clear its root of any orphan
    * left by a failed earlier attempt (an orphan has no manifest, so no
    * reader ever resolved it), and return its number.
    *
    * The claim is an `intent-N` file created with overwrite=false
    * BEFORE anything in the directory is touched, so a racing writer
    * that resolved the same next generation fails HERE — before it
    * can delete the winner's in-progress root or clobber its tables (a
    * commit-time-only check would detect the collision but could not
    * prevent the damage). After claiming we re-check that no manifest
    * for this generation appeared (a racer that committed between our
    * [[currentGen]] read and the claim has already had its intent GC'd
    * by [[commitGen]], so the claim alone would not catch it) and back
    * off, releasing the claim. [[commitGen]]'s GC consumes the intent
    * on success.
    *
    * Crash recovery: a writer that died between claim and commit
    * leaves a stale intent that fails the next attempt loudly; the
    * operator (who knows no writer is live — single-writer remains
    * the contract ACROSS artifacts' admin plane) clears it with
    * [[clearStaleIntent]]. Fail-stop over silent takeover: an
    * automatic takeover could not distinguish a crashed writer from
    * a slow live one. */
  private def nextGen(spark: SparkSession, dir: String): Int = {
    val gen = currentGen(spark, dir).map(_ + 1).getOrElse(0)
    val f = fs(spark, dir)
    val intent = new Path(s"$dir/intent-$gen")
    try f.create(intent, false).close()
    catch { case _: java.io.IOException => throw new IllegalStateException(
      s"generation $gen of $dir is claimed by another writer " +
      "(or a crashed one: clearStaleIntent) — refusing to touch it") }
    if (f.exists(new Path(s"$dir/manifest-$gen.json"))) {
      f.delete(intent, false)
      throw new IllegalStateException(
        s"generation $gen of $dir was committed by a racing writer " +
        "while this one was resolving — re-resolve and retry")
    }
    f.delete(new Path(s"$dir/g$gen"), true)
    gen
  }

  /** Admin-plane crash recovery: drop stale `intent-N` claims left by
    * a writer that died between [[nextGen]] and [[commitGen]].
    * Call ONLY when no writer is live on `dir` (see [[nextGen]]'s
    * fail-stop rationale). */
  def clearStaleIntent(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (f.exists(p)) f.listStatus(p)
      .filter(_.getPath.getName.matches("intent-\\d+"))
      .foreach(s => f.delete(s.getPath, false))
  }

  /** The one compaction sequence: resolve the current generation and
    * its tombstones, claim the next generation, run the family's
    * `rewrites` of generation `cur` into `next` as overlapped write
    * jobs, call the `midCompaction` test seam (new generation written,
    * manifest not yet committed — spec-pinned: a cold load there
    * resolves the old generation) and commit. Tombstoned rows drop
    * PHYSICALLY: the new generation carries no tombstone table. */
  private def compact(spark: SparkSession, dir: String, midCompaction: () => Unit)(
      rewrites: (Int, Option[DataFrame], Int) => Seq[() => Unit]): Unit = {
    val cur = genOf(spark, dir)
    val tomb = tombstonesAt(spark, dir, cur)
    val next = nextGen(spark, dir)
    inParallel(rewrites(cur, tomb, next): _*)
    midCompaction()
    commitGen(spark, dir, next)
  }

  /** A generation-tracking index cache for long-running serves: [[get]]
    * re-resolves [[currentGen]] plus the generation's tombstone file
    * count (one manifest list + one bounded tree walk of the tiny
    * tombstone table — cheap) and reloads through the gen-pinned
    * loader ONLY when either moved, so a streaming serve calling it
    * at every micro-batch boundary picks up a mid-stream commit OR a
    * mid-stream DELETE by the next batch while paying nothing when
    * the artifact is quiet. The loader receives the resolved gen and
    * must derive every table path from it (see [[pathAt]]). */
  final class GenCached[T](spark: SparkSession, dir: String, load: Int => T) {
    private var cached: Option[((Int, Long), T)] = None
    def get(): T = synchronized {
      val gen = genOf(spark, dir)
      val key = (gen, tombStamp(spark, dir, gen))
      cached match {
        case Some((k, idx)) if k == key => idx
        case _ =>
          val idx = load(gen)
          cached = Some((key, idx))
          idx
      }
    }
  }

  /** Change stamp of a generation's tombstone table (−1 = none):
    * deletes only ever ADD files, so the file count is a monotone,
    * clock-free edit counter. */
  private def tombStamp(spark: SparkSession, dir: String, gen: Int): Long = {
    val p = new Path(pathAt(dir, gen, Tombstones))
    val f = fs(spark, dir)
    if (!f.exists(p)) -1L else f.getContentSummary(p).getFileCount
  }

  // ------------------------------------------------------- tombstones

  /** DELETE lifecycle — the artifact operation every real
    * training-data pipeline needs constantly: decontamination and
    * takedown must remove docs/vectors from ALREADY-BUILT serving
    * indexes without a full rebuild. Three phases:
    *
    *  1. [[deleteAnn]]/[[deleteKnn]]/[[deleteText]]/[[deleteAttr]]
    *     append the ids to an id-bucketed `tombstones` table INSIDE
    *     the current generation (directory-additive, like the appends
    *     — a concurrent reader of the generation keeps a consistent
    *     view; the delete is visible from the next load on).
    *  2. Every load MASKS: one broadcast anti-join against the
    *     tombstone ids on the served tables (deletion sets are
    *     takedown/decontamination lists — bounded, never
    *     corpus-sized). The mask composes with the serve-side
    *     ProbePrune partition pruning: the anti-join sits above the
    *     scan, so the probed-bucket literal filters still push down
    *     to parquet PartitionFilters (spec-pinned). For the GRAPH,
    *     edges are masked in BOTH directions (src and dst — the
    *     back-edge mirror is what made deleted nodes findable) and
    *     the driver-side entry points are filtered, so a deleted node
    *     is neither returned nor routed through; connectivity THROUGH
    *     a deleted node is lost until the next rebuild, the strict
    *     removal semantics a takedown requires.
    *  3. The next compaction ([[compact]]) applies the mask
    *     PHYSICALLY — the rewritten generation contains neither the
    *     deleted rows nor a tombstone table. Until then text postings
    *     are masked at load and the df/idf/corpus stats serve stale
    *     (the deleted-docs-visible-in-stats behavior every lexical
    *     index has between compactions, documented).
    *
    * Deleting a vector that seeded the FROZEN structure (a
    * centroid-sample or entry-point id) removes the servable ROW but
    * not the derived structure — centroid vectors are trained
    * aggregates, retained until the next rebuild, exactly like a
    * model trained before the takedown. Re-inserting a deleted id
    * requires a compaction first (the tombstone wins over a later
    * append until physically dropped — documented). */
  private val TombBuckets = 32

  private def writeTombstones(ids: DataFrame, dir: String, idCol: String): Unit =
    writeTable(ids.select(col(idCol).cast("long").as("n_id")).distinct()
        .withColumn("db", pmod(xxhash64(col("n_id")), lit(TombBuckets)).cast("int")),
      "append", dir, genOf(ids.sparkSession, dir), Tombstones, TombBuckets)

  /** The generation's tombstone id table, if any deletes happened.
    * Deduped HERE, at the single accessor: [[writeTombstones]] dedupes
    * only within one call, so repeated/overlapping delete calls (a
    * retried takedown batch) accumulate duplicate n_id rows in the
    * append-mode table, and a raw join against them would count one
    * row per duplicate (compactText's nDeleted, hence n_docs and
    * every idf_milli). */
  private def tombstonesAt(spark: SparkSession, dir: String,
      gen: Int): Option[DataFrame] =
    if (!fs(spark, dir).exists(new Path(pathAt(dir, gen, Tombstones)))) None
    // localCheckpoint: a load masks 3-4 tables against this frame, and
    // each mask builds its own broadcast — without the checkpoint every
    // broadcast re-runs the scan + the dedupe exchange; with it the
    // tiny deduped id set materializes once
    else Some(readAt(spark, dir, gen, Tombstones, None)
      .select("n_id").distinct().localCheckpoint(eager = false))

  /** Mask `df` against the tombstones (broadcast anti-join on the
    * bounded deletion set); identity when no deletes happened, so an
    * undeleted artifact's plans carry no mask at all. */
  private def maskDeleted(df: DataFrame, idCol: String,
      tomb: Option[DataFrame]): DataFrame =
    tomb.fold(df)(t => df.join(
      broadcast(t.withColumnRenamed("n_id", idCol)), Seq(idCol), "left_anti"))

  /** Tombstone vectors in the ANN artifact — masked from every load
    * from now on, physically dropped at the next [[compactAnn]]. */
  def deleteAnn(ids: DataFrame, dir: String): Unit =
    writeTombstones(ids, dir, "vec_id")

  /** Tombstone nodes in the graph artifact — nodes, both edge
    * directions, and entry points masked from every load, physically
    * dropped at the next [[compactKnn]]. */
  def deleteKnn(ids: DataFrame, dir: String): Unit =
    writeTombstones(ids, dir, "vec_id")

  /** Tombstone documents in the text artifact — postings masked from
    * every load; df/idf/stats serve stale until the next
    * [[compactText]] or [[writeText]] rebuild (see the tombstone doc
    * above). */
  def deleteText(ids: DataFrame, dir: String): Unit =
    writeTombstones(ids, dir, "doc_id")

  /** Tombstone train documents in the attribution artifact — band and
    * shingle rows masked from every load (takedown: the doc stops
    * appearing as an attribution match), physically dropped at the
    * next [[compactAttr]] or [[writeAttr]] rebuild. */
  def deleteAttr(ids: DataFrame, dir: String): Unit =
    writeTombstones(ids, dir, "doc_id")

  def ensureAnn(corpus: DataFrame, dir: String,
      nCentroids: Int = SimilarityOps.IvfCentroids): Unit =
    once(dir)(writeAnn(corpus, dir, nCentroids))

  def ensureAttr(train: DataFrame, dir: String,
      textCol: String = "text"): Unit =
    once(dir)(writeAttr(train, dir, textCol))

  def ensureText(docs: DataFrame, dir: String,
      textCol: String = "text"): Unit =
    once(dir)(writeText(docs, dir, textCol))

  // ------------------------------------------------------------- ANN

  /** A loaded ANN serving index: the driver-constant coarse quantizer
    * (K·dim floats — the index-build artifact, never corpus-sized)
    * plus the cell-partitioned corpus assignment frame. */
  final case class AnnIndex(centroids: Seq[(Long, Seq[Float])],
      assign: DataFrame)

  /** The (id, emb, nrm) rows of a (vec_id, embedding) frame, named as
    * the first three fields of `t`: vectors with a defined norm. */
  private def vecRows(vecs: DataFrame, t: Table): DataFrame = {
    val Array(id, emb, nrm) = t.schema.fieldNames.take(3)
    vecs.select(col("vec_id").as(id), col("embedding").as(emb),
        norm(col("embedding")).as(nrm))
      .filter(definedNrm(col(nrm)))
  }

  /** The (id, vector) pairs of a frame whose first two columns are a
    * long id and a float vector, ordered by id — the ANN centroids and
    * the graph entry points, both K driver-constant rows. */
  private def vectorsById(df: DataFrame, id: String): Seq[(Long, Seq[Float])] =
    df.orderBy(id).collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq

  /** Build + persist the IVF serving index: first-K centroids (the
    * batch family's convention) and the corpus cell assignment,
    * partitioned by cid. One corpus scan for the assignment (the
    * narrow cell_probe projection — no argmax shuffle), one bounded
    * scan for the K centroids. */
  def writeAnn(corpus: DataFrame, dir: String,
      nCentroids: Int = SimilarityOps.IvfCentroids): Unit = {
    val spark = corpus.sparkSession
    val gen = nextGen(spark, dir)
    val centDf = vecRows(corpus.filter(col("vec_id") < nCentroids), Centroids)
      .localCheckpoint(eager = false)
    // the quantizer comes from the IN-FLIGHT frame: parquet roundtrips
    // float/double bit-exactly, so this is the Seq a read-back would
    // yield, and the two table writes then overlap
    val cents = vectorsById(centDf, "cid")
    inParallel(
      () => writeTable(centDf, "overwrite", dir, gen, Centroids),
      () => writeTable(graft.streaming.StreamAnnServe.assignCorpus(corpus, cents),
        "overwrite", dir, gen, Assign, cents.size))
    commitGen(spark, dir, gen)
  }

  /** INCREMENTAL artifact maintenance — the physical form of
    * `serve_index_append`'s delta manifest: assign ONLY the
    * newly-arrived vectors against the artifact's FROZEN centroids
    * (the ingest path between retrains; a full [[writeAnn]] would
    * re-scan the whole corpus) and append their rows into the same
    * cid-partitioned layout. Parquet partitioned appends are
    * directory-additive, so existing cell files are untouched and a
    * concurrent serve keeps reading a consistent index; the appended
    * rows land in their probed cells' partitions and are served by
    * the very next [[graft.streaming.StreamAnnServe.serveTopK]] call
    * with zero serve-side changes (spec-pinned: append ≡ rebuild). */
  def appendAnn(newVecs: DataFrame, dir: String): Unit = {
    val spark = newVecs.sparkSession
    val gen = genOf(spark, dir)
    val cents = vectorsById(readAt(spark, dir, gen, Centroids, None), "cid")
    writeTable(graft.streaming.StreamAnnServe.assignCorpus(newVecs, cents),
      "append", dir, gen, Assign, cents.size)
  }

  /** Compact an appended assignment: every [[appendAnn]] adds one file
    * set per touched cell, so between retrains a hot ingest path
    * accumulates small files per cell (the LSM-ish read-amplification
    * problem every partitioned store has). Rewrites each cell's rows,
    * minus the tombstoned ones, into a single file set in a NEW
    * GENERATION (see [[compact]]). Row content is otherwise untouched
    * — serve-before ≡ serve-after is spec-pinned. No cell count is at
    * hand, so the shuffle partitions bound the assign write. */
  def compactAnn(spark: SparkSession, dir: String,
      midCompaction: () => Unit = () => ()): Unit =
    compact(spark, dir, midCompaction) { (cur, tomb, next) => Seq(
      () => writeTable(readAt(spark, dir, cur, Assign, tomb, "n_id"), "overwrite",
        dir, next, Assign, spark.sessionState.conf.numShufflePartitions),
      () => writeTable(readAt(spark, dir, cur, Centroids, None), "overwrite",
        dir, next, Centroids)) }

  def loadAnn(spark: SparkSession, dir: String): AnnIndex =
    loadAnnAt(spark, dir, genOf(spark, dir))

  /** Gen-pinned load — for callers that resolved the generation once
    * and must keep every read/write on that snapshot ([[GenCached]],
    * the append paths). */
  private[graft] def loadAnnAt(spark: SparkSession, dir: String, gen: Int): AnnIndex =
    AnnIndex(vectorsById(readAt(spark, dir, gen, Centroids, None), "cid"),
      readAt(spark, dir, gen, Assign, tombstonesAt(spark, dir, gen), "n_id"))

  // ----------------------------------------------------- attribution

  /** Band-bucket fanout for the attribution artifacts: with
    * [[graft.ops.DedupOps.bandKeys]]' 2 bands this yields 2·B
    * `pb` partitions and B `tb` partitions. At 100 TB raise B — the
    * layout knob, invariant to results. */
  val AttrBuckets = 32

  private[graft] def pbCol(band: org.apache.spark.sql.Column,
      key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (band.cast("long") * AttrBuckets + pmod(xxhash64(key), lit(AttrBuckets)))
      .cast("int")

  private[graft] def tbCol(
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(id), lit(AttrBuckets)).cast("int")

  final case class AttrIndex(bands: DataFrame, shingles: DataFrame)

  /** Build + persist the attribution serving index: the train band
    * table bucketed by (band, key-hash) and the train shingle arrays
    * bucketed by doc-id hash — the two stream-static sides
    * [[graft.streaming.StreamAttribution]] would otherwise re-derive
    * from raw train text every micro-batch. Paid once at build
    * time. */
  def writeAttr(train: DataFrame, dir: String,
      textCol: String = "text"): Unit = {
    val spark = train.sparkSession
    val gen = nextGen(spark, dir)
    writeAttrTables(train, textCol, "overwrite", dir, gen)
    commitGen(spark, dir, gen)
  }

  /** INCREMENTAL attribution maintenance: band and shingle rows are
    * PER-DOC derivable (minhash signatures depend on nothing but the
    * doc's own text), so ingest appends them directory-additively into
    * the current generation's bucketed layouts — and unlike the
    * ANN/text appends there is NO stale-stats window: append ≡ rebuild
    * exactly, row for row (spec-pinned). */
  def appendAttr(newTrain: DataFrame, dir: String,
      textCol: String = "text"): Unit =
    writeAttrTables(newTrain, textCol, "append", dir, genOf(newTrain.sparkSession, dir))

  /** ONE raw-text shingle + hash pass over `train` (the
    * minhash lanes are a pure function of the shingle-hash set the
    * artifact stores anyway), written as generation `gen`'s shingle
    * and band tables. The bands derive from the in-flight shingle
    * frame, so the two bucketed writes are independent and overlap
    * ([[inParallel]]). EAGER checkpoint: the pass materializes once, then both
    * writes read the cached blocks — a lazy checkpoint under two
    * CONCURRENT consumers would race-compute the kernel pass twice. */
  private def writeAttrTables(train: DataFrame, textCol: String, mode: String,
      dir: String, gen: Int): Unit = {
    val shs = train.select(col("doc_id").as("t_id"),
        DedupOps.shingleHashes(col(textCol)).as("t_shs"))
      .localCheckpoint()
    inParallel(
      () => writeTable(shs.withColumn("tb", tbCol(col("t_id"))),
        mode, dir, gen, Shingles, AttrBuckets),
      () => writeTable(DedupOps.bandKeysFromShingles(shs, "t_id", "t_shs")
          .select(col("doc_id").as("t_id"), col("band"), col("key"))
          .withColumn("pb", pbCol(col("band"), col("key"))),
        mode, dir, gen, Bands, 2 * AttrBuckets))
  }

  /** Compact the attribution artifact after takedowns: physically
    * drop tombstoned train docs from BOTH the band postings and the
    * shingle tables, each (pb/tb) bucket rewritten into one file set,
    * committed as a new generation (see [[compact]]). Spec-pinned:
    * compact-after-delete ≡ writeAttr(truth-minus-deleted), row for
    * row across both tables. */
  def compactAttr(spark: SparkSession, dir: String,
      midCompaction: () => Unit = () => ()): Unit =
    compact(spark, dir, midCompaction) { (cur, tomb, next) => Seq(
      () => writeTable(readAt(spark, dir, cur, Bands, tomb, "t_id")
          .drop("pb").withColumn("pb", pbCol(col("band"), col("key"))),
        "overwrite", dir, next, Bands, 2 * AttrBuckets),
      () => writeTable(readAt(spark, dir, cur, Shingles, tomb, "t_id")
          .drop("tb").withColumn("tb", tbCol(col("t_id"))),
        "overwrite", dir, next, Shingles, AttrBuckets)) }

  def loadAttr(spark: SparkSession, dir: String): AttrIndex =
    loadAttrAt(spark, dir, genOf(spark, dir))

  private[graft] def loadAttrAt(spark: SparkSession, dir: String, gen: Int): AttrIndex = {
    val tomb = tombstonesAt(spark, dir, gen)
    AttrIndex(readAt(spark, dir, gen, Bands, tomb, "t_id"),
      readAt(spark, dir, gen, Shingles, tomb, "t_id"))
  }

  // ------------------------------------------------------------ text

  /** Term-hash bucket fanout for the text (BM25) artifact. */
  val TextBuckets = 32

  final case class TextIndex(postings: DataFrame, terms: DataFrame,
      nDocs: Long, nTokens: Long)

  /** The (term, doc_id, dl, tf) postings of `docs`' text. The explode
    * reaches the first shuffle already keyed (term, doc_id) with
    * map-side combine, so corpus token volume is paid exactly once
    * (the textIndexBuild shape). */
  private def postingsOf(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).cast("long").as("tf"))

  /** Writes of generation `gen`'s `terms` (per-term df and the exact
    * integer BM25 idf_milli over `nDocs` docs) and `stats` tables from
    * postings `posts`. Σtf over the postings IS the token count —
    * every token contributes exactly one to exactly one posting's tf —
    * so no tokenize pass is needed. */
  private def termAndStatsWrites(posts: DataFrame, nDocs: Long, dir: String,
      gen: Int): Seq[() => Unit] = Seq(
    () => writeTable(posts.groupBy("term").agg(count(lit(1)).as("df"))
        .select(col("term"), col("df"),
          expr(s"((2 * ${nDocs}L - 2 * df + 1) * 1000) div (2 * df + 1)")
            .as("idf_milli"))
        .withColumn("tb", tbTermCol(col("term"))),
      "overwrite", dir, gen, Terms, TextBuckets),
    () => writeTable(posts.agg(coalesce(sum("tf"), lit(0L)).cast("long").as("n_tokens"))
        .select(lit(nDocs).cast("long").as("n_docs"), col("n_tokens")),
      "overwrite", dir, gen, Stats))

  /** Build + persist the lexical serving index: the (term, doc, tf,
    * dl) postings bucketed by term hash, the per-term stats (df + the
    * exact integer BM25 idf_milli — [[graft.ops.TextOps
    * .textIndexBuild]]'s formula, so index and live query can never
    * disagree on a term weight), and the corpus totals. The term stats
    * are a vocabulary-sized rollup of the written postings, read back
    * by the two overlapped derived-table writes. */
  def writeText(docs: DataFrame, dir: String,
      textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val nDocs = docs.count()
    val gen = nextGen(spark, dir)
    writeTable(postingsOf(docs, textCol).withColumn("tb", tbTermCol(col("term"))),
      "overwrite", dir, gen, Postings, TextBuckets)
    inParallel(termAndStatsWrites(readAt(spark, dir, gen, Postings, None),
      nDocs, dir, gen): _*)
    commitGen(spark, dir, gen)
  }

  /** INCREMENTAL lexical maintenance: new docs' postings are derivable
    * per-doc, so ingest appends them directory-additively into the
    * current generation's tb-partitioned postings table — the
    * [[appendAnn]] precedent — plus ONE delta row in the stats table
    * (n_docs/n_tokens of the batch), which the summed stats read
    * keeps exact across appends (avgdl never drifts). Term stats
    * follow the frozen-centroid contract: `terms` (df, idf_milli) is
    * NOT touched and serves STALE — a new-only term scores 0 idf, an
    * old term's idf reflects the pre-append corpus — until the next
    * [[compactText]] (which recomputes both exactly from the merged
    * postings) or [[writeText]] rebuild. A streaming serve
    * ([[graft.streaming.StreamBm25Serve.serveStreamFrom]]) picks that
    * recomputed generation up at its next micro-batch boundary via
    * [[GenCached]]. Spec-pinned: compact-after-append ≡
    * writeText(old ∪ delta), row for row across postings, terms AND
    * stats. */
  def appendText(newDocs: DataFrame, dir: String,
      textCol: String = "text"): Unit = {
    val gen = genOf(newDocs.sparkSession, dir)
    val nNew = newDocs.count()
    // one tokenize pass: the stats delta's n_tokens is Σtf over the
    // batch postings, so both appends derive from one eagerly
    // checkpointed keyed agg and overlap
    val posts = postingsOf(newDocs, textCol).localCheckpoint()
    inParallel(
      () => writeTable(posts.withColumn("tb", tbTermCol(col("term"))),
        "append", dir, gen, Postings, TextBuckets),
      () => writeTable(posts.agg(lit(nNew).cast("long").as("n_docs"),
          coalesce(sum("tf"), lit(0L)).cast("long").as("n_tokens")),
        "append", dir, gen, Stats))
  }

  /** Compact the text artifact after deletes: drop tombstoned docs'
    * postings PHYSICALLY and recompute the derived tables exactly as
    * [[writeText]] would — per-term df from the surviving postings,
    * idf_milli with the adjusted corpus size, n_docs = old n_docs
    * minus the distinct tombstoned ids PRESENT in the old postings
    * (a token-less doc is invisible to the index and can never be
    * served, so a tombstone for one leaves n_docs unchanged — the
    * documented epsilon), n_tokens = Σ tf over survivors. Removes the
    * stale-stats window the mask-only serve carries; committed as a
    * new generation (see [[compact]]). Spec-pinned:
    * compact-after-delete ≡ writeText(truth-minus-deleted), row for
    * row across terms AND stats. */
  def compactText(spark: SparkSession, dir: String,
      midCompaction: () => Unit = () => ()): Unit =
    compact(spark, dir, midCompaction) { (cur, tomb, next) =>
      val oldPosts = readAt(spark, dir, cur, Postings, None)
      // summed: base row + one delta row per appendText (see loadTextAt)
      val nDocs = readAt(spark, dir, cur, Stats, None)
        .agg(coalesce(sum("n_docs"), lit(0L)).cast("long")).first().getLong(0) -
        tomb.fold(0L)(t => oldPosts.select("doc_id").distinct()
          .join(broadcast(t.withColumnRenamed("n_id", "doc_id")), "doc_id")
          .count())
      // EAGER checkpoint: the masked postings materialize once and the
      // three rewrites read the cached blocks concurrently (a lazy
      // checkpoint under concurrent consumers would race-compute the
      // mask pass per branch)
      val posts = maskDeleted(oldPosts, "doc_id", tomb).localCheckpoint()
      (() => writeTable(posts.drop("tb").withColumn("tb", tbTermCol(col("term"))),
        "overwrite", dir, next, Postings, TextBuckets)) +:
        termAndStatsWrites(posts, nDocs, dir, next)
    }

  private[graft] def tbTermCol(
      term: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(term), lit(TextBuckets)).cast("int")

  def loadText(spark: SparkSession, dir: String): TextIndex =
    loadTextAt(spark, dir, genOf(spark, dir))

  private[graft] def loadTextAt(spark: SparkSession, dir: String, gen: Int): TextIndex = {
    // stats SUM over rows: [[appendText]] adds one delta row per
    // append (directory-additive), so n_docs/n_tokens — hence avgdl —
    // stay exact across appends while df/idf stay frozen
    val st = readAt(spark, dir, gen, Stats, None)
      .agg(coalesce(sum("n_docs"), lit(0L)).cast("long"),
        coalesce(sum("n_tokens"), lit(0L)).cast("long")).first()
    // postings masked; df/idf serve stale until the next compactText
    // or writeText rebuild (see the tombstone doc)
    TextIndex(readAt(spark, dir, gen, Postings, tombstonesAt(spark, dir, gen), "doc_id"),
      readAt(spark, dir, gen, Terms, None), st.getLong(0), st.getLong(1))
  }

  // ------------------------------------------------------- kNN graph

  /** Bucket fanout for the graph artifacts (edges by src hash, node
    * vectors by node hash). At 100 TB raise it — the layout knob,
    * invariant to results. */
  val KnnBuckets = 32

  private[graft] def nodeBucket(
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(id), lit(KnnBuckets)).cast("int")

  /** A loaded graph serving index: the driver-constant entry-point
    * vectors (the same first-K corpus vectors [[graft.ops
    * .SimilarityOps.knnGraph]] uses as coarse centroids — K·dim
    * floats, never corpus-sized), the src-bucketed edge table, and
    * the node-bucketed vector-lookup table (the id → vector row store
    * every production graph index keeps next to its adjacency
    * lists). */
  final case class KnnIndex(entries: Seq[(Long, Seq[Float])],
      edges: DataFrame, nodes: DataFrame)

  def ensureKnn(corpus: DataFrame, dir: String): Unit =
    once(dir)(writeKnn(corpus, dir))

  /** Build + persist the graph serving index: the [[graft.ops
    * .SimilarityOps.knnGraph]] edges partitioned by `sb =
    * hash(src) mod B` (a search frontier's out-edge lookups prune to
    * the frontier's buckets), the corpus vectors partitioned by
    * `nb = hash(node) mod B` (frontier scoring reads only the
    * frontier's buckets), and the auto-sized first-K entry vectors.
    * The edge build is the one corpus-scale job. */
  def writeKnn(corpus: DataFrame, dir: String): Unit = {
    val spark = corpus.sparkSession
    val kCent = SimilarityOps.autoCentroids(corpus.count())
    val gen = nextGen(spark, dir)
    // the three tables are independent derivations of the corpus →
    // overlapped write jobs (see [[inParallel]]); the manifest commit
    // below still gates visibility on ALL of them
    inParallel(
      () => writeTable(vecRows(corpus.filter(col("vec_id") < kCent), Entries),
        "overwrite", dir, gen, Entries),
      () => writeTable(SimilarityOps.knnGraph(corpus, SimilarityOps.KnnK, kCent,
          SimilarityOps.KnnProbes)
          .select(col("src"), col("dst"), nodeBucket(col("src")).as("sb")),
        "overwrite", dir, gen, Edges, KnnBuckets),
      () => writeTable(nodeRows(corpus), "overwrite", dir, gen, Nodes, KnnBuckets))
    commitGen(spark, dir, gen)
  }

  /** [[appendKnn]]'s SLICED insert mode: the batch is split into
    * `slices` md5-hash sub-batches, inserted sequentially — each
    * slice searches the artifact AS OF the previous slice (a fresh
    * generation-pinned load per slice, reading the directory-additive
    * appends), so near-duplicate pairs arriving in ONE batch become
    * mutually linked as long as they land in different slices
    * (P = 1 − 1/slices per pair; spec-pinned with a planted pair).
    * Cost: `slices` independent bulk searches over progressively
    * larger artifacts instead of one — each slice is still
    * embarrassingly parallel internally, so the 1000-executor ingest
    * shape survives; the knob trades intra-batch linkage for a
    * `slices`-deep sequential chain (measured delta in the spec).
    * slices = 1 is the one-bulk-search form below: batch-mates never
    * link until the next rebuild/compaction. */
  def appendKnn(newVecs: DataFrame, dir: String, slices: Int): Unit =
    if (slices <= 1) appendKnn(newVecs, dir)
    else (0 until slices).foreach { s =>
      appendKnn(newVecs.filter(
        TextOps.strHash(concat(lit("knnslice:"),
          col("vec_id").cast("string"))).mod(lit(slices.toLong)) === s),
        dir)
    }

  /** INCREMENTAL graph maintenance — BATCH NSW insertion
    * (search-then-connect): each new vector's out-edges are its graph
    * search top-[[graft.ops.SimilarityOps.KnnK]] against the EXISTING
    * artifact (the serve path itself, so insert cost = serve cost:
    * O(hops·beam·degree) per vector, never a corpus rebuild), and
    * every new edge is mirrored as a BACK-edge so future searches can
    * reach the inserted nodes — the bidirectional linking every NSW
    * store does on insert.
    *
    * Deliberate batch trade-off vs SEQUENTIAL NSW insertion: the
    * whole batch searches the pre-append artifact, so no edge ever
    * links two vectors of the SAME batch (sequential insertion would
    * link later vectors to earlier ones). Near-duplicate pairs
    * arriving in one batch are therefore mutually invisible until the
    * next [[writeKnn]] rebuild, a compaction, or a SLICED append —
    * the `slices` overload above implements the sub-batch split, and
    * the spec plants a same-batch near-dup pair to pin both behaviors.
    * The findability test measures the slices=1 form honestly
    * (appended nodes reachable through back-edges, not through
    * batch-mates).
    * In exchange the whole batch is ONE bulk search — |batch|
    * independent serves, embarrassingly parallel — instead of a
    * sequential chain of index mutations, which is the only shape
    * that works for a 1000-executor bulk ingest. Old-node degrees
    * grow past KnnK between rebuilds (real graph stores prune on a
    * schedule; [[compactKnn]] is that prune). Parquet partitioned
    * appends are directory-additive, so a concurrent serve keeps
    * reading a consistent index. */
  def appendKnn(newVecs: DataFrame, dir: String): Unit = {
    val spark = newVecs.sparkSession
    // resolve the generation ONCE; load paths and write paths both
    // derive from this snapshot — a compaction committing between two
    // resolutions would otherwise write the appended edges into a
    // different generation than the one searched, silently losing the
    // append
    val gen = genOf(spark, dir)
    val idx = loadKnnAt(spark, dir, gen)
    // checkpointed: the mirror union would otherwise re-run the search
    val newEdges = graft.streaming.StreamGraphServe.serveTopK(
        newVecs.select(col("vec_id"), col("embedding")), idx,
        k = SimilarityOps.KnnK)
      .select(col("q_id").as("src"), col("n_id").as("dst"))
      .localCheckpoint(eager = false)
    // edge and node appends touch different tables: overlapped;
    // the node write needs nothing from the search branch
    inParallel(
      () => writeTable(newEdges.unionByName(
            newEdges.select(col("dst").as("src"), col("src").as("dst")))
          .select(col("src"), col("dst"), nodeBucket(col("src")).as("sb")),
        "append", dir, gen, Edges, KnnBuckets),
      () => writeTable(nodeRows(newVecs), "append", dir, gen, Nodes, KnnBuckets))
  }

  /** The node-store rows (node, n_emb, n_nrm, nb) of a (vec_id,
    * embedding) frame: vectors with a defined norm, bucketed by id. */
  private def nodeRows(vecs: DataFrame): DataFrame =
    vecRows(vecs, Nodes).withColumn("nb", nodeBucket(col("node")))

  /** The graph degree prune every NSW store schedules: each (`groups`,
    * src)'s top-`k` out-edges of `edges` by exact cosine against the
    * vectors of `nodes` ((sim DESC, dst ASC), the knnGraph tie-break),
    * as (`groups`, src, dst, sb) rows. An edge to or from a node
    * missing from `nodes` (a tombstoned one) drops through the inner
    * joins. */
  private def prunedEdges(edges: DataFrame, nodes: DataFrame, k: Int,
      groups: String*): DataFrame = {
    val keys = (groups :+ "src").map(col)
    edges.select(keys :+ col("dst"): _*).distinct()
      .join(nodes.select(col("node").as("src"), col("n_emb").as("s_emb"),
        col("n_nrm").as("s_nrm")), "src")
      .join(nodes.select(col("node").as("dst"), col("n_emb").as("d_emb"),
        col("n_nrm").as("d_nrm")), "dst")
      .withColumn("sim", SimilarityOps.dot(col("s_emb"), col("d_emb"))
        / (col("s_nrm") * col("d_nrm")))
      .withColumn("rn", row_number().over(Window.partitionBy(keys: _*)
        .orderBy(col("sim").desc, col("dst").asc)))
      .filter(col("rn") <= k)
      .select(keys :+ col("dst") :+ nodeBucket(col("src")).as("sb"): _*)
  }

  /** Scheduled graph maintenance — the degree prune every NSW store
    * runs: [[appendKnn]]'s back-edges grow old-node out-degrees past
    * [[graft.ops.SimilarityOps.KnnK]] and add one file set per touched
    * bucket; this rewrites the edge table keeping each src's top-KnnK
    * out-edges ([[prunedEdges]]) and lands each bucket in a single
    * file set, in a NEW GENERATION (see [[compact]]). Pruning is the
    * deliberate accuracy trade of the maintenance schedule: a
    * back-edge survives iff the inserted node ranks within its
    * neighbor's top-KnnK — exactly the retention rule a fresh
    * [[writeKnn]] rebuild would apply. Tombstoned nodes drop from the
    * node store, the entries and (through the prune's joins) both edge
    * directions; the node store is otherwise content-identical,
    * rewritten only for file-count hygiene. */
  def compactKnn(spark: SparkSession, dir: String,
      midCompaction: () => Unit = () => ()): Unit =
    compact(spark, dir, midCompaction) { (cur, tomb, next) =>
      val nodes = readAt(spark, dir, cur, Nodes, tomb, "node")
      Seq(
        () => writeTable(prunedEdges(readAt(spark, dir, cur, Edges, None), nodes,
          SimilarityOps.KnnK), "overwrite", dir, next, Edges, KnnBuckets),
        () => writeTable(nodes.drop("nb").withColumn("nb", nodeBucket(col("node"))),
          "overwrite", dir, next, Nodes, KnnBuckets),
        () => writeTable(readAt(spark, dir, cur, Entries, tomb, "node"),
          "overwrite", dir, next, Entries))
    }

  def loadKnn(spark: SparkSession, dir: String): KnnIndex =
    loadKnnAt(spark, dir, genOf(spark, dir))

  private[graft] def loadKnnAt(spark: SparkSession, dir: String, gen: Int): KnnIndex = {
    val tomb = tombstonesAt(spark, dir, gen)
    KnnIndex(vectorsById(readAt(spark, dir, gen, Entries, tomb, "node"), "node"),
      readAt(spark, dir, gen, Edges, tomb, "src", "dst"),
      readAt(spark, dir, gen, Nodes, tomb, "node"))
  }

  // ------------------------------------------------ layered kNN graph

  /** A loaded LAYERED graph serving index (HNSW shape):
    * `entries` = the top layer's members plus the first-
    * [[graft.ops.SimilarityOps.LayerEntryK]] fallback vectors WITH
    * their embeddings (a bounded table scored distributively per
    * batch — never driver-collected, because its size is governed by
    * the depth knob, not guaranteed small); `edges` = per-layer
    * MIRRORED kNN edges at the layered degree
    * [[graft.ops.SimilarityOps.LayerK]], partitioned by (layer, sb)
    * so a hop reads exactly its layer's frontier buckets; `nodes` =
    * the nb-bucketed vector store ([[writeKnn]]'s layout); `layers` =
    * the artifact's RECORDED depth ([[graft.ops.SimilarityOps
    * .autoLayers]] at write time, frozen until a rebuild — the
    * frozen-centroid contract), which every serve and append reads
    * back instead of assuming a compile-time constant. */
  final case class LayeredIndex(entries: DataFrame, edges: DataFrame,
      nodes: DataFrame, layers: Int)

  def ensureKnnLayered(corpus: DataFrame, dir: String): Unit =
    once(dir)(writeKnnLayered(corpus, dir))

  /** Build + persist the layered graph index: one [[graft.ops
    * .SimilarityOps.knnGraph]] build per layer over the md5-sampled
    * member sets (layer 0 = the corpus; E[|layer ℓ|] = N/16^ℓ),
    * mirrored (both directions — the NSW linking rule; degree ≤
    * 2·LayerK), all layers in ONE (layer, sb)-partitioned table.
    * Layer-0 dominates the build cost; the upper layers are
    * geometrically cheaper. Generation-manifest committed like every
    * artifact here.
    *
    * DEPTH is resolved count-driven at write time ([[graft.ops
    * .SimilarityOps.autoLayers]] — default; pass `layers` to pin) and
    * RECORDED in the generation's `lmeta.json`: appends, compactions,
    * and serves read it back, so the entry scan stays bounded by
    * [[graft.ops.SimilarityOps.LayerEntryBudget]] however large the
    * corpus the artifact was built over. */
  def writeKnnLayered(corpus: DataFrame, dir: String,
      layers: Int = SimilarityOps.AutoLayers): Unit = {
    val spark = corpus.sparkSession
    // ONE aggregation job yields the corpus count (depth resolution)
    // AND every layer's member count (each layer's autoCentroids K)
    val cnts = SimilarityOps.layerCounts(corpus.select("vec_id"), 12)
    val nLayers = if (layers >= 0) layers
      else SimilarityOps.autoLayers(cnts(0))
    val gen = nextGen(spark, dir)
    writeLayerMeta(spark, dir, gen, nLayers)
    // edge build, entry table and node store are independent
    // derivations of the corpus: overlapped write jobs,
    // manifest-gated below
    inParallel(
      () => writeTable(
        (0 to nLayers).map { l =>
            val members = if (l == 0) corpus
              else corpus.filter(SimilarityOps.layerMemberPred(l))
            // pinned depths beyond the precomputed range (never hit by
            // autoLayers — 16^12 rows) fall back to knnGraph's own count
            val kCent = if (l < cnts.length)
              SimilarityOps.autoCentroids(cnts(l)) else SimilarityOps.AutoCentroids
            SimilarityOps.mirroredEdges(SimilarityOps.knnGraph(
                members, SimilarityOps.LayerK, nCentroids = kCent))
              .select(lit(l).as("layer"), col("src"), col("dst"),
                nodeBucket(col("src")).as("sb"))
          }.reduce(_ unionByName _),
        "overwrite", dir, gen, LEdges, (nLayers + 1) * KnnBuckets),
      () => writeTable(vecRows(corpus.filter(SimilarityOps.layerMemberPred(nLayers)
          || col("vec_id") < SimilarityOps.LayerEntryK), LEntries),
        "overwrite", dir, gen, LEntries),
      () => writeTable(nodeRows(corpus), "overwrite", dir, gen, LNodes, KnnBuckets))
    commitGen(spark, dir, gen)
  }

  /** INCREMENTAL layered-graph maintenance — HNSW insertion with the
    * engine's hash-derived level rule (see [[graft.streaming
    * .StreamGraphServe.layeredInsertEdges]]): each new vector joins
    * every layer its md5 level reaches (append and rebuild agree on
    * levels by construction — no random-level state to persist), its
    * per-layer out-edges are the descent's own scored candidates
    * (insert cost = serve cost), every edge is mirrored (the NSW
    * back-link), and a new TOP-layer member also lands in the entry
    * table — future searches enter through it, exactly like a
    * rebuild would. Directory-additive parquet appends throughout;
    * resolve-once generation discipline. */
  def appendKnnLayered(newVecs: DataFrame, dir: String): Unit = {
    val spark = newVecs.sparkSession
    val gen = genOf(spark, dir)
    val idx = loadKnnLayeredAt(spark, dir, gen)
    // the insert descends exactly the layers the build recorded
    val perLayer = graft.streaming.StreamGraphServe
      .layeredInsertEdges(newVecs, idx)
    // edge, node and entry appends touch different tables: overlapped
    // write jobs; the node/entry branches need nothing from the
    // insert search
    inParallel(
      () => writeTable(
        perLayer.toSeq.sortBy(_._1).map { case (l, e) =>
            val ed = e.localCheckpoint(eager = false)
            ed.unionByName(
                ed.select(col("dst").as("src"), col("src").as("dst")))
              .select(lit(l).as("layer"), col("src"), col("dst"),
                nodeBucket(col("src")).as("sb"))
          }.reduce(_ unionByName _),
        "append", dir, gen, LEdges, (idx.layers + 1) * KnnBuckets),
      () => writeTable(nodeRows(newVecs), "append", dir, gen, LNodes, KnnBuckets),
      () => writeTable(vecRows(newVecs.filter(SimilarityOps.layerMemberPred(idx.layers)),
        LEntries), "append", dir, gen, LEntries))
  }

  /** Scheduled layered-graph maintenance — the per-layer degree prune:
    * rewrites the edge table keeping each (layer, src)'s top-
    * [[graft.ops.SimilarityOps.LayerK]] out-edges ([[prunedEdges]]),
    * lands each (layer, sb) partition in one file set, drops
    * tombstoned rows physically (nodes, both edge directions through
    * the prune's inner joins, entries), all in a NEW generation (see
    * [[compact]]) that carries the recorded depth through unchanged
    * (the frozen-centroid contract). Pruning the mirrored write edges
    * (out-degree ≤ 2·LayerK) back to LayerK is the NSW degree bound
    * every production store schedules; some reverse links drop — the
    * deliberate maintenance trade, oracled. */
  def compactKnnLayered(spark: SparkSession, dir: String,
      midCompaction: () => Unit = () => ()): Unit =
    compact(spark, dir, midCompaction) { (cur, tomb, next) =>
      val depth = readLayerMeta(spark, dir, cur)
      writeLayerMeta(spark, dir, next, depth)
      val nodes = readAt(spark, dir, cur, LNodes, tomb, "node")
      Seq(
        () => writeTable(prunedEdges(readAt(spark, dir, cur, LEdges, None), nodes,
            SimilarityOps.LayerK, "layer"),
          "overwrite", dir, next, LEdges, (depth + 1) * KnnBuckets),
        () => writeTable(nodes.drop("nb").withColumn("nb", nodeBucket(col("node"))),
          "overwrite", dir, next, LNodes, KnnBuckets),
        () => writeTable(readAt(spark, dir, cur, LEntries, tomb, "node"),
          "overwrite", dir, next, LEntries))
    }

  /** Generation `gen`'s recorded layer depth: a one-line JSON side
    * file written straight through the filesystem (the manifest-file
    * discipline), NOT a Spark job — a one-row parquet table would cost
    * a write job per build and a read job on every layered load, pure
    * orchestration at bench scale. Any engine can read a one-line
    * JSON. */
  private def layerMeta(dir: String, gen: Int): Path = new Path(s"$dir/g$gen/lmeta.json")

  private def writeLayerMeta(spark: SparkSession, dir: String, gen: Int,
      layers: Int): Unit = {
    val f = fs(spark, dir)
    val dst = layerMeta(dir, gen)
    val tmp = dst.suffix(".tmp")
    val out = f.create(tmp, true)
    try out.write(s"""{"layers":$layers}""".getBytes("UTF-8")) finally out.close()
    // written whole, then renamed into place: a reader never sees a
    // partial file. rename does not replace on every FileSystem, and a
    // previous copy exists only in an orphaned generation being rewritten
    if (f.exists(dst)) f.delete(dst, false)
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"could not rename $tmp to $dst")
  }

  private val LayersRe = """\{"layers":(\d+)\}""".r

  /** The recorded depth; a generation without its `lmeta.json` fails
    * here, naming the file. */
  private def readLayerMeta(spark: SparkSession, dir: String, gen: Int): Int = {
    val json = layerMeta(dir, gen)
    val in = fs(spark, dir).open(json)
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    s.trim match {
      case LayersRe(n) => n.toInt
      case _ => throw new IllegalStateException(
        s"unreadable layer meta at $json: $s")
    }
  }

  def loadKnnLayered(spark: SparkSession, dir: String): LayeredIndex =
    loadKnnLayeredAt(spark, dir, genOf(spark, dir))

  private[graft] def loadKnnLayeredAt(spark: SparkSession, dir: String,
      gen: Int): LayeredIndex = {
    val tomb = tombstonesAt(spark, dir, gen)
    LayeredIndex(readAt(spark, dir, gen, LEntries, tomb, "node"),
      readAt(spark, dir, gen, LEdges, tomb, "src", "dst"),
      readAt(spark, dir, gen, LNodes, tomb, "node"),
      readLayerMeta(spark, dir, gen))
  }
}
