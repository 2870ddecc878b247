package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.serving.IndexStore
import graft.streaming.StreamAnnServe

/** `index_lifecycle`: the IndexStore write, append, delete, compact and
  * load stages of the ANN index, then closed-loop serving with one
  * client — each micro-batch call waits for the previous one. The seed
  * picks the base, append and delete splits and the query micro-batches;
  * the program sees only those splits. */
final class IndexLifecycle(env: Env) extends Workload {
  import IndexLifecycle._
  private val spark = env.spark
  import spark.implicits._
  private val input = env.work.resolve("input")
  private val index = env.work.resolve("index")

  val root = "lifecycle"
  val minIterations = 3
  val units = Seq("lifecycle_s" -> "s", "ann_serve_ms" -> "ms")

  // seeded splits and queries, rebuilt by every setup
  private var live = 0L
  private var deleted = Set.empty[Long]
  private var batches = Seq.empty[Seq[(Long, Array[Float])]]
  private var truth = Map.empty[Long, Set[Long]]

  private def path(name: String) = input.resolve(name).toString

  def setup(): Unit = {
    Main.deleteTree(input)
    val rnd = Main.random(env.seed)
    val emb = spark.read.parquet(env.root.resolve(DataDir).resolve("embeddings.parquet").toString)
    val vecs = emb.select("vec_id", "embedding").as[(Long, Array[Float])].collect().sortBy(_._1)
    // 1/8 arrives as the append delta; 1/16 of the base is deleted
    val shuffled = rnd.shuffle(vecs.map(_._1).toSeq)
    val delta = shuffled.take(vecs.length / 8)
    deleted = shuffled.slice(vecs.length / 8, vecs.length / 8 + vecs.length / 16).toSet
    live = vecs.length - deleted.size
    val isDelta = col("vec_id").isin(delta: _*)
    emb.filter(!isDelta).write.parquet(path("base"))
    emb.filter(isDelta).write.parquet(path("delta"))
    val liveVecs = vecs.filterNot(v => deleted(v._1)).toSeq
    batches = rnd.shuffle(liveVecs).take(Batches * BatchSize).grouped(BatchSize)
      .map(_.sortBy(_._1)).toSeq
    truth = exactTopK(liveVecs, batches.flatten.map(_._1).toSet, K)
  }

  /** The warm-up pass: two untimed cycles, the first with the
    * loaded-row check. */
  def prepare(): Unit = {
    cycle(None, checked = true)
    cycle(None, checked = false)
  }

  def iterate(tracer: Option[Tracer]): Timings = cycle(tracer, checked = false)

  private def cycle(tracer: Option[Tracer], checked: Boolean): Timings = {
    Main.deleteTree(index)
    val dir = index.toString
    def step[T](name: String)(body: => T): Option[T] =
      env.attempt(name)(Tracer.within(tracer, name)(body))
    val named = mutable.ArrayBuffer[(String, Double)]()
    val hits = mutable.ArrayBuffer[(Long, Long)]()
    var lifecycleS = 0.0
    var serveS = 0.0
    val loaded = Tracer.within(tracer, root) {
      val t0 = System.nanoTime()
      val ok =
        step("index.ann.write")(IndexStore.writeAnn(spark.read.parquet(path("base")), dir))
          .isDefined &&
        step("index.ann.append")(IndexStore.appendAnn(spark.read.parquet(path("delta")), dir))
          .isDefined &&
        step("index.ann.delete")(IndexStore.deleteAnn(deleted.toSeq.toDF("vec_id"), dir))
          .isDefined &&
        step("index.ann.compact")(IndexStore.compactAnn(spark, dir)).isDefined
      val ann = if (ok) step("index.ann.load")(IndexStore.loadAnn(spark, dir)) else None
      lifecycleS = (System.nanoTime() - t0) / 1e9
      named += "lifecycle_s" -> lifecycleS
      for (ix <- ann; b <- batches) {
        val t = System.nanoTime()
        step("serve.ann")(StreamAnnServe.serveTopK(b.toDF("vec_id", "embedding"), ix, K).collect())
          .foreach(rows => hits ++= rows.map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_id")))
        val dt = (System.nanoTime() - t) / 1e9
        serveS += dt
        named += "ann_serve_ms" -> dt * 1e3
      }
      ann
    }

    env.check(!hits.exists(h => deleted(h._2)), "a deleted vector was served")
    val recall = hits.count { case (q, n) => truth(q)(n) }.toDouble / truth.values.map(_.size).sum
    env.record("serve.ann.recall_at_10", recall)
    val floor = env.expected.get("lifecycle.ann.recall_floor").map(_.toDouble)
    env.check(floor.exists(recall >= _), s"recall@$K $recall is below the recorded floor $floor")
    if (env.seed == Main.DefaultSeed) {
      val want = env.expected.get("lifecycle.ann.recall_at_10.seed1").map(_.toDouble)
      env.check(want.contains(recall), s"recall@$K $recall != recorded $want")
    }
    if (checked) {
      val n = loaded.map(_.assign.count())
      env.check(n.contains(live), s"the index loaded $n rows, expected base + delta - deleted = $live")
    }
    Timings(lifecycleS + serveS, named.toSeq)
  }
}

object IndexLifecycle {
  val DataDir = "perfbench/data/sf0.01"
  val K = 10
  val Batches = 2
  val BatchSize = 50

  /** Exact cosine top-k among `corpus` for each query id, excluding the
    * query itself; ties break on the smaller id. */
  def exactTopK(corpus: Seq[(Long, Array[Float])], queries: Set[Long],
      k: Int): Map[Long, Set[Long]] = {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val normed = corpus.map { case (id, v) => (id, v, norm(v)) }.filter(_._3 > 0)
    normed.filter(c => queries(c._1)).map { case (qid, qv, qn) =>
      qid -> normed.filter(_._1 != qid).map { case (id, v, n) =>
        var dot = 0.0
        var i = 0
        while (i < v.length) { dot += qv(i).toDouble * v(i); i += 1 }
        (id, dot / (qn * n))
      }.sortBy(x => (-x._2, x._1)).take(k).map(_._1).toSet
    }.toMap
  }
}
