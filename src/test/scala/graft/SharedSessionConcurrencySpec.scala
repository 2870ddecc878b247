package graft

import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicBoolean
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.GraphOps
import graft.serving.IndexStore
import graft.streaming.StreamAnnServe

/** One session, three workloads at once: an ANN lifecycle stage
  * (write + append, whose writes already run on their own thread
  * pool) over 2,000 generated 16-dim vectors, an ANN serve, and a
  * pinned-layout query (PageRank compiles its loop-invariant edge
  * layout without adaptive execution). Each result must equal its
  * serial run, and the session's AQE setting must read the same
  * before, throughout and after. */
class SharedSessionConcurrencySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fresh(name: String): String = {
    val dir = IndexStore.scratchDir("spec_shared_session", name)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    dir
  }

  private def rows(rs: Array[Row]): Set[Seq[Any]] = rs.map(_.toSeq).toSet

  test("lifecycle, ANN serve and pinned-layout query run concurrently " +
    "and match their serial runs; AQE is never flipped") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val emb = (0L until 2000L).map(i => (i, Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding").repartition(4)
    val isDelta = col("vec_id") % 8 === 7
    val serveDir = fresh("serve")
    IndexStore.writeAnn(emb, serveDir)
    val index = IndexStore.loadAnn(spark, serveDir)
    val queries = emb.filter(col("vec_id") % 25 === 0).select("vec_id", "embedding")
    val edges = (0L until 300L)
      .flatMap(i => Seq((i, (i * 7 + 3) % 300), (i, (i + 1) % 300)))
      .collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("src", "dst").repartition(4)

    def lifecycle(dir: String): (Seq[(Long, Seq[Float])], Set[Seq[Any]]) = {
      IndexStore.writeAnn(emb.filter(!isDelta), dir)
      IndexStore.appendAnn(emb.filter(isDelta), dir)
      val ix = IndexStore.loadAnn(spark, dir)
      (ix.centroids, rows(ix.assign.select("n_id", "cid").collect()))
    }
    def serve(): Set[Seq[Any]] = rows(StreamAnnServe.serveTopK(queries, index).collect())
    def pageRank(): Set[Seq[Any]] = rows(GraphOps.pageRankFixed(edges).collect())

    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val serial = (lifecycle(fresh("serial")), serve(), pageRank())
    assert(serial._1._2.nonEmpty && serial._2.nonEmpty && serial._3.nonEmpty)

    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val seen = ConcurrentHashMap.newKeySet[String]()
    val done = new AtomicBoolean(false)
    try {
      val poll = Future {
        while (!done.get()) {
          seen.add(spark.conf.get("spark.sql.adaptive.enabled"))
          Thread.sleep(1)
        }
      }
      val lc = Future(lifecycle(fresh("concurrent")))
      val sv = Future(serve())
      val pr = Future(pageRank())
      val concurrent =
        try Await.result(lc.zip(sv).zip(pr), 5.minutes)
        finally done.set(true)
      Await.result(poll, 1.minute)
      assert(concurrent._1._1 == serial._1, "lifecycle result differs from its serial run")
      assert(concurrent._1._2 == serial._2, "ANN serve differs from its serial run")
      assert(concurrent._2 == serial._3, "PageRank differs from its serial run")
    } finally pool.shutdownNow()
    assert(seen.asScala.toSet == Set(aqe), s"AQE read $seen while the queries ran")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe)
  }
}
