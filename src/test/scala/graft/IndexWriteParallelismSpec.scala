package graft

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite
import graft.serving.IndexStore
import graft.streaming.StreamAnnServe

/** Cell-partitioned index writes keep one task per core and one file
  * set per cell. Adaptive execution coalesces a small repartition on
  * the cell column into one or two partitions, which turns each write
  * into a serial walk over every cell directory; the writes instead
  * run min(cells, shuffle partitions) tasks. Checked on the ANN
  * lifecycle (write, load, append, delete, compact) with 4 shuffle
  * partitions, together with each step's Spark job count, the layout
  * and the rows it serves. */
class IndexWriteParallelismSpec extends AnyFunSuite {

  private val Partitions = 4
  private val StepKey = "graft.spec.step"

  // a clone, so the pinned confs neither leak into nor come from other suites
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate().newSession()
    s.conf.set("spark.sql.shuffle.partitions", Partitions.toString)
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s
  }

  private def fresh(name: String): String = {
    val dir = IndexStore.scratchDir("spec_write_parallelism", name)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))
    dir
  }

  /** Task counts of the result stages that write parquet from a
    * shuffle, per lifecycle step. The step is a local property, which
    * IndexStore's write threads inherit. The write job is the last job
    * of a SQL execution that plans an InsertIntoHadoopFsRelationCommand
    * (its shuffle and broadcast jobs run before it). */
  private final class WriteStages extends SparkListener {
    private val writes = ConcurrentHashMap.newKeySet[String]()
    private val jobs = new ConcurrentLinkedQueue[(String, String, Int, Int, Int)]()
    private val resultStages = ConcurrentHashMap.newKeySet[Int]()
    private val perStep = new ConcurrentHashMap[String, Integer]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart
          if x.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
        writes.add(x.executionId.toString)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      prop(StepKey).foreach(perStep.merge(_, 1, (a, b) => a + b))
      val last = e.stageInfos.maxBy(_.stageId)
      for (step <- prop(StepKey); exec <- prop("spark.sql.execution.id")
           if writes.contains(exec) && last.parentIds.nonEmpty)
        jobs.add((step, exec, e.jobId, last.stageId, last.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskType == "ResultTask") resultStages.add(e.stageId)
    def of(step: String): Seq[Int] = jobs.asScala.toSeq
      .filter(j => j._1 == step && resultStages.contains(j._4))
      .groupBy(_._2).values.map(_.maxBy(_._3)._5).toSeq
    /** Every Spark job the step ran, writes or not. */
    def jobCount(step: String): Int = Option(perStep.get(step)).fold(0)(_.intValue)
  }

  /** Data files per `cid=` directory of the current assign table. */
  private def filesPerCell(dir: String): Map[String, Int] = {
    val assign = new File(IndexStore.tableDir(spark, dir, "assign"))
    assign.listFiles().filter(_.getName.startsWith("cid=")).map { d =>
      d.getName -> d.listFiles().count(_.getName.startsWith("part-"))
    }.toMap
  }

  test("ANN lifecycle writes run min(cells, shuffle partitions) tasks, " +
    "one data file per cell, and serve base + delta - deleted") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val emb = (0L until 1200L).map(i => (i, Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val isDelta = col("vec_id") % 8 === 7
    // deleted ids come from the base, past the centroid sample
    val isDeleted = col("vec_id") % 16 === 5 && col("vec_id") >= 64
    val base = emb.filter(!isDelta)
    val nBase = base.count()
    val nDelta = emb.filter(isDelta).count()
    val deleted = emb.filter(isDeleted).select("vec_id").as[Long].collect().toSet
    assert(deleted.nonEmpty)

    val sc = spark.sparkContext
    val stages = new WriteStages
    sc.addSparkListener(stages)
    def step[T](name: String)(body: => T): T = {
      sc.setLocalProperty(StepKey, name)
      try body finally sc.setLocalProperty(StepKey, null)
    }
    val dir = fresh("ann")
    val (afterWrite, cells) = try {
      step("write")(IndexStore.writeAnn(base, dir))
      val files = filesPerCell(dir)
      val k = step("load")(IndexStore.loadAnn(spark, dir)).centroids.size
      step("append")(IndexStore.appendAnn(emb.filter(isDelta), dir))
      step("delete")(IndexStore.deleteAnn(deleted.toSeq.toDF("vec_id"), dir))
      step("compact")(IndexStore.compactAnn(spark, dir))
      Bridge.drainListenerBus(sc, 30000)
      (files, k)
    } finally sc.removeSparkListener(stages)

    // every table is read with its schema, so no step runs a parquet
    // schema-inference job of its own
    val jobs = Seq("write", "load", "append", "delete", "compact")
      .map(s => s -> stages.jobCount(s)).toMap
    assert(jobs == Map("write" -> 6, "load" -> 4, "append" -> 5, "delete" -> 3, "compact" -> 6),
      "Spark jobs per lifecycle step")
    val want = math.min(cells, Partitions)
    for (s <- Seq("write", "append", "delete", "compact"))
      assert(stages.of(s) == Seq(want), s"$s: partitioned-write result stage tasks")

    assert(afterWrite.size == cells)
    assert(afterWrite.values.forall(_ == 1), s"after writeAnn: $afterWrite")
    val afterCompact = filesPerCell(dir)
    assert(afterCompact.values.forall(_ == 1), s"after compactAnn: $afterCompact")

    val index = IndexStore.loadAnn(spark, dir)
    val ids = index.assign.select("n_id").as[Long].collect()
    assert(ids.length == nBase + nDelta - deleted.size)
    assert(ids.toSet.intersect(deleted).isEmpty)
    val queries = emb.filter(!isDeleted && col("vec_id") % 20 === 0)
    val served = StreamAnnServe.serveTopK(queries, index)
      .select("n_id").as[Long].collect()
    assert(served.nonEmpty)
    assert(served.toSet.intersect(deleted).isEmpty, "a deleted id was served")
  }
}
