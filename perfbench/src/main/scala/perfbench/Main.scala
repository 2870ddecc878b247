package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run. `attempt` wraps every operation
  * the workload issues, so failures are counted against attempts
  * instead of aborting the run. */
final class Env(val spark: SparkSession, val root: Path, val work: Path,
    val seed: Long) {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()
  /** Per-layer values that are not span figures (rows, recall). */
  val layer = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        problems += s"$what failed: $e"
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      problems += what
      System.err.println(s"[perfbench] check failed: $what")
    }

  /** Values recorded for the default seed (`perfbench/expected.properties`). */
  lazy val expected: Map[String, String] = {
    val props = new java.util.Properties()
    val f = root.resolve("perfbench/expected.properties")
    if (Files.exists(f)) {
      val in = Files.newInputStream(f)
      try props.load(in) finally in.close()
    }
    props.asScala.toMap
  }

  def record(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

}

/** One iteration's named timings; `headline` is the workload's
  * end-to-end figure (`iteration_s`). */
final case class Timings(headline: Double, named: Seq[(String, Double)])

trait Workload {
  /** Name of the root span around one traced iteration. */
  def root: String
  /** Builds this run's inputs from the seed; safe to repeat. */
  def setup(): Unit
  /** Runs once, untimed, after the setups: computes the reference values
    * the checks compare to and makes the warm-up pass, which fills the JIT
    * and codegen caches (a fresh JVM's first pass runs 1.4-1.6x slower). */
  def prepare(): Unit
  /** Timed iterations a run makes at the least. */
  def minIterations: Int
  /** One unit of work, checked; `tracer` is set in traced iterations. */
  def iterate(tracer: Option[Tracer]): Timings
  /** Units of the named timings, in report order. */
  def units: Seq[(String, String)]
}

object Main {
  val SetupReps = 3

  val DefaultSeed = 1L

  final case class Opts(workload: String = "", seed: Long = DefaultSeed,
      seconds: Double = 10, trace: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  /** A generator for `seed`. The seed is mixed first: java.util.Random's
    * first draws from consecutive seeds are nearly equal. */
  def random(seed: Long): scala.util.Random =
    new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  /** Times `body` after a full GC, so garbage from earlier work is not
    * collected on this measurement's clock. */
  private def timed(body: => Unit): Double = {
    System.gc()
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String, env: Env): Workload = name match {
    case "survey_corridors" => new SurveyCorridors(env)
    case "index_lifecycle" => new IndexLifecycle(env)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    // runs from the repository root: the engine's fixtures and this
    // package's data and expected values are read relative to it
    val root = Paths.get("").toAbsolutePath
    val work = root.resolve("perfbench/work").resolve(o.workload)
    val spark = session(work)
    val env = new Env(spark, root, work, o.seed)
    val w = workload(o.workload, env)

    val setupS = (1 to SetupReps).map(_ => timed(w.setup()))
    val warmupS = timed(w.prepare())

    val untraced = mutable.ArrayBuffer[Timings]()
    val traced = mutable.ArrayBuffer[Timings]()
    val tracer = if (o.trace) Some(new Tracer(spark.sparkContext)) else None
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = 0
    // a traced run alternates untraced and traced iterations, so one
    // pair already yields both walls
    val minIterations = if (o.trace) 1 else w.minIterations
    while (i < minIterations || System.nanoTime() < deadline) {
      i += 1
      System.gc()
      untraced += w.iterate(None)
      tracer.foreach { t =>
        // the listener is attached only around traced iterations, so
        // the untraced ones measure the same program a user runs
        t.startIteration(i)
        spark.sparkContext.addSparkListener(t.listener)
        System.gc()
        traced += w.iterate(Some(t))
        t.drain()
        spark.sparkContext.removeSparkListener(t.listener)
      }
    }
    val rssMb = Report.peakRssMb()
    val report = new Report(o, env, w, setupS, warmupS, untraced.toSeq, traced.toSeq,
      tracer, rssMb)
    report.write(root.resolve("perfbench/results"))
    spark.stop()
    println(report.resultLine)
    if (!report.correct) System.exit(1)
  }
}
