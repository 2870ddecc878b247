package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One closed span: a call into a layer's public function, opened and
  * closed by the benchmark around that call. Times are epoch
  * nanoseconds so they line up with the listener's job times. */
final case class Span(id: Int, iter: Int, name: String, parent: Int,
    startNs: Long, endNs: Long) {
  def wallNs: Long = endNs - startNs
}

/** A Spark job as the listener saw it, attributed to the span whose
  * local property the submitting thread carried (-1 = no span). */
final case class JobRec(jobId: Int, span: Int, startNs: Long, endNs: Long)

/** Interval arithmetic behind self time and gap time. */
object Intervals {

  /** Length of the union of half-open intervals clipped to [lo, hi). */
  def coveredWithin(lo: Long, hi: Long, iv: Seq[(Long, Long)]): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Span wall time minus the part of it its child spans cover. */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.wallNs - coveredWithin(span.startNs, span.endNs,
      children.map(c => (c.startNs, c.endNs)))

  /** Span wall time minus the part of it covered by Spark jobs. */
  def gapNs(span: Span, jobs: Seq[JobRec]): Long =
    span.wallNs - coveredWithin(span.startNs, span.endNs,
      jobs.map(j => (j.startNs, j.endNs)))
}

/** Attributes jobs, shuffle, spill, GC and failed tasks to spans. A job
  * belongs to the span named by the `perfbench.span` local property of
  * the thread that submitted it; Spark copies local properties into
  * threads spawned by that thread, so jobs from a library's own worker
  * pool land in the span that was open when the pool was created. */
final class SpanListener extends SparkListener {
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  val shuffleBytes = new ConcurrentHashMap[Int, AtomicLong]()
  val spillBytes = new ConcurrentHashMap[Int, AtomicLong]()
  val gcMs = new ConcurrentHashMap[Int, AtomicLong]()
  val tasksFailed = new AtomicLong()

  private def ms2ns(ms: Long): Long = ms * 1000000L
  private def add(m: ConcurrentHashMap[Int, AtomicLong], span: Int, v: Long): Unit =
    if (v != 0) m.computeIfAbsent(span, _ => new AtomicLong()).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobSpan.put(e.jobId, span)
    jobStart.put(e.jobId, ms2ns(e.time))
    e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val span = jobSpan.getOrDefault(e.jobId, -1)
    val start = jobStart.getOrDefault(e.jobId, ms2ns(e.time))
    jobs.add(JobRec(e.jobId, span, start, ms2ns(e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.reason != Success) tasksFailed.incrementAndGet()
    val span = stageSpan.getOrDefault(e.stageId, -1)
    val m = e.taskMetrics
    if (m != null) {
      add(shuffleBytes, span, m.shuffleWriteMetrics.bytesWritten)
      add(spillBytes, span, m.diskBytesSpilled + m.memoryBytesSpilled)
      add(gcMs, span, m.jvmGCTime)
    }
  }
}

/** In-memory span recorder. Spans are opened only from the benchmark's
  * driver thread; each carries the id of the iteration that opened it. */
final class Tracer(sc: SparkContext) {
  import Tracer._
  private val closed = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  private var iteration = 0
  val listener = new SpanListener

  def startIteration(i: Int): Unit = iteration = i

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    open = id :: open
    val t0 = nowNs()
    try body
    finally {
      val t1 = nowNs()
      open = open.tail
      sc.setLocalProperty(SpanKey, prev)
      closed += Span(id, iteration, name, parent, t0, t1)
    }
  }

  def spans: Seq[Span] = closed.toSeq

  /** Waits until the listener has seen every job submitted so far. */
  def drain(): Unit =
    org.apache.spark.sql.graft.Bridge.drainListenerBus(sc, 10000L)

  def jobs: Seq[JobRec] = listener.jobs.asScala.toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"
  // epoch-aligned monotonic clock: the listener reports job times in
  // epoch milliseconds, spans need sub-millisecond resolution
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = System.nanoTime() + epochOffsetNs

  /** Runs `body` inside `name` when tracing, else runs it bare. */
  def within[T](t: Option[Tracer], name: String)(body: => T): T =
    t.fold(body)(_.span(name)(body))
}

/** Per-span-instance figures derived from spans and jobs: wall, jobs,
  * gap (wall not covered by jobs), shuffle, spill and GC, each
  * including the span's descendants. */
final case class SpanStats(span: Span, jobs: Int, gapNs: Long, selfNs: Long,
    shuffleBytes: Long, spillBytes: Long, gcMs: Long)

object SpanStats {
  def of(spans: Seq[Span], jobs: Seq[JobRec], l: SpanListener): Seq[SpanStats] = {
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Int] =
      s.id +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val jobsBySpan = jobs.groupBy(_.span)
    def sum(m: ConcurrentHashMap[Int, AtomicLong], ids: Seq[Int]): Long =
      ids.map(i => Option(m.get(i)).fold(0L)(_.get)).sum
    spans.map { s =>
      val ids = subtree(s)
      val js = ids.flatMap(i => jobsBySpan.getOrElse(i, Nil))
      SpanStats(s, js.size, Intervals.gapNs(s, js),
        Intervals.selfNs(s, children.getOrElse(s.id, Nil)),
        sum(l.shuffleBytes, ids), sum(l.spillBytes, ids), sum(l.gcMs, ids))
    }
  }
}
