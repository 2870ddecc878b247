package perfbench

import org.scalatest.funsuite.AnyFunSuite

class IntervalsSpec extends AnyFunSuite {
  import Intervals._

  private def span(id: Int, s: Long, e: Long, parent: Int = -1) = Span(id, 1, s"s$id", parent, s, e)
  private def job(s: Long, e: Long) = JobRec(0, 0, s, e)

  test("covered time merges overlaps and clips to the window") {
    assert(coveredWithin(0, 100, Nil) == 0)
    assert(coveredWithin(0, 100, Seq(10L -> 20L, 15L -> 30L, 50L -> 60L)) == 30)
    assert(coveredWithin(0, 100, Seq(-10L -> 5L, 95L -> 200L)) == 10)
    assert(coveredWithin(0, 100, Seq(20L -> 30L, 20L -> 30L)) == 10)
    assert(coveredWithin(40, 50, Seq(0L -> 100L)) == 10)
  }

  test("self time is wall minus the union of the children") {
    val parent = span(0, 0, 100)
    assert(selfNs(parent, Nil) == 100)
    assert(selfNs(parent, Seq(span(1, 10, 40, 0), span(2, 30, 60, 0))) == 50)
    assert(selfNs(parent, Seq(span(1, 0, 100, 0))) == 0)
  }

  test("gap time is wall minus the time jobs cover") {
    val s = span(0, 1000, 2000)
    assert(gapNs(s, Nil) == 1000)
    assert(gapNs(s, Seq(job(1100, 1300), job(1200, 1400), job(1900, 2500))) == 600)
  }

  test("span figures include the span's descendants") {
    val spans = Seq(span(0, 0, 100), span(1, 10, 40, 0), span(2, 60, 90, 0), span(3, 200, 300))
    val jobs = Seq(JobRec(1, 1, 10, 30), JobRec(2, 2, 60, 70), JobRec(3, 0, 95, 99))
    val l = new SpanListener
    l.shuffleBytes.put(1, new java.util.concurrent.atomic.AtomicLong(5))
    l.shuffleBytes.put(2, new java.util.concurrent.atomic.AtomicLong(7))
    val byId = SpanStats.of(spans, jobs, l).map(s => s.span.id -> s).toMap
    assert(byId(0).jobs == 3)
    assert(byId(0).gapNs == 100 - 20 - 10 - 4)
    assert(byId(0).selfNs == 100 - 30 - 30)
    assert(byId(0).shuffleBytes == 12)
    assert(byId(1).jobs == 1 && byId(1).shuffleBytes == 5)
    assert(byId(3).jobs == 0 && byId(3).gapNs == 100)
  }
}
