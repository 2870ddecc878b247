package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.Bench.RunCost

/** The arithmetic behind Bench's per-query `in_job_s` / `gap_s`: job
  * intervals (epoch ms) folded into one union over the timed window. */
class BenchRunCostSpec extends AnyFunSuite {
  import RunCost.covered

  test("covered time is the union of overlapping and nested intervals") {
    assert(covered(0, 100, Nil) == 0)
    assert(covered(0, 100, Seq(10L -> 20L, 15L -> 30L, 50L -> 60L)) == 30)
    // nested: the inner job adds nothing, in either arrival order
    assert(covered(0, 100, Seq(10L -> 90L, 20L -> 30L)) == 80)
    assert(covered(0, 100, Seq(20L -> 30L, 10L -> 90L)) == 80)
    // identical and touching intervals
    assert(covered(0, 100, Seq(20L -> 30L, 20L -> 30L)) == 10)
    assert(covered(0, 100, Seq(20L -> 30L, 30L -> 40L)) == 20)
  }

  test("covered time is clipped to the timed window") {
    assert(covered(0, 100, Seq(-10L -> 5L, 95L -> 200L)) == 10)
    assert(covered(40, 50, Seq(0L -> 100L)) == 10)
    assert(covered(40, 50, Seq(0L -> 10L, 60L -> 70L)) == 0)
  }

  test("gap is the wall time no job covers") {
    val c = RunCost.of(wallS = 1.0, t0Ms = 1000, t1Ms = 2000,
      jobs = Seq(1100L -> 1300L, 1200L -> 1400L, 1900L -> 2500L),
      stages = 5, shuffleBytes = 2500000L, spillBytes = 0L, gcMs = 250L)
    assert(c.jobs == 3 && c.stages == 5)
    assert(c.inJobS == 0.4)
    assert(math.abs(c.gapS - 0.6) < 1e-9)
    assert(c.shuffleMb == 2.5 && c.spillMb == 0.0 && c.gcS == 0.25)
    val idle = RunCost.of(0.5, 0, 500, Nil, 0, 0L, 0L, 0L)
    assert(idle.jobs == 0 && idle.inJobS == 0.0 && idle.gapS == 0.5)
  }

  test("concurrent jobs from parallel submitter threads count each job, their time once") {
    // three lifecycle branches writing different tables at once, then
    // the driver-side commit after all of them finished
    val branches = Seq(100L -> 400L, 120L -> 350L, 150L -> 500L)
    val c = RunCost.of(0.6, 0, 600, branches :+ (550L -> 580L), 12, 0L, 0L, 0L)
    assert(c.jobs == 4)
    assert(c.inJobS == 0.43)
    assert(math.abs(c.gapS - 0.17) < 1e-9)
  }

  test("millisecond job clock against a nanosecond wall never yields a negative gap") {
    val c = RunCost.of(0.0995, 0, 100, Seq(0L -> 100L), 1, 0L, 0L, 0L)
    assert(c.gapS == 0.0)
  }
}
