package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Trace._

class TraceSpec extends AnyFunSuite {

  test("a job belongs to the innermost span among its tags") {
    assert(innermost(Seq(tagOf(3), "spark-session-x", tagOf(12), tagOf(7))) ==
      Some(12L))
    assert(innermost(Seq("other", "perfbench-span-x")).isEmpty)
  }

  test("covered length merges overlapping intervals and clips to the span") {
    assert(covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0, 100) == 30)
    assert(covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 8, 35) == 17)
    assert(covered(Nil, 0, 100) == 0)
  }

  test("self time is wall minus the children; driver gap also minus own jobs") {
    val spans = Seq(
      Span(1, "outer", None, 0, 1000),
      Span(2, "inner", Some(1), 100, 400),
      Span(3, "inner", Some(1), 500, 600))
    val jobs = Seq(
      Job(1, 50, 100), Job(1, 350, 450), // the second overlaps child 2
      Job(2, 150, 250), Job(3, 500, 600))
    val tasks = Map(1L -> Tasks(tasks = 4, cpuNs = 2000000000L, peakExecBytes = 10),
      2L -> Tasks(tasks = 2, shuffleBytes = 7, peakExecBytes = 30),
      3L -> Tasks(tasks = 1, shuffleBytes = 5, peakExecBytes = 20))
    val f = fold(spans, jobs, tasks)
    val outer = f("outer")
    assert(outer.calls == 1 && outer.jobs == 2)
    assert(outer.wallS == 1.0)
    assert(outer.selfS == 0.6) // 1000 - 300 - 100
    // covered by children or own jobs: [50,100] [100,450] [500,600]
    assert(math.abs(outer.driverGapS - 0.5) < 1e-12)
    assert(outer.tasks.tasks == 4 && outer.tasks.cpuNs == 2000000000L)
    val inner = f("inner")
    assert(inner.calls == 2 && inner.jobs == 2)
    assert(math.abs(inner.wallS - 0.4) < 1e-12)
    assert(math.abs(inner.driverGapS - 0.2) < 1e-12) // 300 - 100, 100 - 100
    assert(inner.tasks == Tasks(tasks = 3, shuffleBytes = 12, peakExecBytes = 30))
  }

  test("a span with no jobs is all driver gap") {
    val f = fold(Seq(Span(1, "idle", None, 0, 250)), Nil, Map.empty)("idle")
    assert(f.jobs == 0 && f.driverGapS == 0.25 && f.tasks == Tasks())
  }
}
