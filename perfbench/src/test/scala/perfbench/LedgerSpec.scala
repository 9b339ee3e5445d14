package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LedgerSpec extends AnyFunSuite {

  private def task(stage: Int, runMs: Long = 10, durationMs: Long = 12) =
    TaskSample(stage, runMs, runMs * 1000000L, durationMs, 100, 0, 0, 0)

  test("tasks of overlapping stages land in their own job's span") {
    val l = new Ledger
    // job 1 (span 7) runs stages 1 and 2; job 2 (span 8) starts while
    // they run and adds stage 3; their tasks finish interleaved
    l.jobStart(1, 1000, Seq(1, 2), Some(7))
    l.taskEnd(task(1))
    l.jobStart(2, 1001, Seq(3), Some(8))
    l.taskEnd(task(3, runMs = 30, durationMs = 31))
    l.taskEnd(task(2))
    l.taskEnd(task(3, runMs = 30, durationMs = 31))
    l.taskEnd(task(1))
    l.jobEnd(1, 1010)
    l.jobEnd(2, 1020)
    val c = l.attribute(_ => None)
    assert(c(7).jobs == 1 && c(7).tasks == 3 && c(7).stages == 2)
    assert(c(7).stageTasks == Map(1 -> 2, 2 -> 1))
    assert(c(7).runMs == 30 && c(7).overheadMs == 6)
    assert(c(8).jobs == 1 && c(8).tasks == 2 && c(8).stages == 1)
    assert(c(8).runMs == 60 && c(8).overheadMs == 2)
    assert(c(7).lastJobEndMs == 1010 && c(8).lastJobEndMs == 1020)
  }

  test("a stage shared by two jobs stays with the first") {
    val l = new Ledger
    l.jobStart(1, 1000, Seq(4, 5), Some(1))
    l.jobStart(2, 1002, Seq(5, 6), Some(2))
    Seq(4, 5, 5, 6).foreach(s => l.taskEnd(task(s)))
    val c = l.attribute(_ => None)
    assert(c(1).stageTasks == Map(4 -> 1, 5 -> 2))
    assert(c(2).stageTasks == Map(6 -> 1))
  }

  test("jobs without a span hint are placed by their start time") {
    val l = new Ledger
    l.jobStart(1, 5, Seq(1), None)
    l.jobStart(2, 20, Seq(2), None)
    l.jobStart(3, 99, Seq(3), None)
    Seq(1, 2, 3).foreach(s => l.taskEnd(task(s)))
    // span 10 covers [0 ms, 10 ms), span 11 covers [10 ms, 50 ms)
    val c = l.attribute { ns =>
      if (ns < 10000000L) Some(10) else if (ns < 50000000L) Some(11) else None
    }
    assert(c(10).tasks == 1 && c(11).tasks == 1)
    assert(!c.values.exists(_.stageTasks.contains(3)))
  }
}
