package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def job(id: Int, group: String, start: Long, end: Long) =
    Job(id, group, start, end, tasks = 2, taskNs = 10, shuffleWriteBytes = 0, spillBytes = 0,
      inputBytes = 100, outputBytes = 0)

  test("self time subtracts the union of nested spans") {
    val spans = Seq(
      Span(1, "action", 0, 100, 0, 1),
      Span(2, "a", 10, 30, 1, 1),
      Span(3, "b", 20, 50, 1, 1), // overlaps a: together they cover 10-50
      Span(4, "c", 60, 70, 1, 1),
      Span(5, "d", 62, 68, 4, 1)) // nested one level deeper
    val t = TraceSummary(spans, Seq.empty, Seq.empty)
    assert(t.selfNs(spans.head) == 50)
    assert(t.selfNs(spans(3)) == 4)
    assert(t.layer("action").selfNs == 50)
    assert(t.layer("action").totalNs == 100)
    assert(t.layer("missing") == Layer.Empty)
  }

  test("jobs go to their job group's span, else to the innermost open span") {
    val spans = Seq(Span(1, "action", 0, 100, 0, 1), Span(2, "read", 10, 40, 1, 1),
      Span(3, "write", 50, 90, 1, 1))
    val jobs = Seq(
      job(1, "pb-2", 12, 20),
      job(2, "pb-2", 15, 30),    // overlaps job 1
      job(3, "stream-run", 55, 60), // another thread: attributed by time
      job(4, "pb-1", 92, 95))
    val t = TraceSummary(spans, jobs, Seq.empty)
    val read = t.layer("read")
    assert(read.jobs == 2)
    assert(read.driverGapNs == 30 - 18) // 12-30 covered once
    assert(t.layer("write").jobs == 1)
    val action = t.layer("action")
    assert(action.jobs == 4)
    assert(action.inputBytes == 400)
    assert(action.driverGapNs == 100 - (18 + 5 + 3))
  }
}
