package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, s"s$id", parent, 0, start, end)

  test("self time subtracts the children's coverage") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 50, 90))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - 20 - 40)
    assert(self(1) == 20)
    assert(self(2) == 40)
  }

  test("overlapping children count once") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 60), span(2, 0, 40, 70),
      span(3, 0, 70, 80))
    assert(Trace.selfTimes(spans)(0) == 100 - 70)
  }

  test("children are clipped to their parent") {
    val spans = Seq(span(0, -1, 100, 200), span(1, 0, 50, 120), span(2, 0, 190, 260))
    assert(Trace.selfTimes(spans)(0) == 100 - 20 - 10)
  }

  test("grandchildren do not count against the grandparent") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 0, 50), span(2, 1, 0, 50))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 50)
    assert(self(1) == 0)
    assert(self(2) == 50)
  }

  test("tracer nests spans and finds the innermost open span") {
    val t = new Tracer
    t.span("pass") {
      t.span("q01") {
        t.span("construct")(Thread.sleep(2))
        t.span("execute")(Thread.sleep(2))
      }
    }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("pass").parent == -1)
    assert(byName("q01").parent == byName("pass").id)
    assert(byName("execute").parent == byName("q01").id)
    assert(t.spans.map(_.trace).toSet == Set(byName("pass").id))
    val mid = (byName("execute").start + byName("execute").end) / 2
    assert(t.openAt(mid).map(_.name) == Some("execute"))
    assert(t.openAt(byName("pass").end + 1).isEmpty)
    assert(t.lastClosed.name == "pass")
  }
}
