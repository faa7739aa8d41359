package graftbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, s: Long, e: Long) =
    Span(id, parent, s"s$id", s, e, Map.empty)

  test("self time without children is the whole span") {
    assert(Span.selfNs(span(0, -1, 10, 110), Nil) == 100)
  }

  test("self time subtracts the union of the children, not their sum") {
    val p = span(0, -1, 0, 100)
    // [10,30) and [20,50) overlap: together they cover 40, not 50
    val kids = Seq(span(1, 0, 10, 30), span(2, 0, 20, 50),
      span(3, 0, 70, 80))
    assert(Span.selfNs(p, kids) == 100 - 40 - 10)
  }

  test("children are clipped to the parent's interval") {
    val p = span(0, -1, 100, 200)
    val kids = Seq(span(1, 0, 50, 120), span(2, 0, 190, 400),
      span(3, 0, 300, 350))
    assert(Span.selfNs(p, kids) == 100 - 20 - 10)
  }

  test("the tracer nests spans per thread and records their counters") {
    var n = 0.0
    val t = new Tracer("run", enabled = true, () => Map("c" -> n))
    t.span("outer") {
      n += 1
      t.span("inner") { n += 2 }
    }
    val byName = t.all.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("outer").parent == -1)
    assert(byName("outer").counters("c") == 3.0)
    assert(byName("inner").counters("c") == 2.0)
    val self = t.selfSeconds
    assert(self(byName("outer").id) <= byName("outer").durationNs / 1e9)
    assert(t.jsonLines.forall(_.contains("\"run\":\"run\"")))
  }

  test("a disabled tracer only runs the body") {
    val t = new Tracer("run", enabled = false, () => Map.empty)
    assert(t.span("x")(42) == 42)
    assert(t.all.isEmpty)
  }
}
