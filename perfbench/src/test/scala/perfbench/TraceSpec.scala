package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, name: String, parent: Int, start: Long, end: Long,
      counters: Map[String, Long] = Map.empty) =
    Span(id, name, parent, start * 1000000000L, end * 1000000000L, "r", counters)

  test("self time subtracts the union of direct children, once") {
    val spans = Seq(
      span(0, "cli:window", -1, 0, 10),
      span(1, "read:a", 0, 1, 4),
      span(2, "read:b", 0, 3, 6),  // overlaps read:a; 1..6 is covered once
      span(3, "compact:c", 0, 8, 12), // clipped to the parent's end
      span(4, "parse:p", 1, 2, 3))    // grandchild: only read:a loses it
    val self = Tracer.selfSeconds(spans)
    assert(self("cli") == 10 - 5 - 2)
    assert(self("read") == (3 - 1) + 3)
    assert(self("compact") == 4)
    assert(self("parse") == 1)
  }

  test("a span without children is all self time") {
    assert(Tracer.selfSeconds(Seq(span(0, "ddl:createAll", -1, 5, 7))) == Map("ddl" -> 2.0))
  }

  test("tracer records nesting and counter deltas") {
    var n = 0L
    val t = new Tracer("run", () => { n += 1; Map("k" -> n) })
    assert(t.span("a:outer")(t.span("b:inner")(42)) == 42)
    val Seq(inner, outer) = t.all
    assert(inner.parent == outer.id && outer.parent == -1)
    assert(inner.counters("k") == 1 && outer.counters("k") == 3)
  }
}
