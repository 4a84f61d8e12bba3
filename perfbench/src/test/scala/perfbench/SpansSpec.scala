package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  test("union length merges overlapping and touching intervals") {
    assert(Spans.unionNs(Nil) == 0L)
    assert(Spans.unionNs(Seq((0L, 10L), (5L, 15L), (15L, 20L), (30L, 40L))) == 30L)
    assert(Spans.unionNs(Seq((30L, 40L), (0L, 10L), (2L, 3L))) == 20L)
    assert(Spans.unionNs(Seq((5L, 5L), (9L, 7L))) == 0L)
  }

  test("self time is duration minus the union of children, clipped to the parent") {
    val spans = Seq(
      Span(1, 0, "op", 1, 0L, 100L),
      Span(2, 1, "load", 1, 10L, 30L),
      Span(3, 1, "execute", 1, 20L, 50L),
      Span(4, 3, "job", 1, 25L, 45L),
      Span(5, 1, "check", 1, 90L, 120L))
    val self = Spans.selfNs(spans)
    assert(self(1) == 100L - (40L + 10L)) // 10..50 and 90..100 covered
    assert(self(2) == 20L)
    assert(self(3) == 30L - 20L)
    assert(self(4) == 20L)
    assert(self(5) == 30L)
  }

  test("parallel children do not make self time negative") {
    val spans = Seq(Span(1, 0, "stage", 1, 0L, 10L)) ++
      (2 to 5).map(i => Span(i, 1, "task", 1, 0L, 10L))
    assert(Spans.selfNs(spans)(1) == 0L)
  }

  test("tracer spans nest and record nothing while off") {
    val t = new Tracer
    t.op = 7
    t.span("off")(())
    t.on = true
    t.span("op") { t.span("load")(()); t.span("execute")(()) }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName.keySet == Set("op", "load", "execute"))
    assert(byName("load").parent == byName("op").id && byName("execute").parent == byName("op").id)
    assert(byName("op").parent == 0 && t.spansOf(7).size == 3)
    assert(byName("op").startNs <= byName("load").startNs && byName("execute").endNs <= byName("op").endNs)
  }
}
