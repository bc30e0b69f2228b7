package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("self time subtracts the children's cover, counting overlaps once") {
    val spans = Seq(
      Span(1, "batch", 0, 100, 0, "r"),
      Span(2, "merge", 10, 50, 1, "r"),
      Span(3, "sink", 40, 70, 1, "r"), // overlaps merge by 10
      Span(4, "write", 20, 30, 2, "r"))
    val self = Tracer.selfTimes(spans)
    assert(self("batch") == 40) // 100 - cover [10, 70)
    assert(self("merge") == 30)
    assert(self("sink") == 30)
    assert(self("write") == 10)
  }

  test("a child reaching outside its parent is clipped to the parent") {
    val self = Tracer.selfTimes(Seq(Span(1, "p", 0, 10, 0, "r"), Span(2, "c", 5, 20, 1, "r")))
    assert(self("p") == 5)
  }

  test("self time sums over spans of one name") {
    val self = Tracer.selfTimes(Seq(Span(1, "m", 0, 10, 0, "a"), Span(2, "m", 0, 7, 0, "b")))
    assert(self("m") == 17)
  }

  test("nested calls on one thread become parent and child") {
    val t = new Tracer(true)
    t.span("outer", "q")(t.span("inner", "q")(()))
    val byName = t.all.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("outer").parent == 0)
  }

  test("a disabled tracer runs the body and records nothing") {
    val t = new Tracer(false)
    assert(t.span("x", "q")(41 + 1) == 42)
    assert(t.all.isEmpty)
  }

  test("adopt re-parents root spans of a request") {
    val t = new Tracer(true)
    t.span("fb", "q:1")(())
    val p = t.add("addBatch", 0, 1, 0, "q:1")
    t.adopt("fb", r => if (r == "q:1") Some(p) else None)
    assert(t.all.find(_.name == "fb").get.parent == p)
  }
}
