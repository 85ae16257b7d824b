package layerbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Long, layer: String, parent: Long, start: Long, end: Long, op: Long = 1) =
    Span(id, layer + ".call", layer, op, parent, start, end)

  test("union length merges overlapping and touching intervals") {
    assert(SelfTime.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    assert(SelfTime.unionLength(Seq((0L, 10L), (10L, 20L))) == 20)
    assert(SelfTime.unionLength(Seq((3L, 3L), (5L, 4L))) == 0)
    assert(SelfTime.unionLength(Nil) == 0)
  }

  test("self time subtracts nested children") {
    val spans = Seq(
      span(0, "op", -1, 0, 100),
      span(1, "graph", 0, 10, 90),
      span(2, "streaming", 1, 20, 30),
      span(3, "streaming", 1, 40, 60))
    val self = SelfTime.selfTimes(spans)
    assert(self == Map(0L -> 20L, 1L -> 50L, 2L -> 10L, 3L -> 20L))
    assert(SelfTime.perLayer(spans) == Map("op" -> 20L, "graph" -> 50L, "streaming" -> 30L))
    assert(SelfTime.unattributedFrac(spans) == 0.2)
  }

  test("overlapping children are counted once, and clipped to the parent") {
    val spans = Seq(
      span(0, "op", -1, 0, 100),
      span(1, "sql", 0, 10, 50),
      span(2, "io", 0, 30, 70), // overlaps the sql child
      span(3, "core", 0, 90, 130)) // runs past the op's end
    val self = SelfTime.selfTimes(spans)
    assert(self(0L) == 100 - 60 - 10)
    assert(self(1L) == 40 && self(2L) == 40 && self(3L) == 40)
  }

  test("a disabled tracer runs the body and records nothing") {
    val t = new Tracer(false)
    assert(t.op(1)(t.span("sql", "sql.gate")(41) + 1) == 42)
    assert(t.all.isEmpty)
  }

  test("an enabled tracer links spans to their parent and op") {
    val t = new Tracer(true)
    t.op(7)(t.span("sql", "sql.gate")(t.span("io", "io.csv_read")(())))
    val byName = t.all.map(s => s.name -> s).toMap
    assert(byName("op").parent == -1 && byName("op").op == 7)
    assert(byName("sql.gate").parent == byName("op").id && byName("sql.gate").op == 7)
    assert(byName("io.csv_read").parent == byName("sql.gate").id)
    assert(byName("io.csv_read").start >= byName("sql.gate").start)
    assert(byName("io.csv_read").end <= byName("sql.gate").end)
  }
}
