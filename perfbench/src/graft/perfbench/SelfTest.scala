package graft.perfbench

/** Checks of the benchmark's own arithmetic, run by perfbench/tests. */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"selftest failed: $what")

  def run(): Unit = {
    // self time subtracts the union of child intervals, clipped to the parent
    val p = Span(1, "p", "a", 0, 100, 0, "r")
    val kids = Seq(Span(2, "c1", "b", 10, 30, 1, "r"), Span(3, "c2", "b", 20, 50, 1, "r"),
      Span(4, "c3", "b", 60, 70, 1, "r"), Span(5, "c4", "b", 95, 120, 1, "r"),
      Span(6, "g", "c", 22, 28, 3, "r"))
    val self = Spans.selfNs(p +: kids)
    check(self(1) == 100 - (40 + 10 + 5), s"parent self ${self(1)}")
    check(self(3) == 30 - 6, s"child self ${self(3)}")
    check(self(6) == 6, s"leaf self ${self(6)}")
    val byLayer = Spans.selfSecondsByLayer(p +: kids)
    check(byLayer("a") == 45 / 1e9 && byLayer("c") == 6 / 1e9, s"layer sums $byLayer")
    check(Spans.coveredNs(Nil, 0, 10) == 0, "empty cover")

    // spans nest per thread; other threads attach to the current root span
    val t = new Tracer(enabled = true, "selftest")
    t.rootSpan("workload", "op") {
      t.span("pipeline", "inner")(())
      val th = new Thread(() => t.span("pipeline", "lane")(()))
      th.start(); th.join()
    }
    val spans = t.all.map(s => s.name -> s).toMap
    check(spans("op").parent == 0, "root has no parent")
    check(spans("inner").parent == spans("op").id, "nested span parent")
    check(spans("lane").parent == spans("op").id, "cross-thread span parent")
    val off = new Tracer(enabled = false, "off")
    check(off.span("x", "y")(41 + 1) == 42 && off.all.isEmpty, "disabled tracer records nothing")

    check(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "median")
    println("selftest ok")
  }
}
