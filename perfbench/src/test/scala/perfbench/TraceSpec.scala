package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, s"s$id", 0, parent, start, end)

  private def sumsToRoot(spans: Seq[Span]): Unit = {
    val self = Trace.selfTimes(spans)
    val root = spans.find(_.parent == -1).get
    assert(math.abs(self.values.sum - root.dur) < 1e-9)
  }

  test("self time of a span is its duration minus its children's cover") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 60, 70))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 60.0)
    assert(self(1) == 30.0)
    assert(self(2) == 10.0)
    sumsToRoot(spans)
  }

  test("overlapping children: the parent loses only their union, shared time is split") {
    // children [10,50) and [30,80) overlap on [30,50): union 70
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, 0, 30, 80))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 30.0)
    assert(self(1) == 20.0 + 10.0)
    assert(self(2) == 30.0 + 10.0)
    sumsToRoot(spans)
  }

  test("a grandchild overlapping an uncle shares time with the uncle, not the parent") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 0, 60), span(2, 1, 20, 60),
      span(3, 0, 40, 100))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 20.0) // [0,20): its own; [20,60) covered by its child
    assert(self(2) == 20.0 + 10.0) // [20,40) alone, [40,60) shared with span 3
    assert(self(3) == 10.0 + 40.0)
    assert(self(0) == 0.0)
    sumsToRoot(spans)
  }

  test("many parallel stages under one job still sum to the root") {
    val stages = (1 to 8).map(i => span(i + 1, 1, i * 3L, i * 3L + 17))
    val spans = Seq(span(0, -1, 0, 60), span(1, 0, 2, 50)) ++ stages
    sumsToRoot(spans)
    val self = Trace.selfTimes(spans)
    assert(self(1) == 10.0) // [2,3) and [41,50): the job's time no stage covers
  }

  test("clampInto cuts a child to its parent's interval") {
    val p = span(0, -1, 100, 200)
    assert(Trace.clampInto(span(1, -1, 90, 150), p) == span(1, 0, 100, 150))
    assert(Trace.clampInto(span(1, -1, 150, 210), p) == span(1, 0, 150, 200))
    assert(Trace.clampInto(span(1, -1, 250, 260), p).dur == 0)
  }

  test("containing picks the innermost candidate holding the midpoint") {
    val root = span(0, -1, 0, 100)
    val inner = span(1, 0, 10, 50)
    assert(Trace.containing(span(2, -1, 20, 30), Seq(root, inner)).contains(inner))
    assert(Trace.containing(span(2, -1, 60, 70), Seq(root, inner)).contains(root))
    assert(Trace.containing(span(2, -1, 200, 210), Seq(root, inner)).isEmpty)
  }
}
