package e2ebench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, layer: String, s: Double, e: Double) =
    Span(id, parent, s"s$id", layer, s, e)

  test("self time is duration minus the union of children, overlaps counted once") {
    val parent = span(1, 0, "operators", 0.0, 10.0)
    val kids = Seq(span(2, 1, "exec", 1.0, 4.0), span(3, 1, "exec", 3.0, 5.0),
      span(4, 1, "exec", 7.0, 8.0))
    assert(Spans.selfTime(parent, kids) == 10.0 - 5.0)
  }

  test("children are clipped to their parent, nested children do not count twice") {
    val parent = span(1, 0, "operators", 2.0, 6.0)
    val kids = Seq(span(2, 1, "exec", 0.0, 3.0), span(3, 1, "exec", 5.0, 9.0),
      span(4, 1, "exec", 2.5, 2.8))
    assert(math.abs(Spans.selfTime(parent, kids) - (4.0 - 1.0 - 1.0)) < 1e-12)
  }

  test("self time per layer sums over the tree") {
    val ss = Seq(span(1, 0, "bench", 0.0, 10.0), span(2, 1, "operators", 1.0, 9.0),
      span(3, 2, "exec", 2.0, 5.0), span(4, 2, "exec", 4.0, 6.0), span(5, 4, "exec", 4.5, 5.0))
    val self = Spans.selfByLayer(ss)
    assert(self("bench") == 2.0)
    assert(self("operators") == 4.0)
    assert(self("exec") == 3.0 + 1.5 + 0.5)
  }

  test("orphans attach to the innermost harness span that contains them") {
    val r = new SpanRecorder(System.nanoTime())
    r.addFrame(span(1, 0, "bench", 0.0, 10.0))
    r.addFrame(span(2, 1, "operators", 1.0, 4.0))
    r.add(span(3, 0, "driver", 2.0, 3.0))
    r.add(span(4, 0, "jvm", 5.0, 6.0))
    r.add(span(5, 0, "jvm", 11.0, 12.0))
    val parents = r.withOrphansAttached.map(s => s.id -> s.parent).toMap
    assert(parents == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
  }
}
