package graftbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, layer: String, s: Long, e: Long) =
    Span(id, parent, layer, s"$layer$id", s, e)

  test("union counts overlapping intervals once") {
    assert(Spans.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Spans.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Spans.unionLength(Nil) == 0L)
    assert(Spans.unionLength(Seq((5L, 5L), (7L, 6L))) == 0L)
  }

  test("gap of a phase with overlapping jobs is never negative") {
    // two jobs from parallel threads overlap and run past the phase end
    val phase = span(1, 0, "phase", 100, 200)
    assert(Spans.uncovered(phase, Seq((90L, 180L), (150L, 260L))) == 0L)
    // sequential jobs leave the time between them as the gap
    assert(Spans.uncovered(phase, Seq((110L, 130L), (150L, 170L))) == 60L)
  }

  test("self times of all layers sum to at most the root's wall") {
    val spans = Seq(
      span(1, 0, "workload", 0, 1000),
      span(2, 1, "phase", 10, 500),
      span(3, 1, "phase", 500, 990),
      span(4, 2, "step", 20, 300),
      span(5, 4, "job", 30, 250),
      span(6, 4, "job", 200, 320), // overlaps its sibling and its parent's end
      span(7, 5, "stage", 40, 240),
      span(8, 3, "job", 600, 700),
      span(9, 8, "stage", 600, 700))
    val self = Spans.selfByLayer(spans, Layers.SelfLayers)
    assert(self.values.forall(_ >= 0L))
    assert(self.values.sum <= spans.head.dur)
    assert(self == Map("workload" -> 20L, "phase" -> 600L, "step" -> 10L,
      "job" -> 70L, "stage" -> 300L))
  }
}
