package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {
  private def s(start: Double, end: Double) = Span(0, 0, "x", "", start, end)

  test("self time without children is the whole duration") {
    assert(Span.selfTime(s(0, 10), Nil) == 10.0)
  }

  test("disjoint children are subtracted") {
    assert(Span.selfTime(s(0, 10), Seq(s(1, 3), s(5, 6))) == 7.0)
  }

  test("overlapping children count once") {
    // concurrent jobs of one call overlap; their union is 2..8
    assert(Span.selfTime(s(0, 10), Seq(s(2, 6), s(4, 8), s(5, 7))) == 4.0)
  }

  test("parts of children outside the parent do not count") {
    assert(Span.selfTime(s(0, 10), Seq(s(-5, 2), s(9, 20), s(30, 40))) == 7.0)
  }

  test("children covering the parent leave no self time") {
    assert(Span.selfTime(s(0, 10), Seq(s(0, 10))) == 0.0)
  }
}
