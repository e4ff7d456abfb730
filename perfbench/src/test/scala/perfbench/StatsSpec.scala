package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Nil).isNaN)
  }

  test("tail is the highest percentile with at least ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tail(hundred).contains((90, 90.0)))
    val thousand = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(thousand).contains((99, 990.0)))
    // 20 samples: the median (rank 10) leaves exactly 10 beyond it
    assert(Stats.tail((1 to 20).map(_.toDouble)).contains((50, 10.0)))
    // 19 samples support no percentile at or above the median
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
  }

  test("every reported tail leaves at least ten samples beyond it") {
    for (n <- 1 to 400) {
      val xs = (1 to n).map(_.toDouble)
      Stats.tail(xs).foreach { case (p, v) =>
        assert(xs.count(_ > v) >= 10, s"n=$n p=$p")
        // and the next percentile up would not
        if (p < 99) assert(Stats.tail(xs).forall(_._1 == p))
      }
    }
  }

  test("a failed request counts as missing every limit") {
    val xs = Seq(1.0, 2.0, Double.PositiveInfinity, Double.PositiveInfinity,
      Double.PositiveInfinity)
    assert(Stats.median(xs).isPosInfinity)
  }
}
