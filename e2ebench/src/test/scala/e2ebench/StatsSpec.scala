package e2ebench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median reports its value and sample count") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == Stats.Summary(2.0, 3))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == Stats.Summary(2.5, 4))
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("quartiles match Python's statistics.quantiles(n=4)") {
    // statistics.quantiles([1..10], n=4) == [2.75, 5.5, 8.25]
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    // statistics.quantiles([7, 1, 4, 9, 3], n=4) == [2.0, 4.0, 8.0]
    assert(Stats.quartiles(Seq(7.0, 1.0, 4.0, 9.0, 3.0)) == ((2.0, 4.0, 8.0)))
    // statistics.quantiles([1, 2], n=4) == [0.75, 1.5, 2.25] with
    // extrapolation; the harness clamps to the observed range instead.
    assert(Stats.quartiles(Seq(1.0, 2.0)) == ((1.0, 1.5, 2.0)))
  }

  test("a p90 needs at least ten samples beyond it") {
    val n99 = (1 to 99).map(_.toDouble)
    assert(Stats.tail(n99, 0.9).isEmpty) // 9 samples above the p90 of 1..99
    val n110 = (1 to 110).map(_.toDouble)
    val p90 = Stats.tail(n110, 0.9).get
    assert(p90.n == 110)
    assert(math.abs(p90.value - 99.9) < 1e-9) // 0.9 * 111 = 99.9
    assert(n110.count(_ > p90.value) == 11)
  }

  test("ties at the tail do not count as beyond") {
    val xs = Seq.fill(150)(1.0) ++ Seq.fill(5)(2.0)
    assert(Stats.tail(xs, 0.9).isEmpty)
  }
}
