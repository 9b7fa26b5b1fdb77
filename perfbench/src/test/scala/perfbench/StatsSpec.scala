package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Stats.Iv

class StatsSpec extends AnyFunSuite {
  test("tail percentile is the highest one with at least ten samples beyond it") {
    assert(Stats.tailPercentile(100) == 90)
    assert(Stats.tailPercentile(1000) == 90) // capped
    assert(Stats.tailPercentile(60) == 83)
    assert(Stats.tailPercentile(30) == 66)
    assert(Stats.tailPercentile(10) == 50) // no tail: the median
    (20 to 300).foreach { n =>
      val p = Stats.tailPercentile(n)
      val beyond = n - math.ceil(n * p / 100.0)
      assert(beyond >= 10, s"n=$n p=$p leaves $beyond beyond")
      if (p < 90) assert(n - math.ceil(n * (p + 1) / 100.0) < 10, s"n=$n: p${p + 1} also qualifies")
    }
  }

  test("quantiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(math.abs(Stats.quantile((1 to 11).map(_.toDouble), 0.9) - 10.0) < 1e-12)
  }

  test("self time is the span minus the union of its children inside it") {
    val span = Iv(0, 10)
    assert(Stats.selfTime(span, Nil) == 10)
    assert(Stats.selfTime(span, Seq(Iv(1, 3), Iv(5, 6))) == 7)
    // overlapping children count once
    assert(Stats.selfTime(span, Seq(Iv(1, 4), Iv(2, 5))) == 6)
    // children reaching outside the span count only inside it
    assert(Stats.selfTime(span, Seq(Iv(-5, 2), Iv(9, 20))) == 7)
    assert(Stats.selfTime(span, Seq(Iv(-1, 11))) == 0)
  }

  test("interval difference leaves the uncovered pieces") {
    assert(Stats.minus(Seq(Iv(0, 10)), Seq(Iv(2, 3), Iv(5, 7))) ==
      Seq(Iv(0, 2), Iv(3, 5), Iv(7, 10)))
    assert(Stats.minus(Seq(Iv(0, 4), Iv(6, 8)), Seq(Iv(3, 7))) == Seq(Iv(0, 3), Iv(7, 8)))
    assert(Stats.covered(Seq(Iv(0, 2), Iv(1, 3), Iv(5, 6))) == 4)
  }
}
