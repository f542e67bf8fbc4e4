package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a tail percentile is named only with at least ten samples beyond it") {
    assert(!Stats.nameable(99, 0.9))
    assert(Stats.nameable(100, 0.9))
    assert(!Stats.nameable(999, 0.99))
    assert(Stats.nameable(1000, 0.99))
    assert(Stats.percentile((1 to 99).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0.9).nonEmpty)
  }

  test("the median is always reported, even from one sample") {
    assert(Stats.nameable(1, 0.5))
    assert(Stats.percentile(Seq(7.0), 0.5) === Some(7.0))
    assert(!Stats.nameable(0, 0.5))
  }

  test("quantiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) === 2.5)
    assert(Stats.quantile(xs, 0.0) === 1.0)
    assert(Stats.quantile(xs, 1.0) === 4.0)
    assert(Stats.quantile((1 to 101).map(_.toDouble), 0.9) === 91.0)
  }
}
