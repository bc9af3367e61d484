package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("nearest-rank percentiles of 1..100") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
  }

  test("a percentile is supported only with ten samples beyond it") {
    assert(Stats.beyond(1000, 99) == 10)
    assert(Stats.supported(1000, 99))
    assert(Stats.beyond(999, 99) == 9)
    assert(!Stats.supported(999, 99))
    assert(Stats.supported(100, 90) && !Stats.supported(99, 90))
    assert(Stats.supported(40, 75) && !Stats.supported(39, 75))
  }

  test("the summary states its sample count and whether the tail is supported") {
    val ok = Stats.summary((1 to 1000).map(_.toDouble), 99)
    assert(ok.n == 1000 && ok.p50 == 500.0 && ok.tail == 990.0)
    assert(ok.describe("x") == "x: n=1000 p50=500.000 p99=990.000 (10 samples beyond p99)")
    val thin = Stats.summary((1 to 200).map(_.toDouble), 99)
    assert(thin.describe("x").endsWith("(2 samples beyond p99, fewer than 10: unsupported)"))
  }
}
