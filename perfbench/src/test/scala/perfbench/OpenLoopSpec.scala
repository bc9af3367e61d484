package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {
  test("ten ticks carry exactly the per-second rate, whatever the rate") {
    Seq(1, 7, 20, 1999, 2000, 16000).foreach { eps =>
      assert((0L until 10L).map(OpenLoop.dueInTick(eps, _)).sum == eps)
      assert((0L until 100L).map(OpenLoop.dueInTick(eps, _)).sum == eps * 10)
    }
  }

  test("a stall is charged to every tick it delays, measured from the due grid") {
    val dues = (0 until 5).map(OpenLoop.due(1000.0, _))
    assert(dues == Seq(1000.0, 1100.0, 1200.0, 1300.0, 1400.0))
    // the writer stalls 250 ms at tick 1, then catches up without sleeping
    val actual = Seq(1000.5, 1350.0, 1351.0, 1352.0, 1400.0)
    assert(OpenLoop.lateness(dues, actual) == Seq(0.5, 250.0, 151.0, 52.0, 0.0))
  }

  test("an early writer is never credited negative lateness") {
    assert(OpenLoop.lateness(Seq(100.0), Seq(90.0)) == Seq(0.0))
  }

  test("zipf sampling favours low ranks and covers the range") {
    val cdf = OpenLoop.zipfCdf(100, 1.0)
    assert(math.abs(cdf.last - 1.0) < 1e-9)
    assert(OpenLoop.sample(cdf, 0.0) == 0)
    assert(OpenLoop.sample(cdf, 0.999999) == 99)
    val rng = new scala.util.Random(1)
    val hits = Array.fill(100)(0)
    (1 to 20000).foreach(_ => hits(OpenLoop.sample(cdf, rng.nextDouble())) += 1)
    assert(hits(0) > 5 * hits(20) && hits(20) > 0)
  }
}
