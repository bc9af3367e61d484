package perfbench

import org.scalatest.funsuite.AnyFunSuite

class IndexServeSpec extends AnyFunSuite {
  test("a row's latency is its batch's commit time minus its due time") {
    // five rows due at 0, 100, ..., 400 ms, consumed as batches of 2, 0 and 3
    val due = Seq(0.0, 100.0, 200.0, 300.0, 400.0)
    val batches = Seq((2L, 1000.0), (0L, 1500.0), (3L, 2000.0))
    assert(IndexServe.latencies(batches, due, 0, 5) ==
      Seq(1000.0, 900.0, 1800.0, 1700.0, 1600.0))
  }

  test("only rows in [from, to) are timed") {
    val due = Seq(0.0, 100.0, 200.0, 300.0)
    val batches = Seq((1L, 500.0), (3L, 900.0))
    assert(IndexServe.latencies(batches, due, 1, 3) == Seq(800.0, 700.0))
  }
}
