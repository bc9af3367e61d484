package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {
  test("self time subtracts the union of the children's intervals") {
    val spans = Seq(
      Span(1, 0, "row", 0, 1000),
      Span(2, 1, "build", 100, 300),
      Span(3, 1, "run", 250, 900),
      Span(4, 3, "job", 300, 400))
    val self = Tracer.selfSeconds(spans)
    assert(self("row") == 200 / 1e9) // 1000 - |[100, 900)|
    assert(self("build") == 200 / 1e9)
    assert(self("run") == 550 / 1e9)
    assert(self("job") == 100 / 1e9)
  }

  test("a disabled tracer records nothing and passes values through") {
    val t = new Tracer(enabled = false)
    assert(t.time("x")(_ => 5) == 5)
    assert(t.record("y", 0, 0, 1) == 0L)
    assert(t.all.isEmpty)
  }
}
