package perfbench

import org.scalatest.funsuite.AnyFunSuite

class DeclaredSpec extends AnyFunSuite {
  private val decl = Main.declared(java.nio.file.Paths.get("..", "BENCHMARK.json"))

  test("the metric list and units come from BENCHMARK.json, in order") {
    assert(decl.endToEnd.head == ("setup_s" -> "s"))
    assert(decl.endToEnd.map(_._1) == Seq("setup_s", "p50_ms", "tail_ms"))
    assert(decl.perLayer.contains("error_ratio" -> "ratio"))
  }

  test("every metric name is used once") {
    val names = (decl.endToEnd ++ decl.perLayer).map(_._1)
    assert(names.distinct.size == names.size)
  }
}
