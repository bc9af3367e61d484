package perfbench

import org.scalatest.funsuite.AnyFunSuite
import perfbench.SyncModel._

class SyncModelSpec extends AnyFunSuite {
  private val W = 1000L
  private def ev(kind: String, seq: Long, t: Long, key: String, v: String = "",
      crd: Boolean = false) = Event(kind, seq, t, key, v, crd)
  private def sent(es: Event*) = replay(es, W).map(_._2)

  test("last state wins: updates inside the window coalesce into one upsert") {
    val out = replay(Seq(ev("ADD", 1, 0, "a", "1"), ev("UPDATE", 2, 300, "a", "2"),
      ev("UPDATE", 3, 600, "a", "3")), W)
    assert(out == Seq(1600L -> Upsert("a", "3", crd = false)))
  }

  test("a quiet period flushes, and the next change is sent again") {
    assert(sent(ev("ADD", 1, 0, "a", "1"), ev("UPDATE", 2, 2000, "a", "2")) ==
      Seq(Upsert("a", "1", crd = false), Upsert("a", "2", crd = false)))
  }

  test("a delete is sent at once and cancels the pending upsert") {
    val out = replay(Seq(ev("ADD", 1, 0, "a", "1"), ev("DELETE", 2, 400, "a")), W)
    assert(out == Seq(400L -> Delete("a", crd = false)))
    assert(finalState(out.map(_._2)) == Map((false, "a") -> None))
  }

  test("an update that leaves the labels as last flushed is suppressed") {
    assert(sent(ev("ADD", 1, 0, "a", "1"), ev("UPDATE", 2, 2000, "a", "1")) ==
      Seq(Upsert("a", "1", crd = false)))
    // but an ADD with unchanged labels is always sent
    assert(sent(ev("ADD", 1, 0, "a", "1"), ev("ADD", 2, 2000, "a", "1")).size == 2)
  }

  test("after a delete, suppression memory is gone") {
    assert(sent(ev("ADD", 1, 0, "a", "1"), ev("DELETE", 2, 2000, "a"),
      ev("UPDATE", 3, 4000, "a", "1")) ==
      Seq(Upsert("a", "1", crd = false), Delete("a", crd = false),
        Upsert("a", "1", crd = false)))
  }

  test("CRD updates are dropped; CRD adds flush by name; deletes are immediate") {
    assert(sent(ev("UPDATE", 1, 0, "w.example.com", crd = true)).isEmpty)
    assert(sent(ev("ADD", 1, 0, "w.example.com", crd = true),
      ev("UPDATE", 2, 500, "w.example.com", crd = true)) ==
      Seq(Upsert("w.example.com", "", crd = true)))
    val out = replay(Seq(ev("ADD", 1, 0, "w.example.com", crd = true),
      ev("DELETE", 2, 200, "w.example.com", crd = true)), W)
    assert(out == Seq(200L -> Delete("w.example.com", crd = true)))
  }

  test("instances and CRDs with the same name are separate keys") {
    val st = finalState(sent(ev("ADD", 1, 0, "x", "1"), ev("ADD", 2, 0, "x", crd = true),
      ev("DELETE", 3, 10, "x", crd = true)))
    assert(st == Map((false, "x") -> Some("1"), (true, "x") -> None))
  }

  test("mismatches name the keys whose received state differs") {
    val want = Map((false, "a") -> Some("2"), (false, "b") -> None)
    assert(mismatches(want, want).isEmpty)
    assert(mismatches(want, Map((false, "a") -> Some("1"))) == Seq(
      "instance a: expected 2, received 1",
      "instance b: expected deleted, received nothing"))
  }

  test("payloads split deletes from upserts and chunk upserts") {
    val ps = payloads(Seq(Delete("a", crd = false)) ++
      (1 to 3).map(i => Upsert(s"k$i", s"$i", crd = false)), maxBatch = 2)
    assert(ps == Seq("""{"deletes":["a"]}""",
      """{"upserts":[{"id":"k1","labels":{"v":"1"}},{"id":"k2","labels":{"v":"2"}}]}""",
      """{"upserts":[{"id":"k3","labels":{"v":"3"}}]}"""))
  }
}
