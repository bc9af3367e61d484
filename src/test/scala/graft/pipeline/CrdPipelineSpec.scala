package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.api.java.{Optional => JOptional}
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalatest.funsuite.AnyFunSuite

/** The CRD route's keyed-state transitions: CRD-shaped rows (the router's
  * output, keyed by name) through [[Debounce.stateFunc]] — flushed seq
  * memory must block cross-batch-reordered stale events, and stale-only
  * batches must restore (not re-extend) the debounce window.
  */
class CrdPipelineSpec extends AnyFunSuite {
  import Debounce.Pending

  private val name = "widgets.example.com"
  private val ts = new Timestamp(0)
  private def ev(t: String, seq: Long) =
    CrdPipeline.routed(CrdPipeline.CrdEventRow(t, seq, ts, name)).get
  private val fn = Debounce.stateFunc(5000L) _

  private def stateAt(
      s: Option[Pending], nowMs: Long, timedOut: Boolean = false) =
    TestGroupState.create[Pending](
      s.map(JOptional.of[Pending]).getOrElse(JOptional.empty[Pending]()),
      GroupStateTimeout.ProcessingTimeTimeout, nowMs,
      JOptional.empty[Long](), hasTimedOut = timedOut)

  private def names(out: List[SyncAction]) = out.map(a => (a.action, a.id))

  test("a quiesced upsert flushes and leaves resident seq memory") {
    val s = stateAt(Some(Pending(ev("ADD", 5), 5)), 6000L, timedOut = true)
    val out = fn(name, Iterator.empty, s).toList
    assert(names(out) == List((SyncAction.Upsert, name)))
    assert(s.get == Pending(ev("ADD", 5), 5, flushed = true))
  }

  test("a cross-batch-reordered stale DELETE after a flush is rejected") {
    // ADD seq=5 flushed; a delayed DELETE seq=3 arrives later — without
    // the flushed seq memory it would wrongly delete the capability
    val flushed = Pending(ev("ADD", 5), 5, flushed = true)
    val s = stateAt(Some(flushed), 7000L)
    val out = fn(name, Iterator(ev("DELETE", 3)), s).toList
    assert(out.isEmpty)
    assert(s.get == flushed)
    assert(!s.getTimeoutTimestampMs.isPresent) // memory stays timerless
  }

  test("a genuinely newer DELETE after a flush is honored") {
    val s = stateAt(Some(Pending(ev("ADD", 5), 5, flushed = true)), 7000L)
    val out = fn(name, Iterator(ev("DELETE", 7)), s).toList
    assert(names(out) == List((SyncAction.Delete, name)))
    assert(s.get.tombstone && s.get.seq == 7)
    assert(s.getTimeoutTimestampMs.isPresent) // tombstone expires via timeout
  }

  test("a stale-only micro-batch restores the remaining window, not a fresh one") {
    // t=1000: ADD seq 5 accepted → deadline 6000
    val s1 = stateAt(None, 1000L)
    fn(name, Iterator(ev("ADD", 5)), s1).toList
    assert(s1.getTimeoutTimestampMs.get() == 6000L)
    // t=3000: duplicate ADD seq 5 (at-least-once replay) — deadline STAYS
    val s2 = stateAt(Some(s1.get), 3000L)
    fn(name, Iterator(ev("ADD", 5)), s2).toList
    assert(s2.getTimeoutTimestampMs.get() == 6000L)
    // t=3000: accepted ADD seq 6 → deadline re-extends to 8000
    val s3 = stateAt(Some(s2.get), 3000L)
    fn(name, Iterator(ev("ADD", 6)), s3).toList
    assert(s3.getTimeoutTimestampMs.get() == 8000L)
  }

  test("tombstone blocks a stale ADD and expires at timeout") {
    val s = stateAt(Some(Pending(ev("DELETE", 9), 9, tombstone = true)), 2000L)
    assert(fn(name, Iterator(ev("ADD", 4)), s).isEmpty)
    assert(s.get.tombstone && s.get.seq == 9)
    val s2 = stateAt(Some(s.get), 9000L, timedOut = true)
    assert(fn(name, Iterator.empty, s2).isEmpty)
    assert(s2.isRemoved)
  }
}
