package graft.pipeline

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.api.java.{Optional => JOptional}
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Model check of the one debounce state machine on both routes, with no
  * Spark session: random per-key ADD/UPDATE/DELETE streams — reordered,
  * with duplicate seqs, split into random micro-batches on a simulated
  * clock — drive [[Debounce.stateFunc]] through `TestGroupState`, and every
  * batch's deliveries, per-key state and timer deadline must equal those of
  * a plain per-key model of debounce.go / crd_debounce.go.
  *
  * The driver keeps only (state, timeout) per key between batches and
  * builds a fresh `GroupState` for every call, so each batch starts the way
  * a restart from checkpoint does. Each data batch runs right after a
  * timer batch at the same clock reading (expired keys fire first, as with
  * a trigger much shorter than the window, and as the reference's real
  * timers would); random timer-only batches fall in between.
  *
  * The model states the contract in its own terms: within a batch a key's
  * events apply in seq order; an event at or below the key's newest seq is
  * stale and changes nothing; an accepted upsert holds the key's row and
  * arms the window, an accepted DELETE is delivered at once, cancels the
  * held row and arms the window for its tombstone; a firing flushes the
  * held row (unless it is an UPDATE whose labels and annotations equal the
  * last flushed row's — the A10 no-op suppression, null and empty maps
  * equal) and remembers it, or forgets a tombstoned key entirely. The CRD
  * route drops UPDATE and delivers names.
  */
class DebounceModelSpec extends AnyFunSuite {
  import DebounceModelSpec._

  private val WindowMs = 1005L // odd: a deadline never lands on a batch time

  test("both routes deliver what the model of debounce.go / crd_debounce.go delivers") {
    val seen = Map(false -> Coverage(), true -> Coverage()) // by sc.crds
    (1 to 3000).foreach { i =>
      val sc = scenario.apply(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(fail(s"no scenario for seed $i"))
      run(sc, seen(sc.crds), s"seed $i (${if (sc.crds) "crds" else "instances"})")
    }
    val (instances, crds) = (seen(false), seen(true))
    info(s"instances $instances; crds $crds")
    // every rule the model states decided some step on each route; the
    // CRD route never holds an UPDATE, so A10 never suppresses there
    assert(instances.copy(crdUpdatesDropped = 1).productIterator.forall(_ != 0), instances)
    assert(instances.crdUpdatesDropped == 0)
    assert(crds.copy(noopSuppressed = 1).productIterator.forall(_ != 0), crds)
    assert(crds.noopSuppressed == 0)
  }

  private def run(sc: Scenario, seen: Coverage, where: String): Unit = {
    val engine = new Engine(WindowMs)
    val model = new Model(WindowMs, sc.crds, seen)
    def compare(phase: String, got: List[SyncAction], want: List[Out]): Unit = {
      if (sc.crds) assert(CrdPipeline.payloads(got) == namePayloads(want), s"$where $phase")
      else assert(got == want.map {
        case Out(key, None) => SyncAction.delete(key)
        case Out(_, Some(e)) => SyncAction.upsert(instanceRow(e))
      }, s"$where $phase")
      assert(engine.view == model.view, s"$where $phase")
    }
    sc.steps.foreach { case Step(at, events) =>
      compare(s"timers at $at", engine.fire(at), model.fire(at))
      if (events.nonEmpty) {
        val rows =
          if (sc.crds) events.flatMap(e => CrdPipeline.routed(
            CrdPipeline.CrdEventRow(e.typ, e.seq, new Timestamp(e.seq), e.key)))
          else events.map(instanceRow)
        compare(s"batch at $at", engine.deliver(at, rows), model.deliver(at, events))
      }
    }
    assert(model.view.values.forall(_._4.isEmpty), s"$where: a timer is left armed")
  }
}

object DebounceModelSpec {

  /** One generated event; the key is an instance id or a CRD name, and
    * `labels` is its synced metadata (annotations stay null).
    */
  final case class In(key: String, typ: String, seq: Long, labels: Map[String, String])

  /** A micro-batch at `at` ms; no events = a timer-only batch. */
  final case class Step(at: Long, events: Seq[In])

  final case class Scenario(crds: Boolean, steps: Seq[Step])

  /** A delivery: an upsert of `row`, or a delete when `row` is empty. */
  final case class Out(key: String, row: Option[In])

  /** How often each rule of the model decided a step. */
  final case class Coverage(
      var lastStateWins: Int = 0,
      var deleteCancels: Int = 0,
      var staleAcrossBatches: Int = 0,
      var staleOnlyKeepsDeadline: Int = 0,
      var tombstoneExpiries: Int = 0,
      var noopSuppressed: Int = 0,
      var crdUpdatesDropped: Int = 0)

  def instanceRow(e: In): ResourceEventRow =
    ResourceEventRow(e.typ, e.seq, new Timestamp(e.seq), e.key, "ns", e.key,
      "Deployment", "apps/v1", "apps", e.labels, null, new Timestamp(0))

  /** crd_debounce.go's wire shape, written out independently. */
  def namePayloads(outs: List[Out]): Seq[String] = {
    def q(k: String) = "\"" + k + "\""
    val (dels, ups) = outs.partition(_.row.isEmpty)
    (if (dels.isEmpty) Nil else Seq(dels.map(o => q(o.key)).mkString("""{"deletes":[""", ",", "]}"))) ++
      ups.grouped(50).map(_.map(o => q(o.key)).mkString("""{"upserts":[""", ",", "]}"))
  }

  /** Per key: (seq, tombstone, flushed, armed deadline). */
  type View = Map[String, (Long, Boolean, Boolean, Option[Long])]

  /** [[Debounce.stateFunc]] under test, with (state, timeout) carried
    * between batches the way the state store carries them.
    */
  final class Engine(windowMs: Long) {
    import Debounce.Pending
    private val state = mutable.TreeMap.empty[String, (Pending, Option[Long])]
    private val fn = Debounce.stateFunc(windowMs) _

    private def call(key: String, now: Long, rows: Seq[ResourceEventRow],
        timedOut: Boolean): List[SyncAction] = {
      val gs = TestGroupState.create[Pending](
        state.get(key).map(s => JOptional.of(s._1)).getOrElse(JOptional.empty[Pending]()),
        GroupStateTimeout.ProcessingTimeTimeout, now, JOptional.empty[Long](),
        hasTimedOut = timedOut)
      val out = fn(key, rows.iterator, gs).toList
      gs.getOption match {
        case Some(p) =>
          val t = gs.getTimeoutTimestampMs
          state(key) = (p, if (t.isPresent) Some(t.get()) else None)
        case None => state -= key
      }
      out
    }

    /** A timer batch: every key whose timeout passed, in key order. */
    def fire(now: Long): List[SyncAction] =
      state.toList.collect { case (k, (_, Some(t))) if t < now => k }
        .flatMap(call(_, now, Nil, timedOut = true))

    /** A data batch: each key's rows in one call, in key order. */
    def deliver(now: Long, rows: Seq[ResourceEventRow]): List[SyncAction] =
      rows.groupBy(_.id).toList.sortBy(_._1)
        .flatMap { case (k, rs) => call(k, now, rs, timedOut = false) }

    def view: View = state.map { case (k, (p, t)) =>
      k -> ((p.seq, p.tombstone, p.flushed, t)) }.toMap
  }

  /** The model's per-key record. */
  private final case class Key(
      seq: Long, // newest accepted seq
      held: Option[In], // upsert waiting for its window
      tombstone: Boolean,
      deadline: Option[Long], // flush or tombstone expiry
      sent: Option[In]) // last flushed upsert: A10 memory

  /** The reference's per-key debounce as plain mutable state. */
  final class Model(windowMs: Long, crds: Boolean, seen: Coverage) {
    private val keys = mutable.TreeMap.empty[String, Key]

    private def sameMeta(a: Map[String, String], b: Map[String, String]) =
      Option(a).getOrElse(Map.empty) == Option(b).getOrElse(Map.empty)

    def fire(now: Long): List[Out] =
      keys.toList.filter(_._2.deadline.exists(_ < now)).flatMap { case (k, st) =>
        st.held match {
          case None =>
            seen.tombstoneExpiries += 1
            keys -= k
            Nil
          case Some(e) =>
            keys(k) = st.copy(held = None, deadline = None, sent = Some(e))
            if (e.typ == "UPDATE" && st.sent.exists(s => sameMeta(s.labels, e.labels))) {
              seen.noopSuppressed += 1
              Nil
            } else List(Out(k, Some(e)))
        }
      }

    def deliver(now: Long, events: Seq[In]): List[Out] =
      events.groupBy(_.key).toList.sortBy(_._1).flatMap { case (k, evs) =>
        val before = keys.get(k)
        var (accepted, stale) = (false, false)
        val outs = evs.sortBy(_.seq).flatMap { e =>
          val st = keys.get(k)
          if (crds && e.typ == "UPDATE") {
            seen.crdUpdatesDropped += 1
            Nil
          } else if (st.exists(_.seq >= e.seq)) {
            if (before.exists(_.seq >= e.seq)) seen.staleAcrossBatches += 1
            stale = true
            Nil
          } else {
            accepted = true
            if (e.typ == "DELETE") {
              if (st.exists(_.held.nonEmpty)) seen.deleteCancels += 1
              keys(k) = Key(e.seq, None, tombstone = true, Some(now + windowMs), None)
              List(Out(k, None))
            } else {
              if (st.exists(_.held.nonEmpty)) seen.lastStateWins += 1
              keys(k) = Key(e.seq, Some(e), tombstone = false, Some(now + windowMs),
                st.flatMap(_.sent))
              Nil
            }
          }
        }
        if (stale && !accepted && before.exists(_.deadline.nonEmpty))
          seen.staleOnlyKeepsDeadline += 1
        outs
      }

    def view: View = keys.map { case (k, st) =>
      k -> ((st.seq, st.tombstone, st.held.isEmpty && !st.tombstone, st.deadline)) }.toMap
  }

  private val labelsGen: Gen[Map[String, String]] = Gen.frequency(
    1 -> Gen.const[Map[String, String]](null), 1 -> Gen.const(Map.empty[String, String]),
    2 -> Gen.const(Map("v" -> "1")), 1 -> Gen.const(Map("v" -> "2")))

  private val typeGen: Gen[String] = Gen.frequency(
    2 -> Gen.const("ADD"), 5 -> Gen.const("UPDATE"), 3 -> Gen.const("DELETE"))

  /** One key's events in the order they happened, each at a position in
    * (0, 1): a sorted run, then about one in six delayed (a reorder) and one
    * in ten delivered twice (a duplicate seq).
    */
  private def keyStream(key: String): Gen[List[(Double, In)]] = for {
    n <- Gen.choose(1, 12)
    types <- Gen.listOfN(n, typeGen)
    labels <- Gen.listOfN(n, labelsGen)
    at <- Gen.listOfN(n, Gen.choose(0.0, 1.0)).map(_.sorted)
    delay <- Gen.listOfN(n, Gen.frequency(5 -> Gen.const(0.0), 1 -> Gen.choose(0.0, 0.3)))
    dup <- Gen.listOfN(n, Gen.frequency(9 -> Gen.const(None), 1 -> Gen.choose(0.0, 0.5).map(Some(_))))
  } yield types.indices.toList.flatMap { i =>
    val e = In(key, types(i), i + 1L, labels(i))
    (at(i) + delay(i), e) :: dup(i).map(d => (at(i) + d, e)).toList
  }

  /** Interleaved key streams cut into batches of 1-4 events, 10-1500 ms
    * apart, with timer-only batches in about three gaps in ten.
    */
  val scenario: Gen[Scenario] = for {
    crds <- Gen.oneOf(false, true)
    nKeys <- Gen.choose(1, 4)
    streams <- Gen.sequence[List[List[(Double, In)]], List[(Double, In)]](
      (0 until nKeys).map(k => keyStream(if (crds) s"k$k.example.com" else s"ns/apps/v1/Deployment/k$k")))
    events = streams.flatten.sortBy(_._1).map(_._2)
    sizes <- Gen.listOfN(events.size, Gen.choose(1, 4))
    batches = cut(events, sizes)
    gaps <- Gen.listOfN(batches.size, Gen.frequency(
      5 -> Gen.choose(1, 30), 2 -> Gen.choose(30, 150)).map(_ * 10L))
    timers <- Gen.listOfN(batches.size, Gen.frequency(
      7 -> Gen.const(None), 3 -> Gen.choose(1, 100).map(g => Some(g * 10L))))
  } yield {
    var now = 0L
    val steps = batches.indices.flatMap { i =>
      val timer = timers(i).map { g => now += g; Step(now, Nil) }
      now += gaps(i)
      timer.toList :+ Step(now, batches(i))
    }
    // one last timer batch past every window: held rows flush, tombstones go
    Scenario(crds, steps :+ Step(now + 3 * 1010L, Nil))
  }

  private def cut(events: List[In], sizes: List[Int]): List[List[In]] =
    if (events.isEmpty) Nil
    else events.take(sizes.head) :: cut(events.drop(sizes.head), sizes.tail)
}
