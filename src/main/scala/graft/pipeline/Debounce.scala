package graft.pipeline

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-key debounce with last-state-wins and delete fast-path — the
  * reference's three hardest semantics (debounce.go:104-149, A12-A14) in one
  * keyed state function:
  *
  *   - A12 debounce: an upsert is held until its key has been quiet for the
  *     debounce window; any newer event for the key resets the timer.
  *   - A13 last-state-wins: a newer pending upsert replaces the older one —
  *     exactly one (the final) upsert is ever emitted per quiet period.
  *   - A14 delete bypass + cancel: DELETE skips the debounce entirely (emitted
  *     in its own micro-batch, bounded by the trigger interval, matching the
  *     reference's <1 s assertion) and cancels any pending upsert for the key.
  *
  * Both routes run this one state machine: the instance stream keyed by id
  * (debounce.go) and the CRD stream keyed by name after [[CrdPipeline]]'s
  * router (crd_debounce.go).
  *
  * The reference needs a generation counter to guard timer races
  * (debounce.go:53-58); here the state store serializes per-key access, so the
  * race cannot exist — `GroupState` + ProcessingTimeTimeout replaces
  * `time.AfterFunc` + mutex + generation.
  *
  *   - A10 no-op suppression: the reference drops UPDATE events whose
  *     labels/annotations did not change (watcher.go:315-331, gated at
  *     :240-247) using the informer cache's old object. The stream has no
  *     old object, so the equivalent here is remembering the last *flushed*
  *     row per key and suppressing an UPDATE flush whose synced metadata is
  *     identical. ADDs always flush, as in the reference (only UpdateFunc is
  *     gated).
  *
  * Scale: state is hash-partitioned by id across executors (the shuffle before
  * the stateful operator is the only exchange) and per-key state is one row.
  * A flushed key keeps its last-sent row as suppression memory, so state is
  * bounded by the number of LIVE keys — the same bound as the reference's
  * informer cache, which also holds every live object. Deletes evict fully
  * (tombstone expires at timeout), and the RocksDB state store option handles
  * key spaces beyond executor memory at the 100 TB design point.
  */
object Debounce {

  /** Per-key state: a pending (not yet quiesced) upsert, a tombstone left
    * behind by a DELETE, or — after a flush — the last-sent row kept as
    * no-op-suppression memory (`flushed = true`, no timer armed).
    *
    * The tombstone carries the delete's seq so an older-seq upsert arriving
    * in a LATER micro-batch (cross-batch reorder) cannot resurrect the
    * deleted key; it expires via the same timeout that flushes upserts.
    * `last` rides along on a pending upsert so the flush can compare against
    * what the sink already has.
    */
  final case class Pending(
      row: ResourceEventRow,
      seq: Long,
      tombstone: Boolean = false,
      flushed: Boolean = false,
      last: Option[ResourceEventRow] = None,
      // wall-clock flush deadline (processing-time ms) armed when the pending
      // upsert was last *accepted* — lets a stale-only micro-batch restore the
      // remaining window instead of re-extending it (the reference resets its
      // timer only on accepted events, debounce.go:139-147)
      deadlineMs: Long = 0L)

  /** NOTE (state compatibility): any change to Pending changes the persisted
    * state (Kryo bytes on the flatMapGroupsWithState path, the ValueState
    * schema on DebounceTws), so it bumps [[SyncPipeline.StateVersion]]:
    * checkpoints written by an older build are refused at start — upgrades
    * start from a fresh checkpointLocation (and rely on a resync for
    * convergence), as with the reference's stateless restarts.
    */

  /** A10: the reference's metadataChanged (watcher.go:315-331), inverted —
    * true when the synced metadata (labels + annotations) is identical.
    * Null and empty maps compare equal, matching mapsEqual(nil, empty).
    */
  def metadataUnchanged(a: ResourceEventRow, b: ResourceEventRow): Boolean = {
    def n(m: Map[String, String]) = Option(m).getOrElse(Map.empty[String, String])
    n(a.labels) == n(b.labels) && n(a.annotations) == n(b.annotations)
  }

  /** Pure per-key transition: fold a batch of events for one key into the
    * (new state, emissions, arm-timer?) triple. Unit-testable without Spark.
    *
    * Events are applied in `event_seq` order. A DELETE cancels pending state
    * and emits immediately (leaving a tombstone); upserts replace pending
    * (keeping the max seq) and arm the quiet-period timer.
    */
  /** The returned Boolean is "any event was ACCEPTED" (not merely whether
    * armed state exists): a micro-batch of only stale (seq ≤ current) events
    * must not re-extend an already-armed debounce window.
    */
  def applyEvents(
      pending: Option[Pending],
      events: Seq[ResourceEventRow]): (Option[Pending], List[SyncAction], Boolean) = {
    var state = pending
    var out = List.empty[SyncAction]
    var applied = false
    events.sortBy(_.event_seq).foreach { e =>
      if (state.forall(_.seq < e.event_seq)) {
        applied = true
        if (e.event_type == "DELETE") {
          // cancel pending upsert (debounce.go:108-114), remember the seq;
          // suppression memory is dropped — after a delete, the next upsert
          // must always be sent
          state = Some(Pending(e, e.event_seq, tombstone = true))
          out ::= SyncAction.delete(e.id)
        } else {
          // carry the last-flushed row forward (None after a tombstone)
          val last = state.filterNot(_.tombstone)
            .flatMap(p => if (p.flushed) Some(p.row) else p.last)
          state = Some(Pending(e, e.event_seq, last = last))
        }
      }
    }
    (state, out.reverse, applied)
  }

  /** Pure timeout transition: tombstones and stale flush-memory evict; a
    * quiesced upsert flushes — unless it is an UPDATE whose synced metadata
    * equals the last flushed row (A10 no-op suppression). Either way the
    * flushed row is retained as the key's suppression memory.
    */
  def onTimeout(p: Pending): (Option[Pending], Option[SyncAction]) =
    if (p.tombstone || p.flushed) (None, None)
    else {
      val noop = p.row.event_type == "UPDATE" &&
        p.last.exists(metadataUnchanged(_, p.row))
      val next = Some(Pending(p.row, p.seq, flushed = true))
      (next, if (noop) None else Some(SyncAction.upsert(p.row)))
    }

  /** The flush deadline armed on `p`; flushed memory has none. */
  def armedDeadline(p: Option[Pending]): Option[Long] =
    p.filterNot(_.flushed).map(_.deadlineMs).filter(_ > 0)

  /** The deadline armed state carries out of a batch: only ACCEPTED events
    * (or state with nothing armed yet) start a fresh window; a stale-only
    * batch keeps the remaining one (debounce.go:139-147 resets the timer
    * on accepted events only).
    */
  def nextDeadline(applied: Boolean, prevDeadline: Option[Long], nowMs: Long,
      debounceMs: Long): Long =
    if (applied || prevDeadline.isEmpty) nowMs + debounceMs else prevDeadline.get

  /** GroupState wrapper: timeout fires after `debounceMs` of per-key quiet;
    * each new event re-arms it (timer reset, debounce.go:139-147).
    */
  def stateFunc(debounceMs: Long)(
      id: String,
      events: Iterator[ResourceEventRow],
      state: GroupState[Pending]): Iterator[SyncAction] = {
    if (state.hasTimedOut) {
      val (next, emit) = onTimeout(state.get)
      next match {
        // flush memory persists WITHOUT a timer — revisited only when the
        // key's next event arrives (informer-cache-equivalent residency)
        case Some(p) => state.update(p)
        case None    => state.remove()
      }
      emit.iterator
    } else {
      val prevDeadline = armedDeadline(state.getOption)
      val (next, out, applied) = applyEvents(state.getOption, events.toSeq)
      next match {
        // invoking the function clears the key's timeout, so armed state must
        // re-set one either way
        case Some(p) if !p.flushed =>
          val now = state.getCurrentProcessingTimeMs()
          val deadline = nextDeadline(applied, prevDeadline, now, debounceMs)
          state.update(p.copy(deadlineMs = deadline))
          state.setTimeoutDuration(math.max(1L, deadline - now))
        case Some(p) => state.update(p)
        case None    => if (state.exists) state.remove()
      }
      out.iterator
    }
  }

  /** The streaming operator: keyed CDC stream → debounced SyncAction stream.
    * Grouping on the `id` column hash-partitions by key — the pipeline's one
    * shuffle — without deserializing every row to compute its key.
    *
    * The state is Kryo-encoded. Spark re-resolves a product state encoder
    * every micro-batch, and the label/annotation maps inside [[Pending]]
    * would get fresh lambda-variable names each time, so the state
    * projection would miss the codegen cache and compile again on every
    * trigger (measured: one janino compile per batch per query;
    * DebounceStateEncoderSpec). Kryo state has no schema for Spark to check
    * on restart, so [[SyncPipeline.StateVersion]] is the only guard: bump
    * it with any change to [[Pending]].
    */
  def apply(events: Dataset[ResourceEventRow], debounceMs: Long)(
      implicit spark: SparkSession): Dataset[SyncAction] = {
    import spark.implicits._
    events
      .groupBy("id").as[String, ResourceEventRow]
      .flatMapGroupsWithState(
        OutputMode.Append(),
        GroupStateTimeout.ProcessingTimeTimeout)(stateFunc(debounceMs))(
        Encoders.kryo[Pending], newProductEncoder[SyncAction])
  }
}
