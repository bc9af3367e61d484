package graft.pipeline

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming._

/** The debounce operator on Spark 4's `transformWithState` arbitrary-state
  * API — semantically identical to [[Debounce]] (same pure transitions:
  * [[Debounce.applyEvents]] / [[Debounce.onTimeout]]), but with REAL
  * per-key timers instead of the single `GroupStateTimeout` slot:
  *
  *   - `flatMapGroupsWithState` gives each key ONE timeout that is cleared
  *     whenever the function is invoked for the key, so [[Debounce.stateFunc]]
  *     must re-arm it defensively on every call. Here a timer is a first-class
  *     registration (`registerTimer`/`deleteTimer`) that survives unrelated
  *     invocations — the exact shape of the reference's per-key
  *     `time.AfterFunc` (debounce.go:139-147): arm on accept, delete the
  *     superseded deadline, and `handleExpiredTimer` fires independently.
  *   - State lives in named typed slots (`ValueState[Pending]`) with
  *     per-state-var schema evolution support, vs one opaque encoder blob.
  *
  * `transformWithState` requires the RocksDB state store provider, so
  * [[SyncPipeline.start]] runs this operator exactly when
  * `Config.rocksDbState` is set (the 100 TB design point: state off-heap,
  * bounded by live keys) — on RocksDB, the classic operator's per-batch
  * timeout scan over the whole store is the slow shape at 10^6 keys.
  *
  * The processing-time caveat of the classic path still applies: timers fire
  * inside micro-batches, so a quiet source defers expiry until the next
  * batch (pair with `keepAliveTick` when that matters).
  */
object DebounceTws {

  /** `StatefulProcessor` carrying the debounce transitions. Stateless itself
    * (serialized to executors); all per-key data lives in `pending`.
    */
  final class Processor(debounceMs: Long)
      extends StatefulProcessor[String, ResourceEventRow, SyncAction] {
    import Debounce._

    @transient private var pending: ValueState[Pending] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      pending = getHandle.getValueState[Pending](
        "pending", Encoders.product[Pending], TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[ResourceEventRow],
        timers: TimerValues): Iterator[SyncAction] = {
      val prev = if (pending.exists()) Some(pending.get()) else None
      // an armed (non-flushed) state always has its deadline registered as a
      // timer; flushed suppression-memory has none (event-driven residency)
      val prevDeadline = armedDeadline(prev)
      val (next, out, applied) = applyEvents(prev, rows.toSeq)
      next match {
        case Some(p) if !p.flushed =>
          val deadline = nextDeadline(applied, prevDeadline,
            timers.getCurrentProcessingTimeInMs(), debounceMs)
          if (!prevDeadline.contains(deadline)) {
            // timer reset on accepted events (debounce.go:139-147): the
            // superseded registration is deleted, not left to fire stale
            prevDeadline.foreach(getHandle.deleteTimer)
            getHandle.registerTimer(deadline)
          }
          pending.update(p.copy(deadlineMs = deadline))
        case Some(p) =>
          prevDeadline.foreach(getHandle.deleteTimer)
          pending.update(p)
        case None =>
          prevDeadline.foreach(getHandle.deleteTimer)
          pending.clear()
      }
      out.iterator
    }

    override def handleExpiredTimer(
        key: String,
        timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[SyncAction] = {
      if (!pending.exists()) return Iterator.empty
      val p = pending.get()
      // deleteTimer makes stale firings unreachable in normal flow; the
      // deadline guard keeps the transition safe against replay anyway
      if (p.flushed || info.getExpiryTimeInMs() < p.deadlineMs) return Iterator.empty
      val (next, emit) = onTimeout(p)
      next match {
        case Some(np) => pending.update(np)
        case None     => pending.clear()
      }
      emit.iterator
    }
  }

  /** The streaming operator: keyed CDC stream → debounced SyncAction stream.
    * Drop-in equivalent of [[Debounce.apply]] on the modern state API.
    */
  def apply(events: Dataset[ResourceEventRow], debounceMs: Long)(
      implicit spark: SparkSession): Dataset[SyncAction] = {
    import spark.implicits._
    events
      .groupByKey(_.id)
      .transformWithState(
        new Processor(debounceMs),
        TimeMode.ProcessingTime(),
        OutputMode.Append())
  }
}
