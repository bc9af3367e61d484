package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** The CRD capabilities pipeline — the reference's second, name-keyed stream
  * (watcher.go:41-44, crd_debounce.go; SURVEY.md A11): same
  * debounce/dedup/delete-bypass semantics as the instance pipeline but keyed
  * by fully-qualified CRD name, with two contract differences:
  *
  *   - CRD UPDATE events are dropped at the router (watcher.go:240-243,
  *     prds/done/5-crd-change-detection.md:175) — only ADD/DELETE flow.
  *   - Payloads carry bare name strings, not instance objects
  *     (crd_debounce.go:16-19): {"upserts":["<plural>.<group>"...]} /
  *     {"deletes":[...]}.
  */
object CrdPipeline {

  final case class CrdEventRow(
      event_type: String, event_seq: Long, ts: Timestamp, crd_name: String)

  final case class CrdAction(action: String, crd_name: String)

  /** Per-name state, mirroring Debounce.Pending's three roles: a pending
    * (not yet quiesced) upsert, a delete tombstone, or — after a flush —
    * seq-only memory (`flushed = true`, no timer) so a cross-batch-
    * reordered OLDER event cannot act after the flush (without it, a
    * delayed DELETE seq=3 arriving after ADD seq=5 flushed would wrongly
    * delete the capability). `deadlineMs` is the armed flush deadline, so
    * a stale-only micro-batch restores the remaining window instead of
    * re-extending it (debounce.go:139-147 resets only on accepted events).
    *
    * CHECKPOINT-SCHEMA CONTRACT: this shape is persisted in the state
    * store, and Spark's state-schema check rejects a restart whose state
    * class gained/lost/retyped fields. A checkpoint written before
    * `flushed`/`deadlineMs` existed (the original 2-field shape) therefore
    * fails on upgrade — DISCARD the CRD pipeline's checkpoint dir when
    * upgrading across a Pending shape change. That is safe by design: CRD
    * state is fully reconstructible from one resync pass (A19 re-lists
    * everything, and the REST upsert contract is idempotent), so a
    * discarded checkpoint costs one resync, never data loss. The shape is
    * considered FROZEN from here; a future change must bump a new state
    * class name + checkpoint dir rather than mutate this one in place.
    */
  final case class Pending(
      seq: Long, tombstone: Boolean = false, flushed: Boolean = false,
      deadlineMs: Long = 0L)

  /** Same keyed-state shape as Debounce.stateFunc, over names: tombstones
    * block cross-batch out-of-order resurrection and expire via timeout;
    * flushed keys stay resident as seq memory (bounded by the CRD count,
    * far below the instance pipeline's live-key bound).
    */
  def stateFunc(debounceMs: Long)(
      name: String,
      events: Iterator[CrdEventRow],
      state: GroupState[Pending]): Iterator[CrdAction] = {
    if (state.hasTimedOut) {
      state.getOption match {
        case Some(p) if !p.tombstone && !p.flushed =>
          // quiesced upsert flushes; keep seq memory, no timer
          state.update(Pending(p.seq, flushed = true))
          Iterator(CrdAction(SyncAction.Upsert, name))
        case _ =>
          // tombstone expiry (or a stray timeout on flushed memory)
          state.remove()
          Iterator.empty
      }
    } else {
      val prevDeadline = state.getOption
        .filterNot(_.flushed).map(_.deadlineMs).filter(_ > 0)
      var out = List.empty[CrdAction]
      var applied = false
      events.toSeq.sortBy(_.event_seq).foreach { e =>
        if (state.getOption.forall(_.seq < e.event_seq)) {
          if (e.event_type == "DELETE") {
            applied = true
            state.update(Pending(e.event_seq, tombstone = true))
            out ::= CrdAction(SyncAction.Delete, name)
          } else if (e.event_type == "ADD") {
            applied = true
            state.update(Pending(e.event_seq))
          } // UPDATE dropped (watcher.go:240-243)
        }
      }
      state.getOption match {
        case Some(p) if !p.flushed =>
          // invoking the function clears the timeout, so armed state must
          // re-set one — but only ACCEPTED events move the deadline
          val now = state.getCurrentProcessingTimeMs()
          val deadline =
            if (applied || prevDeadline.isEmpty) now + debounceMs
            else prevDeadline.get
          state.update(p.copy(deadlineMs = deadline))
          state.setTimeoutDuration(math.max(1L, deadline - now))
        case _ => () // flushed memory: resident, timerless
      }
      out.reverse.iterator
    }
  }

  def debounced(events: Dataset[CrdEventRow], debounceMs: Long)(
      implicit spark: SparkSession): Dataset[CrdAction] = {
    import spark.implicits._
    events
      .filter(_.event_type != "UPDATE")
      .groupByKey(_.crd_name)
      .flatMapGroupsWithState(
        OutputMode.Append(),
        GroupStateTimeout.ProcessingTimeTimeout)(stateFunc(debounceMs))
  }

  /** Name payloads: deletes first (fast path), upserts chunked — same
    * split/chunk/escape contract as the instance pipeline (Payloads.build).
    */
  def payloads(actions: Seq[CrdAction], maxBatch: Int = 50): Seq[String] = {
    val (dels, ups) = actions.partition(_.action == SyncAction.Delete)
    Payloads.build(
      dels.map(a => Payloads.jstr(a.crd_name)),
      ups.map(a => Payloads.jstr(a.crd_name)),
      maxBatch)
  }

  def start(
      events: Dataset[CrdEventRow],
      sink: RestSink,
      config: SyncPipeline.Config = SyncPipeline.Config())(
      implicit spark: SparkSession): StreamingQuery = {
    SyncPipeline.applyStateStoreConf(spark, config)
    LocalCheckpointFileManager.install(spark)
    val actions = debounced(events, config.debounceMs)
    val maxBatch = config.maxBatch
    val writer = actions.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(config.flushIntervalMs))
      .foreachBatch { (batch: Dataset[CrdAction], _: Long) =>
        if (config.executorSideSink)
          // same per-partition sender tradeoff as SyncPipeline.start: no
          // driver round-trip; per-name order preserved (one state partition)
          batch.foreachPartition { (it: Iterator[CrdAction]) =>
            Payloads.deliver(sink, payloads(it.toSeq, maxBatch))
          }
        else
          Payloads.deliver(sink, payloads(batch.collect().toSeq, maxBatch))
      }
    val w =
      if (config.checkpointDir.nonEmpty) {
        SyncPipeline.stampStateVersion(spark, config.checkpointDir)
        writer.option("checkpointLocation", config.checkpointDir)
      } else writer
    w.start()
  }
}
