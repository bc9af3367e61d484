package graft.pipeline

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one micro-batch driver all three sync→derived-store loops run
  * ([[IndexSync]], [[LexIndexSync]], [[MatViewSync]]): checkpointed
  * offsets, fixed trigger cadence, per-epoch `apply`, and the shared
  * compaction CADENCE — every `compactEvery` APPLIED epochs (an epoch
  * counts only if it changed the store; replays and empty batches do
  * not), run the store's `compact` hook. Extracted once so a fix to the
  * cadence rule cannot land in two loops and be forgotten in the third —
  * the [[graft.queries.EpochStore]] lesson applied to the driver side.
  * What stays PER-LOOP is everything that genuinely differs: the epoch
  * application itself (last-state-wins shape, replay gate mechanism,
  * verb split) and the compact verb. The cadence counter is in-memory
  * (a restart restarts the count) — compaction timing needs no crash
  * precision, only eventual firing.
  */
private[pipeline] object SyncLoop {

  def start[T](events: Dataset[T], checkpointDir: String, triggerMs: Long,
      compactEvery: Int)(
      apply: (Dataset[T], Long) => (Long, Long))(
      compact: () => Unit): StreamingQuery = {
    val applied = new java.util.concurrent.atomic.AtomicLong
    LocalCheckpointFileManager.install(events.sparkSession)
    events.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[T], epochId: Long) =>
        val (a, b) = apply(batch, epochId)
        if (compactEvery > 0 && (a > 0 || b > 0) &&
            applied.incrementAndGet() % compactEvery == 0) compact()
        ()
      }
      .start()
  }
}
