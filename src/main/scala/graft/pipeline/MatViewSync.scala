package graft.pipeline

import graft.queries.MatView
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The sync→derived-store loop for AGGREGATES: a streaming CDC of base-row
  * inserts/deletes keeps a persisted [[graft.queries.MatView]] continuously
  * fresh, the way [[IndexSync]]/[[LexIndexSync]] keep the vector and
  * lexical indexes fresh. Same executor-side discipline — the batch rows
  * never visit the driver (the op split is two filters; the only driver
  * view is the 2-row verb histogram for metrics) — but a DIFFERENT
  * exactly-once mechanism: MatView deltas are NOT idempotent (a replayed
  * retraction would subtract twice), so the replay gate is the stream-
  * epoch high-water mark INSIDE the view's own meta commit
  * ([[MatView.lastStreamEpoch]]) rather than a marker file written after
  * it — refresh and dedup are one atomic commit, leaving no crash window
  * in which a replay could double-apply. This is the transactional-sink
  * idempotence pattern (commit keyed by the stream's epochId) the index
  * loops approximate with convergent verbs + markers.
  *
  * Events are base-table rows plus an `op` column (INSERT/DELETE, the
  * reference's verbs; an update = DELETE old + INSERT new in one epoch).
  * `compactEvery > 0` consolidates the delta log every N applied epochs,
  * bounding serve-time merge width under sustained churn. Counters ride
  * [[Metrics.global]] as `graft_mvsync_*` (A20 parity for this loop).
  */
object MatViewSync {

  /** Fold one stream epoch into the view. Returns (inserts, retracts)
    * applied — (0, 0) when the view already absorbed this epoch (replay)
    * or the batch is empty.
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, epochId: Long,
      viewDir: String, opCol: String = "op"): (Long, Long) = {
    if (MatView.lastStreamEpoch(spark, viewDir) >= epochId) {
      Metrics.global.inc("graft_mvsync_skipped_epochs_total")
      return (0L, 0L)
    }
    // one materialization, three uses — and the batch's only scan: an
    // emptiness probe ahead of it would re-run the source scan and
    // over-count the progress's numInputRows (emptiness comes from the
    // histogram below)
    val pinned = batch.localCheckpoint()
    // bounded verb histogram (≤ |distinct ops| rows) doubles as the
    // validation gate: an op outside INSERT/DELETE (or NULL) must fail
    // LOUDLY here — the applyCdc filters downstream would silently drop
    // the row while the counters claimed it applied, and the view would
    // diverge from the base with green metrics
    val counts = pinned.groupBy(upper(col(opCol)).as("op"))
      .count().collect()
      .map(r => Option(r.getString(0)).getOrElse("NULL") -> r.getLong(1)).toMap
    if (counts.isEmpty) return (0L, 0L)
    val unknown = counts.keySet -- Set("INSERT", "DELETE")
    require(unknown.isEmpty,
      s"MatViewSync: unsupported op(s) ${unknown.mkString(", ")} in epoch " +
        s"$epochId — events carry INSERT/DELETE only (an update is " +
        "DELETE old + INSERT new)")
    val (nIns, nRet) = (counts.getOrElse("INSERT", 0L),
      counts.getOrElse("DELETE", 0L))
    MatView.applyCdc(spark, viewDir, pinned, opCol, streamEpoch = epochId)
    Metrics.global.inc("graft_mvsync_epochs_total")
    Metrics.global.inc("graft_mvsync_inserts_total", nIns)
    Metrics.global.inc("graft_mvsync_retracts_total", nRet)
    (nIns, nRet)
  }

  /** Maintain the view from a CDC stream — checkpointed offsets plus the
    * meta-commit replay gate, on the shared [[SyncLoop]] driver.
    */
  def start(
      events: DataFrame,
      viewDir: String,
      checkpointDir: String,
      triggerMs: Long = 100,
      compactEvery: Int = 0,
      opCol: String = "op")(
      implicit spark: SparkSession): StreamingQuery =
    SyncLoop.start(events, checkpointDir, triggerMs, compactEvery)(
      (batch, epochId) => applyBatch(spark, batch, epochId, viewDir, opCol)
    ) { () =>
      MatView.compact(spark, viewDir)
      Metrics.global.inc("graft_mvsync_compactions_total")
    }
}
