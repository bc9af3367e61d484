package graft.pipeline

import graft.queries.InvertedIndex
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The namesake sync→index loop on the LEXICAL side: a streaming CDC of
  * document upserts/deletes keeps the persisted [[InvertedIndex]] fresh,
  * exactly as [[IndexSync]] does for the vector stores. Same discipline
  * throughout: last-state-wins per doc_id inside the epoch (the A13
  * contract, an executor-side max_by — document text never visits the
  * driver), per-store replay markers written after the index's own meta
  * commit, idempotent re-application when a marker is lost.
  *
  * Each stream epoch applies as ONE index commit
  * ([[InvertedIndex.applyDelta]]): touched live ids are tombstoned and
  * the surviving upserts' postings land in the SAME epoch, so a
  * concurrent bm25TopK never sees an updated document as absent and a
  * crash leaves either the old state or the new — never the gap the
  * earlier delete-then-append application had between its two commits
  * (the MatViewSync atomicity, now on the lexical loop). A replayed
  * epoch converges: the re-applied tombstones kill the earlier copy, the
  * re-applied postings supersede it.
  *
  * Churn-proofing mirrors IndexSync: `compactEvery > 0` runs
  * [[InvertedIndex.compact]] every N applied epochs at
  * `compactMinDeadFrac`, bounding dead postings under sustained update
  * churn. Counters ride [[Metrics.global]] as `graft_lexsync_*` (A20
  * parity for this loop).
  */
object LexIndexSync {

  /** One document CDC event (ADD/UPDATE/DELETE; text ignored on DELETE). */
  final case class DocEvent(event_type: String, event_seq: Long,
      doc_id: Long, text: String)

  /** Apply one epoch's events to the index. Returns (upserts, deletes)
    * applied — (0, 0) when the index already absorbed the epoch.
    */
  def applyBatch(spark: SparkSession, events: Dataset[DocEvent],
      epochId: Long, indexDir: String): (Long, Long) = {
    if (IndexSync.marked(spark, s"$indexDir/_index", epochId)) {
      Metrics.global.inc("graft_lexsync_skipped_epochs_total")
      return (0L, 0L)
    }
    // the pin below is the batch's only scan: an emptiness probe ahead of
    // it would re-run the source scan and over-count the progress's
    // numInputRows (as in IndexSync; emptiness comes from the histogram)
    val last = events.toDF()
      .groupBy("doc_id")
      .agg(max_by(struct(col("event_type"), col("text")),
        col("event_seq")).as("e"))
      .select(col("doc_id"),
        col("e.event_type").as("event_type"), col("e.text").as("text"))
      .localCheckpoint()
    val upDf = last.filter(col("event_type") =!= "DELETE")
      .select("doc_id", "text")
    // the only driver-side view of the batch: the 2-row verb histogram
    val counts = last.groupBy((col("event_type") === "DELETE").as("is_del"))
      .count().collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) return (0L, 0L)
    val (nUp, nDel) = (counts.getOrElse(false, 0L), counts.getOrElse(true, 0L))
    // one atomic index epoch: tombstone every touched live id and land
    // the fresh texts under the same commit
    InvertedIndex.applyDelta(spark, upDf, last.select("doc_id"), indexDir)
    IndexSync.mark(spark, s"$indexDir/_index", epochId)
    Metrics.global.inc("graft_lexsync_epochs_total")
    Metrics.global.inc("graft_lexsync_upserts_total", nUp)
    Metrics.global.inc("graft_lexsync_deletes_total", nDel)
    (nUp, nDel)
  }

  /** Seq convenience overload (specs, batch replays). */
  def applyBatch(spark: SparkSession, events: Seq[DocEvent], epochId: Long,
      indexDir: String): (Long, Long) = {
    import spark.implicits._
    if (events.isEmpty) return (0L, 0L)
    applyBatch(spark, spark.createDataset(events), epochId, indexDir)
  }

  /** Maintain the index from a CDC stream — checkpointed offsets +
    * idempotent epoch application on the shared [[SyncLoop]] driver.
    */
  def start(
      events: Dataset[DocEvent],
      indexDir: String,
      checkpointDir: String,
      triggerMs: Long = 100,
      compactEvery: Int = 0,
      compactMinDeadFrac: Double = 0.3)(
      implicit spark: SparkSession): StreamingQuery =
    SyncLoop.start(events, checkpointDir, triggerMs, compactEvery)(
      (batch, epochId) => applyBatch(spark, batch, epochId, indexDir)
    ) { () =>
      InvertedIndex.compact(spark, indexDir, compactMinDeadFrac)
      Metrics.global.inc("graft_lexsync_compactions_total")
    }
}
