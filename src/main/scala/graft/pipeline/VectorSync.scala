package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Embedding upsert sync — the literal "vector DB sync" capability
  * (SURVEY.md §2.B-LLM): a CDC stream of vector rows keyed by `vec_id`
  * applied to a downstream vector store through `foreachBatch`, the
  * streaming variant of the instance pipeline's A16 upsert/delete split.
  *
  * Delivery contract: exactly-once per (epoch, key). The reference is
  * at-most-once (drops on overload, rest.go has no dedup); here the sink is
  * idempotent — each micro-batch carries its epoch id, the store skips
  * epochs it has already fully applied, and checkpoint recovery replays at
  * most the uncommitted epoch. Upserts within a batch apply in event_seq
  * order so last-state-wins holds inside an epoch too.
  */
object VectorSync {

  final case class VecEvent(
      event_type: String, // ADD | UPDATE | DELETE
      event_seq: Long,
      vec_id: Long,
      embedding: Array[Float],
      label: Int)

  /** In-process stand-in for the downstream vector DB (the reference's
    * ChromaDB, README.md:156). Thread-safe; tracks applied epochs for
    * idempotent replay. A real deployment implements the same three methods
    * over the DB's bulk API.
    */
  final class VectorStore extends Serializable {
    private val rows = new java.util.concurrent.ConcurrentHashMap[Long, (Array[Float], Int)]
    private val epochs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val applications = new java.util.concurrent.atomic.AtomicLong

    /** Apply one micro-batch; returns false if the epoch was already applied
      * (replay after recovery) and was skipped. The epoch is recorded only
      * AFTER every mutation succeeds — marking first would turn a mid-apply
      * failure into a permanently half-applied epoch (the replay would be
      * skipped as "done"). A real DB-backed implementation must keep the
      * same order (or make mark+mutations one transaction).
      */
    def applyEpoch(epochId: Long, events: Seq[VecEvent]): Boolean = {
      if (epochs.contains(epochId)) return false // idempotent replay
      events.sortBy(_.event_seq).foreach { e =>
        if (e.event_type == "DELETE") rows.remove(e.vec_id)
        else rows.put(e.vec_id, (e.embedding, e.label))
      }
      epochs.add(epochId)
      applications.incrementAndGet()
      true
    }

    def get(vecId: Long): Option[(Array[Float], Int)] = Option(rows.get(vecId))
    def size: Int = rows.size
  }

  def start(
      events: Dataset[VecEvent],
      store: VectorStore,
      checkpointDir: String,
      triggerMs: Long = 100)(implicit spark: SparkSession): StreamingQuery = {
    LocalCheckpointFileManager.install(spark)
    // deliberately driver-side (unlike SyncPipeline's executorSideSink
    // option): exactly-once here hangs on applyEpoch being one atomic,
    // epoch-keyed store transaction — per-partition application would need
    // the store to dedupe on (epoch, partition) instead, weakening the
    // replay contract for no win at the payload sizes a vector CDC tick
    // carries (bounded by keys changed per trigger)
    events.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[VecEvent], epochId: Long) =>
        val evs = batch.collect().toSeq
        if (evs.nonEmpty) store.applyEpoch(epochId, evs)
        ()
      }
      .start()
  }
}
