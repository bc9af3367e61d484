package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The CRD capabilities pipeline — the reference's second, name-keyed stream
  * (watcher.go:41-44, crd_debounce.go; SURVEY.md A11): the instance
  * pipeline's [[Debounce]] keyed by fully-qualified CRD name, with two
  * contract differences, both decided here:
  *
  *   - CRD UPDATE events are dropped at the router (watcher.go:240-243,
  *     prds/done/5-crd-change-detection.md:175) — only ADD/DELETE flow, so
  *     the A10 no-op suppression never applies to this route.
  *   - Payloads carry bare name strings, not instance objects
  *     (crd_debounce.go:16-19): {"upserts":["<plural>.<group>"...]} /
  *     {"deletes":[...]}.
  */
object CrdPipeline {

  final case class CrdEventRow(
      event_type: String, event_seq: Long, ts: Timestamp, crd_name: String)

  /** The router: UPDATE dropped, the name as the debounce key
    * (`id = name = crd_name`).
    */
  private[pipeline] def routed(e: CrdEventRow): Option[ResourceEventRow] =
    if (e.event_type == "UPDATE") None
    else Some(ResourceEventRow(e.event_type, e.event_seq, e.ts, e.crd_name,
      "", e.crd_name, "", "", "", null, null, null))

  /** Name payloads: deletes first (fast path), upserts chunked — same
    * split/chunk/escape contract as the instance pipeline (Payloads.build).
    */
  def payloads(actions: Seq[SyncAction], maxBatch: Int = 50): Seq[String] = {
    val (dels, ups) = actions.partition(_.action == SyncAction.Delete)
    Payloads.build(
      dels.map(a => Payloads.jstr(a.id)),
      ups.map(a => Payloads.jstr(a.id)),
      maxBatch)
  }

  def start(
      events: Dataset[CrdEventRow],
      sink: RestSink,
      config: SyncPipeline.Config = SyncPipeline.Config())(
      implicit spark: SparkSession): StreamingQuery = {
    import spark.implicits._
    SyncPipeline.start(events.flatMap(routed), sink, config,
      SyncPipeline.Route.Crds)
  }
}
