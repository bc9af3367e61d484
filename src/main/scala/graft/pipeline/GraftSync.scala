package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lower, max_by, struct}
import org.apache.spark.sql.streaming.StreamingQuery

/** The composition root — the reference's cmd/main.go:106-182 as one wiring
  * function: env config → filtered event source → instance pipeline (+ CRD
  * capabilities pipeline when enabled) → HTTP sinks → scheduled/ad-hoc
  * resync → operational API. A user of the reference runs this instead and
  * keeps their env vars, wire format, and endpoints.
  *
  *   WATCH_DIR=/var/log/k8s-events \
  *   INSTANCES_ENDPOINT=http://vectordb:3000/api/v1/instances/sync \
  *   CAPABILITIES_ENDPOINT=http://vectordb:3000/api/v1/capabilities/sync \
  *   spark-submit ... --class graft.pipeline.GraftSync ...
  *
  * Routing mirrors the reference's watcher: the instance pipeline sees
  * kinds passing the A2 allow/blocklist (CRDs are blocklisted by default),
  * while CRD events — force-watched past both lists whenever the
  * capabilities pipeline is on (A21) — feed the name-keyed CRD pipeline.
  */
object GraftSync {

  /** Everything started by [[wire]], stoppable as a unit. */
  final case class Running(
      instances: StreamingQuery,
      crds: Option[StreamingQuery],
      scheduler: ResyncScheduler,
      api: ApiServer) extends AutoCloseable {
    override def close(): Unit = {
      api.close()
      scheduler.close()
      crds.foreach(_.stop())
      instances.stop()
    }
  }

  /** Batch snapshot of the event log's current state (the resync source):
    * last event per id wins; deleted keys drop out. The reference resyncs
    * from its informer cache — here the event log IS the source of truth,
    * so the snapshot is one batch scan + one max_by aggregation.
    */
  def snapshot(spark: SparkSession, dir: String): Dataset[ResourceEventRow] = {
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders.product[ResourceEventRow].schema
    spark.read.schema(schema).json(dir).as[ResourceEventRow]
      .groupBy("id")
      .agg(max_by(struct("*"), col("event_seq")).as("last"))
      .select("last.*").as[ResourceEventRow]
      .filter(col("event_type") =!= "DELETE")
  }

  /** Wire and start the full system; sinks injectable for tests (default:
    * the production HTTP transport against the config endpoints).
    */
  def wire(
      spark: SparkSession,
      cfg: SyncPipeline.Config,
      watchDir: String,
      instanceSink: Option[RestSink] = None,
      crdSink: Option[RestSink] = None): Running = {
    implicit val s: SparkSession = spark
    val iSink = instanceSink.getOrElse(RestSink.http(cfg.instancesEndpoint))
    val events =
      if (cfg.dsv2Source) SyncPipeline.fileSourceV2(spark, watchDir)
      else SyncPipeline.fileSource(spark, watchDir)

    // A21 at the SOURCE (watcher.go:198-205): the effective watch set —
    // the A2 lists force-unioned with CRDs when the capabilities pipeline
    // is on — prunes events neither pipeline wants before the stream
    // splits. The lists hold plural resource types like the reference's
    // config; events carry Kinds, so the filters see the mapped resource
    // string.
    val mappedKind =
      graft.functions.KubeFunctions.kindToResourceType(col("kind"))
    val watched = events.filter(cfg.effectiveWatchFilter(mappedKind))
    val isCrd = lower(col("kind"))
      .isin("customresourcedefinition", "customresourcedefinitions")

    // A2 allow/blocklist for instances (CRDs blocklisted by default, so
    // they route ONLY to the capabilities pipeline below)
    val instanceQuery = SyncPipeline.start(
      watched.filter(cfg.watchFilter(mappedKind)), iSink, cfg)

    // A21/A11: capabilities pipeline, the same debounce keyed by name in
    // its own query (checkpoint `<dir>/crd`) — CRDs reach here through the
    // force-union in effectiveWatchFilter even when the A2 lists would
    // exclude them
    import spark.implicits._
    val cSink =
      if (!cfg.crdPipelineEnabled) None
      else Some(crdSink.getOrElse(RestSink.http(cfg.capabilitiesEndpoint)))
    val crdQuery = cSink.map { sink =>
      val crdEvents = watched.filter(isCrd)
        .map(e => CrdPipeline.CrdEventRow(e.event_type, e.event_seq, e.ts, e.name))
      CrdPipeline.start(crdEvents, sink, cfg.copy(checkpointDir =
        if (cfg.checkpointDir.isEmpty) "" else cfg.checkpointDir + "/crd"))
    }

    // A19: RESYNC_INTERVAL_MIN cadence + POST /api/v1/resync. Like the
    // reference's relist of the GVRs it watches, each route replays only
    // its own share of the snapshot through its own payload/sink path;
    // the count is both routes' sum.
    def resync(): Long = {
      val snap = snapshot(spark, watchDir)
      val instances =
        SyncPipeline.resync(snap.filter(cfg.watchFilter(mappedKind)), iSink, cfg.maxBatch)
      val crds = cSink.fold(0L) { sink =>
        val names = snap.filter(isCrd).select("name").distinct().as[String].collect()
        Payloads.deliver(sink, CrdPipeline.payloads(
          names.toSeq.map(n => SyncAction(SyncAction.Upsert, n, None)), cfg.maxBatch))
        names.length.toLong
      }
      instances + crds
    }
    val scheduler = ResyncScheduler.fromConfig(cfg, () => resync()).start()
    val api = ApiServer.fromConfig(cfg, scheduler).start()
    Running(instanceQuery, crdQuery, scheduler, api)
  }

  /** zap-style level names (config.go:55) → log4j. */
  private[pipeline] def log4jLevel(level: String): String =
    level.toUpperCase match {
      case "DEBUG" => "DEBUG"
      case "WARN" | "WARNING" => "WARN"
      case "ERROR" => "ERROR"
      case _ => "INFO"
    }

  def main(args: Array[String]): Unit = {
    val cfg = SyncPipeline.Config.fromEnv()
    val watchDir = args.headOption
      .orElse(sys.env.get("WATCH_DIR"))
      .getOrElse(sys.error("pass the event-log dir as arg 1 or WATCH_DIR"))
    // spark-submit supplies the master. LOG_LEVEL (config.go:55, the
    // reference's zap level) → log4j level, applied by the production
    // entrypoint only: wire() leaves the caller's session logging alone
    // (tests share a quiet session).
    val spark = graft.GraftSession(None, log4jLevel(cfg.logLevel), Seq(
      "spark.app.name" -> "graft-sync",
      "spark.sql.shuffle.partitions" -> graft.GraftSession.cpus(32)))
    val running = wire(spark, cfg, watchDir)
    sys.addShutdownHook(running.close())
    // await ANY stream, not just instances: a dead CRD capabilities query
    // must fail the process (and its exception must surface) rather than
    // leaving a half-alive controller that answers probes while capability
    // sync is silently stopped — the reference's manager exits when any
    // component dies (cmd/main.go:190-193)
    spark.streams.awaitAnyTermination()
  }
}
