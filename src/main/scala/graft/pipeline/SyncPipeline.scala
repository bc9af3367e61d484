package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The end-to-end streaming sync pipeline (reference: cmd/main.go:106-182,
  * entry 1 of SURVEY.md §3): keyed CDC event stream → per-key debounce with
  * delete fast-path → foreachBatch sink that assembles wire payloads and
  * POSTs them through the retry envelope.
  *
  * Timing contract vs the reference (BASELINE.md): the trigger interval is
  * the flush cadence (A15, BATCH_FLUSH_INTERVAL_MS); deletes reach the sink
  * in the micro-batch that reads them, so delete latency = the wait for the
  * next trigger (up to one interval, or the end of a running batch) plus
  * one micro-batch (source read, state commit, delivery). Keep the interval
  * ≤ 500 ms and the batch short to stay under the reference's <1 s
  * assertion while upserts are still held by a 10 s debounce; checkpoint
  * writes go through [[LocalCheckpointFileManager]] because under Spark's
  * default local manager they were about half of a light batch.
  * Checkpointing upgrades the reference's at-most-once delivery (drops on
  * full channels) to exactly-once per epoch with idempotent upserts keyed
  * on id.
  *
  * Recovery caveat: state (pending upserts + their timers) is restored from
  * the checkpoint, but a recovered processing-time timer only fires when a
  * micro-batch executes, and the engine runs no batch until new data
  * arrives. A quiet source after restart therefore holds recovered upserts
  * indefinitely — deployments should emit a periodic keep-alive event (or
  * trigger a resync) after recovery. Covered by the A18 recovery test.
  */
object SyncPipeline {

  final case class Config(
      debounceMs: Long = 10000, // DEBOUNCE_WINDOW_MS (config.go:48)
      flushIntervalMs: Long = 500, // trigger cadence; ≤ delete-latency bound
      maxBatch: Int = 50, // BATCH_MAX_SIZE (config.go:50)
      checkpointDir: String = "",
      // 100 TB design point: per-key debounce state spills to RocksDB instead
      // of the executor heap (the reference's pending map is unbounded
      // in-memory, SURVEY.md §4). Session-wide conf; set before .start().
      rocksDbState: Boolean = false,
      // remaining A20 surface (config.go:44-57)
      instancesEndpoint: String = Config.DefaultInstancesEndpoint,
      capabilitiesEndpoint: String = "", // empty ⇒ CRD pipeline off (cmd/main.go:169-171)
      resyncIntervalMin: Long = 1440, // RESYNC_INTERVAL_MIN (config.go:51)
      watchResourceTypes: Seq[String] = Nil, // empty = all (config.go:52)
      excludeResourceTypes: Seq[String] = Config.DefaultExcludes, // config.go:53
      apiBindAddress: String = ":8082", // config.go:54
      logLevel: String = "info", // config.go:55
      // deliver payloads from executors (foreachPartition) instead of the
      // driver-side single-sender loop — the 100 TB sink path; the driver
      // mode stays default for strict reference parity (single ordered sender)
      executorSideSink: Boolean = false,
      // > 0: union a rate-source tick stream (filtered back out before the
      // stateful operator) so a micro-batch runs even when the real source
      // is quiet — recovered ProcessingTime timers only fire inside a batch,
      // so without this a post-restart quiet source holds recovered pending
      // upserts forever (the class scaladoc recovery caveat). Off by default
      // for strict source parity.
      keepAliveTick: Boolean = false,
      // run the debounce on Spark 4's transformWithState API (real per-key
      // timers, named state slots — see DebounceTws) instead of the classic
      // flatMapGroupsWithState path. Requires (and forces) the RocksDB
      // state store. Same semantics either way — DebounceTwsSpec holds the
      // two implementations to identical outputs.
      transformWithState: Boolean = false,
      // tail the event log through the engine's own DSv2 source
      // (fileSourceV2) instead of the built-in json stream; same rows,
      // pruning/pushdown in the parser, file-count offsets
      dsv2Source: Boolean = false) {

    /** CRD capabilities pipeline gate (cmd/main.go:136-171). */
    def crdPipelineEnabled: Boolean = capabilitiesEndpoint.nonEmpty

    /** A2 filter predicate for this config's allow/blocklists. */
    def watchFilter(kind: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      graft.functions.KubeFunctions.shouldWatch(
        kind, watchResourceTypes, excludeResourceTypes)

    /** A21 (watcher.go:198-205): the effective watched-type set — the
      * allowlist (or "all" sentinel) force-unioned with the CRD type whenever
      * the capabilities pipeline is on, bypassing both filter lists.
      */
    def effectiveWatchTypes: Seq[String] = {
      val base =
        if (watchResourceTypes.nonEmpty) watchResourceTypes.map(_.toLowerCase)
        else Seq("*")
      if (crdPipelineEnabled && !base.contains(Config.CrdType))
        base :+ Config.CrdType
      else base
    }

    /** A21 predicate form: the A2 filter, except CRDs always pass when the
      * capabilities pipeline is enabled (allowlist or blocklist regardless).
      */
    def effectiveWatchFilter(kind: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (crdPipelineEnabled)
        watchFilter(kind) || (org.apache.spark.sql.functions.lower(kind)
          .isin(Config.CrdType, "customresourcedefinition"))
      else watchFilter(kind)
  }

  object Config {
    val DefaultInstancesEndpoint = "http://localhost:3000/api/v1/instances/sync"

    /** Blocklist default (config.go:53): high-churn noise types. */
    val DefaultExcludes: Seq[String] = Seq(
      "events", "leases", "endpointslices", "componentstatuses",
      "customresourcedefinitions")

    val CrdType = "customresourcedefinitions"

    /** A20 (reference config.go:44-57): env-var config with the reference's
      * defaults; CSV lists parse trimmed + lowercased (config.go:85-99).
      * The one deliberate divergence: flushIntervalMs defaults to 500 ms (not
      * the reference's 5000) because here the trigger interval is also the
      * delete-latency bound (see the class scaladoc timing contract).
      */
    def fromEnv(env: Map[String, String] = sys.env): Config = Config(
      // non-positive values would crash the query at runtime
      // (setTimeoutDuration / Trigger.ProcessingTime reject them) — treat
      // them like unparseable input and fall back to the defaults
      debounceMs = env.get("DEBOUNCE_WINDOW_MS").flatMap(_.toLongOption)
        .filter(_ > 0).getOrElse(10000L),
      flushIntervalMs = env.get("BATCH_FLUSH_INTERVAL_MS").flatMap(_.toLongOption)
        .filter(_ > 0).getOrElse(500L),
      maxBatch = env.get("BATCH_MAX_SIZE").flatMap(_.toIntOption)
        .filter(_ > 0).getOrElse(50),
      checkpointDir = env.getOrElse("CHECKPOINT_DIR", ""),
      instancesEndpoint = env.get("INSTANCES_ENDPOINT").filter(_.nonEmpty)
        .getOrElse(DefaultInstancesEndpoint),
      capabilitiesEndpoint = env.getOrElse("CAPABILITIES_ENDPOINT", ""),
      resyncIntervalMin = env.get("RESYNC_INTERVAL_MIN").flatMap(_.toLongOption)
        .filter(_ > 0).getOrElse(1440L),
      watchResourceTypes = env.get("WATCH_RESOURCE_TYPES")
        .map(parseCsv).getOrElse(Nil),
      excludeResourceTypes = env.get("EXCLUDE_RESOURCE_TYPES")
        .map(parseCsv).getOrElse(DefaultExcludes),
      apiBindAddress = env.get("API_BIND_ADDRESS").filter(_.nonEmpty)
        .getOrElse(":8082"),
      logLevel = env.get("LOG_LEVEL").filter(_.nonEmpty).getOrElse("info"),
      // engine-extension var (no reference analog): EVENT_SOURCE=dsv2 tails
      // the log through graft.sources.EventLogSource
      dsv2Source = env.get("EVENT_SOURCE").exists(_.equalsIgnoreCase("dsv2")))

    /** CSV normalize: split, trim, lowercase, drop empties (config.go:85-99). */
    def parseCsv(s: String): Seq[String] =
      s.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSeq
  }

  /** Frozen shape version of the per-key debounce state (COVERAGE.md pins
    * [[Debounce.Pending]]'s shape as of round 7). Bump ONLY together with a
    * migration story: a checkpoint written under a different version must
    * fail fast below with an actionable message, not surface as Spark's
    * opaque state-deserialization error mid-batch.
    */
  val StateVersion: Int = 1

  private val StateVersionFile = "_graft_state_version"

  /** Stamp-or-check the state shape version in the checkpoint dir. First
    * start writes the stamp; every later start verifies it. Goes through
    * the session's checkpoint file manager, so any checkpoint scheme (local,
    * HDFS, object store) works.
    */
  private[pipeline] def stampStateVersion(spark: SparkSession, dir: String): Unit = {
    import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
    import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    val base = new Path(dir)
    val fm = CheckpointFileManager.create(base, spark.sessionState.newHadoopConf())
    val p = new Path(base, StateVersionFile)
    if (!fm.exists(p)) {
      fm.mkdirs(base)
      // atomic no-overwrite create: the stamp appears whole or not at all,
      // and a racing starter that loses gets FileAlreadyExists and checks
      // the winner's stamp below
      val out = fm.createAtomic(p, overwriteIfPossible = false)
      try {
        out.write(s"$StateVersion\n".getBytes("UTF-8"))
        out.close()
      } catch {
        case _: FileAlreadyExistsException => ()
        case e: Throwable => out.cancel(); throw e
      }
    }
    val in = fm.open(p)
    val found =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    require(found == StateVersion.toString,
      s"checkpoint $dir was written with state version $found, this build " +
        s"uses $StateVersion: start from a fresh checkpointLocation (a " +
        "resync rebuilds downstream state) or run the matching build")
  }

  private[pipeline] def applyStateStoreConf(spark: SparkSession, config: Config): Unit =
    // config is authoritative either way — a one-way set would leak RocksDB
    // into later pipelines started on the same session with the default.
    // transformWithState only runs on RocksDB, so that path forces it.
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      if (config.rocksDbState || config.transformWithState)
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      else
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")

  /** Wire the pipeline onto any streaming Dataset of events. `send` is the
    * transport (real HTTP in prod, a recording stub in tests); it is invoked
    * on the driver per micro-batch — payload counts are small by contract
    * (batches of ≤ maxBatch rows), the heavy lifting (debounce state, key
    * shuffle) stays on executors.
    */
  def start(
      events: Dataset[ResourceEventRow],
      sink: RestSink,
      config: Config = Config())(implicit spark: SparkSession): StreamingQuery = {
    applyStateStoreConf(spark, config)
    LocalCheckpointFileManager.install(spark)
    val source =
      if (config.keepAliveTick) events.union(keepAliveTicks(spark))
        .filter((r: ResourceEventRow) => r.event_type != KeepAliveType)
      else events
    val actions =
      if (config.transformWithState) DebounceTws(source, config.debounceMs)
      else Debounce(source, config.debounceMs)
    val maxBatch = config.maxBatch
    val writer = actions.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(config.flushIntervalMs))
      .foreachBatch { (batch: Dataset[SyncAction], _: Long) =>
        // delivery counters increment on the DRIVER, and only after the
        // epoch's delivery action completed: a failed epoch replays without
        // having counted, and executor-side task retries can't inflate a
        // counter that only the driver's /metrics endpoint ever serves
        if (config.executorSideSink) {
          // 100 TB path: each partition builds and POSTs its own payloads
          // with its own sink instance (no driver round-trip, no driver
          // memory bound). Tradeoff vs the reference's single sender:
          // cross-partition payload order is not defined — per-KEY order
          // still holds (a key lives in one state partition), which is the
          // invariant the idempotent downstream needs.
          // ONE job per epoch: each partition delivers its own payloads,
          // then emits its (upserts, deletes) tally — collect() returns
          // exactly one tally per SUCCESSFUL task, so a task retry (which
          // redelivers to the idempotent downstream) still counts once.
          // The previous shape (persist → foreachPartition → a second
          // groupBy-count job → unpersist) paid a whole extra job + cache
          // round-trip per 100 ms trigger just to tally what the delivery
          // pass had already iterated.
          import org.apache.spark.sql.Encoders
          val tallies = batch.mapPartitions { it =>
            val acts = it.toSeq
            Payloads.deliver(sink, Payloads.fromActions(acts, maxBatch))
            Iterator.single((
              acts.count(_.action == SyncAction.Upsert).toLong,
              acts.count(_.action == SyncAction.Delete).toLong))
          }(Encoders.product[(Long, Long)]).collect()
          Metrics.global.inc("graft_upserts_total", tallies.map(_._1).sum)
          Metrics.global.inc("graft_deletes_total", tallies.map(_._2).sum)
        } else {
          val acts = batch.collect().toSeq // bounded: ≤ keys quiesced this tick
          Payloads.deliver(sink, Payloads.fromActions(acts, maxBatch))
          Metrics.global.inc("graft_upserts_total",
            acts.count(_.action == SyncAction.Upsert).toLong)
          Metrics.global.inc("graft_deletes_total",
            acts.count(_.action == SyncAction.Delete).toLong)
        }
      }
    val w =
      if (config.checkpointDir.nonEmpty) {
        stampStateVersion(spark, config.checkpointDir)
        writer.option("checkpointLocation", config.checkpointDir)
      } else writer
    w.start()
  }

  private[pipeline] val KeepAliveType = "KEEPALIVE"

  /** A 1 row/s rate source disguised as (immediately discarded) events: its
    * offsets advance every trigger, so the engine always runs a micro-batch
    * and recovered/armed ProcessingTime timers get their chance to fire even
    * when the real source is idle. The rows never reach the stateful
    * operator (filtered on [[KeepAliveType]] before Debounce).
    */
  private def keepAliveTicks(spark: SparkSession): Dataset[ResourceEventRow] = {
    import spark.implicits._
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .select(org.apache.spark.sql.functions.col("timestamp"))
      .as[java.sql.Timestamp]
      .map(ts => ResourceEventRow(KeepAliveType, 0L, ts, "_keepalive", "", "",
        "", "", "", null, null, null))
  }

  /** Resync (reference: watcher.go:349-383 / A19): a full batch snapshot
    * replayed through the same payload/sink path; returns the count synced.
    * Batch/stream unification — same Payloads + RestSink code.
    *
    * Two delivery shapes, mirroring [[Config.executorSideSink]]:
    *   - driver (default, reference parity — the watcher's resync is one
    *     ordered sender loop): stream the snapshot through toLocalIterator
    *     in maxBatch chunks, never materializing it;
    *   - executor (`executorSide = true`, the 100 TB path): each partition
    *     builds and POSTs its own payloads where the snapshot rows live —
    *     a full resync no longer serializes the corpus through one driver.
    *     Cross-partition payload order is undefined (same tradeoff as the
    *     streaming executor sink); a resync is one idempotent upsert per
    *     key, so ordering carries no information here. The driver only
    *     sums per-task counts — one Long per partition.
    */
  def resync(
      instances: Dataset[ResourceEventRow],
      sink: RestSink,
      maxBatch: Int = 50,
      executorSide: Boolean = false): Long = {
    val mb = math.max(1, maxBatch)
    if (executorSide) {
      import org.apache.spark.sql.Encoders
      instances.mapPartitions { it =>
        var n = 0L
        it.grouped(mb).foreach { chunk =>
          n += chunk.size
          Payloads.deliver(sink,
            Payloads.fromActions(chunk.map(SyncAction.upsert), mb))
        }
        Iterator.single(n)
      }(Encoders.scalaLong).collect().sum
    } else {
      var n = 0L
      // stream driver-side in maxBatch chunks — never materializes the snapshot
      import scala.jdk.CollectionConverters._
      instances.toLocalIterator().asScala.grouped(mb).foreach { chunk =>
        n += chunk.size
        Payloads.deliver(sink, Payloads.fromActions(chunk.map(SyncAction.upsert), mb))
      }
      n
    }
  }

  /** Convenience: file-based streaming source of event JSON lines (the
    * engine's analog of the reference's informer tail, A1).
    * `maxFilesPerTrigger` is the source-side rate limit — the engine's
    * backpressure analog of the reference's bounded channels (A15/BATCH_MAX:
    * instead of dropping on overload, intake is throttled per micro-batch).
    */
  def fileSource(
      spark: SparkSession,
      dir: String,
      maxFilesPerTrigger: Int = 0): Dataset[ResourceEventRow] = {
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders.product[ResourceEventRow].schema
    val reader = spark.readStream.schema(schema)
    val limited =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader
    limited.json(dir).as[ResourceEventRow]
  }

  /** The same event-log tail through the engine's own DataSource V2 reader
    * (graft.sources.EventLogSource): file-count offsets, pruning/pushdown
    * into the parser, maxFilesPerTrigger honored via admission control.
    * Selected by Config.dsv2Source (EVENT_SOURCE=dsv2); the built-in json
    * stream stays the default.
    */
  def fileSourceV2(
      spark: SparkSession,
      dir: String,
      maxFilesPerTrigger: Int = 0): Dataset[ResourceEventRow] = {
    import spark.implicits._
    val reader = spark.readStream.format("graft.sources.EventLogSource")
    val limited =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader
    limited.load(dir).as[ResourceEventRow]
  }

  /** Split a batch of actions the way the sink does — exposed for the
    * batch-mode diff path and tests.
    */
  def splitBatch(df: DataFrame): (DataFrame, DataFrame) =
    (df.filter(org.apache.spark.sql.functions.col("action") =!= SyncAction.Delete),
      df.filter(org.apache.spark.sql.functions.col("action") === SyncAction.Delete))
}
