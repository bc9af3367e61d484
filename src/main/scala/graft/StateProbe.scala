package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Debounce-state soak probe: drives the RocksDB-backed debounce pipeline to
  * a million-key state population, then measures what test-scale suites
  * cannot — `runMain graft.StateProbe [keys] [mode] [loadPerS]`.
  *
  * Phase A (populate): ingest `keys` distinct ids at full speed and drain
  * until every key has flushed — state now holds one suppression-memory row
  * per live key (the informer-cache-equivalent residency), in RocksDB.
  *
  * Phase B (soak, ~60 s): sustained update load at `loadPerS` (default
  * 5000/s — below the ~8-10k/s single-box ceiling the bench records, the
  * headroom any provisioned deployment runs with; a saturated queue has
  * unbounded latency by construction, so asserting a latency bound AT
  * saturation would measure the probe's own backlog, not the engine) against
  * random existing keys, all held by the 10 s debounce. Every ~5 s a DELETE
  * for a provably-pending key probes the reference's sharpest bound — delete
  * visible at the sink in < 1 s while upserts are held
  * (internal/integration_test.go:240-241) — now with a 10^6-key store behind
  * it. Per-batch durations (p50/p99/max) are recorded for this phase only.
  *
  * Then: drain, and assert state residency lands exactly on keys − deletes
  * — deleted keys fully evict (tombstone expiry), live keys hold one row.
  *
  * Modes (the pipeline runs the transformWithState debounce exactly when the
  * RocksDB store is on):
  *   - `tws` (default): RocksDB + transformWithState + keep-alive tick. fMGWS
  *     finds expired ProcessingTime timeouts by scanning the whole store
  *     every batch — per-batch time linear in the key population, the exact
  *     failure mode a soak exists to expose; TWS registers expiry-indexed
  *     per-key timers, so timeout handling touches only keys that fire.
  *   - `noka`: as `tws` without the keep-alive tick.
  *   - `execsink`: as `tws` with the executor-side sink.
  *   - `heap`: fMGWS on the HDFS-backed (heap) store.
  *
  * Writes STATE_PROBE.json (cwd) and prints the same single JSON line.
  */
object StateProbe {

  /** Listener accumulating every batch's duration + state rows (lastProgress
    * polling would miss batches; recentProgress is a bounded ring).
    */
  private final class Collector extends StreamingQueryListener {
    val batchMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var recording = false
    @volatile var stateRowsPeak = 0L
    @volatile var stateRowsLast = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (recording) {
        Option(p.durationMs.get("triggerExecution")).foreach(d => batchMs.add(d))
        if (batchMs.size <= 3 && sys.env.contains("STATE_PROBE_DEBUG"))
          System.err.println(s"[probe] durations=${p.durationMs} " +
            s"rows=${p.numInputRows} ${p.stateOperators.headOption}")
      }
      if (p.stateOperators.nonEmpty) {
        val rows = p.stateOperators(0).numRowsTotal
        stateRowsLast = rows
        if (rows > stateRowsPeak) stateRowsPeak = rows
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val keys = args.headOption.map(_.toInt).getOrElse(1000000)
    val mode = args.drop(1).headOption.getOrElse("tws")
    require(Set("tws", "noka", "execsink", "heap").contains(mode),
      s"unknown mode $mode: tws | noka | execsink | heap")
    val loadPerS = args.drop(2).headOption.map(_.toInt).getOrElse(5000)
    val soakMs = 60000L
    val spark = GraftSession.local(32,
      // state partitions sized to the pipeline, not the box: every extra
      // state partition adds per-batch fixed commit/maintenance cost that
      // SERIALIZES on a single-box commit path (measured: 32 partitions ≈
      // 750 ms/batch floor even for a 1-row batch; 8 ≈ 390 ms — the
      // difference between meeting and missing the < 1 s delete bound). On a
      // real cluster the commit cost spreads across executors, so partition
      // count follows executor count there; locally 8 holds 125k keys per
      // RocksDB instance at the 10^6 design point, well within one
      // instance's comfort zone.
      "spark.sql.shuffle.partitions" ->
        sys.env.getOrElse("STATE_PROBE_PARTITIONS", "8"),
      // changelog checkpointing: commit appends the batch's delta instead of
      // snapshotting every RocksDB instance per batch — at 10^6 keys the
      // full-snapshot path is per-batch time proportional to STATE size
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    import graft.pipeline._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val s: SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[ResourceEventRow] =
      org.apache.spark.sql.Encoders.product[ResourceEventRow]

    // counters live in the static [[StateProbeSink]]: with the executor
    // sink (mode execsink) the RestSink closure is serialized into each
    // partition task, so a captured counter would increment per-task
    // copies — the statically-resolved object is the same instance across
    // local-mode tasks (the ExecResyncRecorder pattern)
    StateProbeSink.reset()
    val upserts = StateProbeSink.upserts
    val deletes = StateProbeSink.deletes
    val deleteSeen = StateProbeSink.deleteSeen
    val sink = new RestSink(
      post = StateProbeSink.post _,
      sleep = _ => (), jitter = () => 1.0)

    val source = MemoryStream[ResourceEventRow]
    // the reference scenario: 10 s debounce holding upserts, trigger = the
    // delete-latency bound; RocksDB so the 10^6-key state never tests the
    // heap instead of the store; keep-alive so quiet-phase timers still fire
    // mode execsink = the full 100 TB-shaped config: TWS timers on RocksDB
    // + per-partition payload delivery (Config.executorSideSink) — proves
    // the 10^6-key delete-latency bound on the config a large cluster
    // actually runs, not just the driver-sender one
    val cfg = SyncPipeline.Config(
      debounceMs = 10000, flushIntervalMs = 250, maxBatch = 500,
      checkpointDir = java.nio.file.Files.createTempDirectory("state_probe").toString,
      rocksDbState = mode != "heap", keepAliveTick = mode != "noka",
      executorSideSink = mode == "execsink")
    val collector = new Collector
    spark.streams.addListener(collector)
    val query = SyncPipeline.start(source.toDS(), sink, cfg)

    val ts = new java.sql.Timestamp(0)
    var seq = 0L
    def ev(i: Int, kind: String): ResourceEventRow = {
      seq += 1
      ResourceEventRow(
        kind, seq, ts, s"ns/apps/v1/Deployment/app-$i", "ns", s"app-$i",
        "Deployment", "apps/v1", "apps", Map("i" -> i.toString), null, ts)
    }

    // ---- phase A: populate — `keys` distinct ids, full speed, drain to
    // full flush (state = one suppression row per key) ---------------------
    val tA = System.nanoTime()
    val populateDeadline = System.currentTimeMillis() + 600000
    // windowed backpressure: ≤2 chunks unflushed in flight, so the timer
    // expiries (and their driver-side payload builds) spread across batches
    // instead of arriving as one `keys`-sized wave
    (0 until keys).grouped(50000).zipWithIndex.foreach { case (ids, ci) =>
      source.addData(ids.map(ev(_, "ADD")))
      while (upserts.get() < (ci.toLong - 1) * 50000 &&
        System.currentTimeMillis() < populateDeadline) Thread.sleep(100)
    }
    while (upserts.get() < keys && System.currentTimeMillis() < populateDeadline)
      Thread.sleep(250)
    val populateSecs = (System.nanoTime() - tA) / 1e9
    val populated = upserts.get()

    // ---- phase B: soak — sustained sub-ceiling update load over random
    // existing keys + a delete probe every ~5 s ----------------------------
    collector.recording = true
    val rnd = new scala.util.Random(42)
    val chunk = math.max(1, loadPerS / 4) // one enqueue per ~250 ms
    var deleteLat = List.empty[Double] // ms
    var nProbes = 0
    var lastProbeMs = -1L
    var deletedIds = Set.empty[Int] // probed keys stay deleted — never re-ADD
    val tB = System.nanoTime()
    var sent = 0L
    while ((System.nanoTime() - tB) / 1000000 < soakMs) {
      val ids = Seq.fill(chunk)(rnd.nextInt(keys)).filterNot(deletedIds)
      source.addData(ids.map(ev(_, "ADD")))
      sent += chunk
      val elapsedMs = (System.nanoTime() - tB) / 1000000
      if (elapsedMs - lastProbeMs >= 5000) {
        lastProbeMs = elapsedMs
        // victim from the chunk JUST enqueued: its upsert cannot have
        // flushed (the 10 s window opened milliseconds ago) — this delete
        // races tens of thousands of in-flight held upserts, per the
        // reference bound
        val victim = if (ids.nonEmpty) ids.head else rnd.nextInt(keys)
        val id = s"ns/apps/v1/Deployment/app-$victim"
        StateProbeSink.watchedDeletes += id
        deletedIds += victim
        nProbes += 1
        val sentNs = System.nanoTime()
        source.addData(Seq(ev(victim, "DELETE")))
        val guard = System.currentTimeMillis() + 30000
        while (!deleteSeen.containsKey(id) && System.currentTimeMillis() < guard)
          Thread.sleep(5)
        if (deleteSeen.containsKey(id))
          deleteLat ::= (deleteSeen.get(id) - sentNs) / 1e6
      }
      // pacing to loadPerS
      val aheadMs = sent * 1000 / loadPerS - (System.nanoTime() - tB) / 1000000
      if (aheadMs > 0) Thread.sleep(aheadMs)
    }
    val soakSecs = (System.nanoTime() - tB) / 1e9
    collector.recording = false

    // ---- drain + eviction: emissions quiet, then deleted keys must be
    // GONE and every live key must hold exactly one row --------------------
    val quietDeadline = System.currentTimeMillis() + 120000
    var lastCount = -1L
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() - quietSince < 12000 &&
      System.currentTimeMillis() < quietDeadline) {
      val c = upserts.get() + deletes.get()
      if (c != lastCount) { lastCount = c; quietSince = System.currentTimeMillis() }
      Thread.sleep(250)
    }
    val expectedRows = (keys - nProbes).toLong
    val evictDeadline = System.currentTimeMillis() + 60000
    while (collector.stateRowsLast != expectedRows &&
      System.currentTimeMillis() < evictDeadline) Thread.sleep(500)
    query.stop()
    spark.streams.removeListener(collector)

    val lat = deleteLat.sorted.toArray
    def pct(a: Array[Long], p: Double): Long =
      if (a.isEmpty) -1 else a((p * (a.length - 1)).round.toInt)
    val bm = collector.batchMs.toArray(Array.empty[java.lang.Long])
      .map(_.longValue()).sorted
    val latMax = if (lat.isEmpty) -1.0 else lat.last
    val r = (x: Double) => math.round(x * 10.0) / 10.0
    val json =
      s"""{"keys":$keys,"mode":"$mode","populate_s":${r(populateSecs)},""" +
        s""""populate_upserts_per_s":${r(populated / populateSecs)},""" +
        s""""soak_s":${r(soakSecs)},"soak_load_per_s":$loadPerS,""" +
        s""""upserts":${upserts.get()},"deletes":${deletes.get()},""" +
        s""""delete_probes":$nProbes,"delete_latency_ms":{"n":${lat.length},""" +
        s""""p50":${r(if (lat.isEmpty) -1 else lat(lat.length / 2))},""" +
        s""""max":${r(latMax)}},"delete_bound_met":${
          // a probe that never surfaced (30 s guard) is the WORST violation
          // — the bound holds only if every probe reported AND the max is in
          lat.length == nProbes && latMax >= 0 && latMax < 1000},""" +
        s""""soak_batch_ms":{"n":${bm.length},"p50":${pct(bm, 0.5)},"p99":${pct(bm, 0.99)},""" +
        s""""max":${if (bm.isEmpty) -1 else bm.last}},""" +
        s""""state_rows_peak":${collector.stateRowsPeak},""" +
        s""""state_rows_final":${collector.stateRowsLast},""" +
        s""""state_rows_expected":$expectedRows,""" +
        s""""state_bound_met":${collector.stateRowsLast == expectedRows}}"""
    // the default (tws) run owns STATE_PROBE.json; alternative-mode runs
    // land beside it so artifacts accumulate instead of overwriting
    val outName =
      if (mode == "tws") "STATE_PROBE.json" else s"STATE_PROBE_$mode.json"
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outName), (json + "\n").getBytes("UTF-8"))
    catch { case _: java.io.IOException => }
    println(json)
    spark.stop()
  }
}

/** Static sink-side recorder for [[StateProbe]]: upsert/delete tallies and
  * the probe-delete first-seen clock. Static so the executor-sink mode's
  * per-task RestSink closures all hit the one instance (local mode shares
  * the JVM); the driver modes read it identically.
  */
object StateProbeSink {
  val upserts = new java.util.concurrent.atomic.AtomicLong
  val deletes = new java.util.concurrent.atomic.AtomicLong
  val deleteSeen = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  @volatile var watchedDeletes = Set.empty[String]

  def reset(): Unit = {
    upserts.set(0); deletes.set(0); deleteSeen.clear(); watchedDeletes = Set.empty
  }

  def post(p: String): Int = {
    if (p.startsWith("""{"deletes"""")) {
      deletes.addAndGet("\",\"".r.findAllMatchIn(p).length.toLong + 1)
      val now = System.nanoTime()
      watchedDeletes.foreach { id =>
        if (p.contains("\"" + id + "\"")) deleteSeen.putIfAbsent(id, now)
      }
    } else upserts.addAndGet("\"createdAt\":".r.findAllMatchIn(p).length.toLong)
    200
  }
}
