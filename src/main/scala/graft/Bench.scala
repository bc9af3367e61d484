package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** BENCH harness (BASELINE.md): runs every catalog query at the sf-dir from
  * SPARK_GRAFT_SF_DIR, prints one JSON line of per-query wall-clock seconds.
  *
  * Queries run in sorted-name order so timings attribute deterministically,
  * after a warmup pass over the whole catalog so the first timed query
  * doesn't absorb JIT/codegen/classloading cost. Each run executes its
  * query through the `noop` sink: `count()` would let Catalyst prune the
  * projections a row computes (q_agg_approx, perfbench seed 41 on 4
  * cores: 2.68 s under noop, 0.28 s under `count()`).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    // SPARK_GRAFT_ONLY=q_a,q_b limits the run (local iteration on a hot
    // spot); the driver never sets it, so recorded rounds are always full.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // SPARK_GRAFT_PIPELINE_ONLY=1: skip the catalog, measure just the two
    // sink modes (local iteration on the sink path); driver never sets it
    if (sys.env.get("SPARK_GRAFT_PIPELINE_ONLY").contains("1")) {
      val line = (1 to 3).map { i =>
        val d = pipelineThroughput(spark, executorSide = false)
        val x = pipelineThroughput(spark, executorSide = true)
        s"""{"pass":$i,"driver_upserts_per_s":$d,"executor_upserts_per_s":$x}"""
      }.mkString("\n")
      println(line)
      spark.stop(); println(line); System.out.flush()
      return
    }
    // bench=false rows (the q_index_fresh CDC flow) stay correctness-gated
    // in Verify/CORRECTNESS but are excluded from the TIMED catalog: their
    // cost is per-epoch filesystem-commit overhead, size-independent by
    // construction (bounded corpus slice + bounded CDC batch), so timing
    // them as "queries" would only add a constant to the total — the loop's
    // real rate is priced by indexsync_upserts_per_s below. An explicit
    // SPARK_GRAFT_ONLY naming such a row still times it.
    val qs = graft.queries.Catalog.all
      .filter(q => q.bench || only.exists(_(q.name)))
      .map(q => q.name -> q.fn).toMap
      .filter { case (name, _) => only.forall(_(name)) }
    // Warmup: run the whole catalog once at the smallest sf before timing.
    // Generated code is data-independent, so this compiles every query's
    // codegen units (Janino), loads the classes, and JITs the hot paths for
    // pennies — the timed pass then measures the engine, not first-run JVM
    // compilation (measured: the heavy dedup queries are 13.7 s cold vs
    // 2.9 s warm at sf0.1 on identical plans). Falls back to the target sf
    // if the warmup dir is absent.
    val warmDir = Seq("/root/testdata/sf0.001", sfDir)
      .find(d => new java.io.File(d).isDirectory).getOrElse(sfDir)
    qs.foreach { case (_, fn) =>
      try execute(fn(spark, warmDir)) catch { case _: Throwable => }
    }
    // A thrown query records the -1.0 sentinel (and its name under "failed"),
    // never its time-to-failure — breakage must not read as a timing.
    //
    // Timed iterations are FULL CATALOG PASSES, min per query across passes
    // (declared in the JSON): this VM shows transient multi-minute host-noise
    // windows (the same warmed query measured 2.8 s and 12.6 s in
    // back-to-back runs; the r3 recording shows an alphabetically-contiguous
    // block of queries 5-20× slow — one window poisoning consecutive
    // back-to-back timings). Interleaving puts a whole catalog pass
    // (~30-60 s) between a query's two timings, so a single window cannot
    // claim both.
    val iterations = 5
    val named = qs.toSeq.sortBy(_._1)
    // NOISE SENTINEL (VERDICT r8 item 1): a fixed in-memory computation —
    // no I/O, no shuffle variance, identical work every time — timed once
    // per pass. Its spread across passes is a direct read of host noise
    // during THIS bench window: a quiet box repeats it within ~10%, and a
    // sentinel_spread of 2-3× says the per-query numbers carry the same
    // inflation and must be judged against BENCH_scale / a re-run, not
    // read as regressions. Recorded in every BENCH JSON from now on.
    def sentinel(): Double = sentinelSec(spark)
    // warm the sentinel's own codegen/JIT to steady state before the
    // recorded passes — a decaying first reading would mimic host noise
    (1 to 3).foreach(_ => sentinel())
    // One timed ATTEMPT = `iterations` full interleaved catalog passes
    // with a sentinel reading per pass. The steady-state spread (passes
    // 2+ — the FIRST sentinel runs on a warm quiet heap and is
    // systematically faster, which is measurement context, not noise)
    // is the quiet-window gate: the repo's own comparison bar is < 2.
    def timedAttempt()
        : (Seq[Map[String, Double]], Seq[Double], Double, Double) = {
      val sents = scala.collection.mutable.ArrayBuffer[Double]()
      val ps: Seq[Map[String, Double]] = (1 to iterations).map { _ =>
        sents += math.round(sentinel() * 1000.0) / 1000.0
        named.map { case (name, fn) =>
          val t0 = System.nanoTime()
          name -> (try { execute(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
                   catch { case _: Throwable => -1.0 })
        }.toMap
      }
      val spread =
        math.round(sents.max / math.max(sents.min, 1e-9) * 100.0) / 100.0
      val steady = if (sents.length > 1) sents.drop(1) else sents
      val spreadSteady =
        math.round(steady.max / math.max(steady.min, 1e-9) * 100.0) / 100.0
      (ps, sents.toSeq, spread, spreadSteady)
    }
    // SENTINEL-GATED recording (r16 verdict, process): a recording taken
    // in a noisy host window (steady spread >= 2) is retried — bounded —
    // and the QUIETEST attempt is kept; if every attempt was noisy the
    // record carries "noisy":true so a reader never mistakes window
    // inflation for a plan regression. The r16 end-of-round record
    // (spread 5.22, uniformly ~1.23x the quiet snapshot) is exactly the
    // artifact this gate retires.
    val maxAttempts = sys.env.getOrElse("SPARK_GRAFT_QUIET_ATTEMPTS", "3").toInt
    var best = timedAttempt()
    var attempts = 1
    while (best._4 >= 2.0 && attempts < maxAttempts) {
      val next = timedAttempt()
      if (next._4 < best._4) best = next
      attempts += 1
    }
    val (passes, sentinelSeq, sentinelSpread, sentinelSpreadSteady) = best
    val noisy = sentinelSpreadSteady >= 2.0
    val sentinelJson = sentinelSeq.mkString("[", ",", "]")
    val results = named.map { case (name, _) =>
      val times = passes.map(_(name))
      name -> (if (times.exists(_ < 0)) -1.0
               else math.round(times.min * 1000.0) / 1000.0)
    }
    val qjson = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = math.round(results.map(_._2).filter(_ >= 0).sum * 1000.0) / 1000.0
    // Pipeline gets its own noise treatment (declared separately below as
    // "pipeline_iterations" — "iterations" describes only the query passes):
    // full runs, best sustained rate kept (throughput: higher = less
    // interference). Fewer passes than the queries because one run is ~4 s
    // of sustained load, long enough to average over a noise window.
    val pipelineIterations = 2
    // subset runs are query-iteration loops — skip the pipeline metrics
    def bestRate(probe: => Double): Double =
      if (only.isDefined) -1.0 else (1 to pipelineIterations).map(_ => probe).max
    val ups = bestRate(pipelineThroughput(spark, executorSide = false))
    // the 100 TB sink path (per-partition sender) gets the SAME best-of
    // treatment as the driver loop — one sample per mode made the r8
    // driver-vs-executor comparison a coin flip in a noisy window
    val upsExec = bestRate(pipelineThroughput(spark, executorSide = true))
    // the namesake sync→index loop (VERDICT r10 item 1): CDC events through
    // IndexSync.start into a live IndexedLayout — executor-native, so this
    // number is the cluster's, not the driver heap's
    val upsIdx = bestRate(indexsyncThroughput(spark, sfDir))
    // the LEXICAL twin of the loop above: doc CDC through LexIndexSync
    // into a live InvertedIndex, compaction policy on
    val docsLex = bestRate(lexsyncThroughput(spark, sfDir))
    // the AGGREGATE twin: base-row CDC through MatViewSync into a live
    // materialized view, compaction policy on
    val rowsMv = bestRate(mvsyncThroughput(spark, sfDir))
    val sha = gitSha() // once — both JSON lines carry it
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qjson,""" +
      s""""failed":$failed,"pipeline_upserts_per_s":$ups,""" +
      s""""pipeline_upserts_per_s_executor_sink":$upsExec,""" +
      s""""indexsync_upserts_per_s":$upsIdx,""" +
      s""""lexsync_docs_per_s":$docsLex,""" +
      s""""mvsync_rows_per_s":$rowsMv,""" +
      s""""iterations":$iterations,"pipeline_iterations":$pipelineIterations,""" +
      s""""sentinel_sec":$sentinelJson,"sentinel_spread":$sentinelSpread,""" +
      s""""sentinel_spread_steady":$sentinelSpreadSteady,""" +
      s""""noisy":$noisy,"attempts":$attempts,"git_sha":"$sha",""" +
      s""""stat":"min","sf":"$sfDir"}"""
    println(line)
    // Tail-capture defense: BENCH_r04/r05 both recorded `parsed: null`
    // because executor-shutdown WARN spam after this point pushed the metric
    // line out of the driver's captured tail. Persist it to a sidecar file
    // and RE-print it after spark.stop(), flushed, as the process's final
    // stdout line — whichever channel survives, the record does.
    // ... and into the working directory (BENCH_local_last.json), so the
    // full per-query map can be COMMITTED per round (BENCH_local_r<N>) —
    // cross-round per-query comparisons must not depend on /tmp surviving
    Seq("/tmp/bench_last.json", "BENCH_local_last.json").foreach { p =>
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(p), (line + "\n").getBytes("UTF-8"))
      catch { case _: java.io.IOException => }
    }
    spark.stop()
    println(line)
    // The driver keeps only a ~2,000-char stdout tail; the full per-query
    // line is ~2.6 KB, so its head (and the opening brace) can be cut off
    // and the parse fails (r4-r6 all recorded `parsed: null`). Print a
    // compact summary — same headline numbers, no per-query map — as the
    // process's very last stdout line; it fits any tail window.
    val compact = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""failed":$failed,"pipeline_upserts_per_s":$ups,""" +
      s""""pipeline_upserts_per_s_executor_sink":$upsExec,""" +
      s""""indexsync_upserts_per_s":$upsIdx,""" +
      s""""lexsync_docs_per_s":$docsLex,""" +
      s""""mvsync_rows_per_s":$rowsMv,""" +
      s""""sentinel_spread":$sentinelSpread,""" +
      s""""sentinel_spread_steady":$sentinelSpreadSteady,""" +
      s""""noisy":$noisy,"attempts":$attempts,"git_sha":"$sha",""" +
      s""""n_queries":${results.size},"sf":"$sfDir"}"""
    println(compact)
    System.out.flush()
  }

  /** Runs everything `df` computes and discards the rows. */
  private def execute(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The noise sentinel: a fixed in-memory computation (no I/O, no
    * shuffle variance, identical work every time) whose duration is a
    * direct read of host noise at the moment it runs.
    */
  private def sentinelSec(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 50000000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(cast(hash(id) as bigint))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** BASELINE.md pipeline gate: sustain ≥100 upserts/s (10× the reference's
    * config-implied ceiling of 50 per 5 s flush) through the real streaming
    * path — MemoryStream → keyed debounce state → foreachBatch payload sink.
    */
  private def pipelineThroughput(
      spark: SparkSession, executorSide: Boolean): Double = {
    import graft.pipeline._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val s: SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[ResourceEventRow] =
      org.apache.spark.sql.Encoders.product[ResourceEventRow]
    val n = 20000
    // executor mode serializes the sink per task — a captured driver local
    // would increment a deserialized copy; the companion-object counter is
    // classloader-shared in local mode (the SyncPipelineSpec pattern)
    BenchExecCollector.delivered.set(0)
    val delivered = BenchExecCollector.delivered
    val sink = new RestSink(
      post = p => { BenchExecCollector.delivered.addAndGet(countIds(p)); 200 },
      sleep = _ => (), jitter = () => 1.0)
    val source = MemoryStream[ResourceEventRow]
    // reference-named env config (A20) with bench-friendly debounce/flush
    val cfg = SyncPipeline.Config.fromEnv(sys.env ++ Map(
      "DEBOUNCE_WINDOW_MS" -> sys.env.getOrElse("BENCH_DEBOUNCE_MS", "300"),
      "BATCH_FLUSH_INTERVAL_MS" -> "100"))
      .copy(checkpointDir =
        java.nio.file.Files.createTempDirectory("bench_ckpt").toString,
        executorSideSink = executorSide)
    val query = SyncPipeline.start(source.toDS(), sink, cfg)
    val t0 = System.nanoTime()
    try {
      val ts = new java.sql.Timestamp(0)
      (0 until n).grouped(2000).foreach { chunk =>
        source.addData(chunk.map(i => ResourceEventRow(
          "ADD", i.toLong, ts, s"ns/apps/v1/Deployment/app-$i", "ns", s"app-$i",
          "Deployment", "apps/v1", "apps", Map("i" -> i.toString), null, ts)))
      }
      val deadline = System.currentTimeMillis() + 120000
      while (delivered.get() < n && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
    } finally query.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    if (delivered.get() < n) -1.0 else math.round(n / secs * 10.0) / 10.0
  }


  /** Cumulative input-row tally keyed by query id — NOT recentProgress,
    * whose bounded ring (default 100 entries) can shed early batches and
    * undercount. Construct BEFORE starting the query so no progress
    * event predates it; events for other queries are kept under their
    * own id and ignored. One implementation for every throughput probe —
    * the counting subtlety must not live in two places.
    */
  private final class InputRowTally(spark: SparkSession) extends AutoCloseable {
    private val rows =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]
    private val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        rows.merge(e.progress.id, e.progress.numInputRows, (a, b) => a + b)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    def committed(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      rows.getOrDefault(q.id, 0L)
    override def close(): Unit = spark.streams.removeListener(listener)
  }

  /** The sync→index loop's sustained rate: a live [[graft.queries.IndexedLayout]]
    * bootstrapped over the bench corpus absorbs a churning upsert CDC through
    * [[graft.pipeline.IndexSync.start]] (layout side; the graph side's delta
    * cost is priced separately by the knn-graph catalog rows). Events stream
    * via MemoryStream, so batching is Spark's own; the rate is events
    * absorbed-and-committed per second including every applyDelta epoch's
    * staging + promote + meta commit, with the periodic compaction policy ON
    * (compactEvery=4) so the number prices the full churn-proof loop.
    */
  private def indexsyncThroughput(spark: SparkSession, sfDir: String): Double = {
    import graft.pipeline._
    import graft.pipeline.VectorSync.VecEvent
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val s: SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[VecEvent] =
      org.apache.spark.sql.Encoders.product[VecEvent]
    val layoutDir =
      java.nio.file.Files.createTempDirectory("bench_isync_layout").toString
    graft.queries.IndexedLayout.write(spark,
      Tables.embeddings(spark, sfDir).select("vec_id", "embedding"), layoutDir)
    // event fixture: 6× churn over 500 live ids (driver-built — fixture
    // creation, not the measured path)
    val baseVecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").limit(500).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val n = 3000
    val events = (0 until n).map { i =>
      val (id, v) = baseVecs(i % baseVecs.length)
      VecEvent("UPDATE", i.toLong, id, v.map(x => x * (1.0f + 0.001f * (i % 7))), 0)
    }
    val before = Metrics.global.value("graft_indexsync_upserts_total") +
      Metrics.global.value("graft_indexsync_deletes_total")
    def appliedDelta() = Metrics.global.value("graft_indexsync_upserts_total") +
      Metrics.global.value("graft_indexsync_deletes_total") - before
    val source = MemoryStream[VecEvent]
    val tally = new InputRowTally(spark)
    val query = IndexSync.start(source.toDS(), layoutDir, null,
      java.nio.file.Files.createTempDirectory("bench_isync_ckpt").toString,
      triggerMs = 50, compactEvery = 4)
    def committed(): Long = tally.committed(query)
    val t0 = System.nanoTime()
    try {
      events.grouped(500).foreach(chunk => source.addData(chunk))
      val deadline = System.currentTimeMillis() + 120000
      // each epoch dedups to last-state-wins, so the APPLIED count is the
      // surviving-key count per batch, <= n; completion = every input row
      // went through a committed batch (progress reports post-commit)
      while (committed() < n && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
    } finally {
      query.stop()
      tally.close()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val absorbed = appliedDelta()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(layoutDir))
    // a deadline expiry means fewer than n events were absorbed — n/secs
    // would overstate the rate, so the run reports failure instead
    if (absorbed <= 0 || committed() < n) -1.0
    else math.round(n / secs * 10.0) / 10.0
  }

  /** The lexical loop's sustained rate: a live [[graft.queries.InvertedIndex]]
    * bootstrapped over the bench corpus absorbs a churning document-update
    * CDC through [[graft.pipeline.LexIndexSync.start]], compaction policy ON
    * — the rate prices tokenize + delete-then-append epochs + periodic
    * compaction, end to end. Same cumulative-listener completion tally and
    * deadline-failure semantics as [[indexsyncThroughput]].
    */
  private def lexsyncThroughput(spark: SparkSession, sfDir: String): Double = {
    import graft.pipeline._
    import graft.pipeline.LexIndexSync.DocEvent
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val s: SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[DocEvent] =
      org.apache.spark.sql.Encoders.product[DocEvent]
    val indexDir =
      java.nio.file.Files.createTempDirectory("bench_lexsync_idx").toString
    graft.queries.InvertedIndex.build(spark,
      Tables.documents(spark, sfDir).select("doc_id", "text"), indexDir)
    val n = 2000
    val events = (0 until n).map { i =>
      DocEvent("UPDATE", i.toLong, (i % 200).toLong,
        s"dup churn pass${i / 200} token${i % 17} merge window sort")
    }
    val tally = new InputRowTally(spark)
    val source = MemoryStream[DocEvent]
    val query = LexIndexSync.start(source.toDS(), indexDir,
      java.nio.file.Files.createTempDirectory("bench_lexsync_ckpt").toString,
      triggerMs = 50, compactEvery = 4)
    def committed(): Long = tally.committed(query)
    val t0 = System.nanoTime()
    try {
      events.grouped(500).foreach(chunk => source.addData(chunk))
      val deadline = System.currentTimeMillis() + 120000
      while (committed() < n && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
    } finally {
      query.stop()
      tally.close()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(indexDir))
    if (committed() < n) -1.0 else math.round(n / secs * 10.0) / 10.0
  }

  /** The aggregate-view loop's sustained rate: a live
    * [[graft.queries.MatView]] bootstrapped over the bench orders absorbs
    * a churning insert/retract CDC through
    * [[graft.pipeline.MatViewSync.start]], compaction policy ON — the
    * rate prices the signed-partials refresh + the meta-commit replay
    * gate + periodic log consolidation. Same cumulative-listener
    * completion tally and deadline-failure semantics as the other loops.
    */
  private def mvsyncThroughput(spark: SparkSession, sfDir: String): Double = {
    import graft.pipeline._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val s: SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[(String, Long, Double)] =
      org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble)
    val viewDir =
      java.nio.file.Files.createTempDirectory("bench_mvsync_view").toString
    graft.queries.MatView.bootstrap(spark,
      Tables.orders(spark, sfDir).select(
        org.apache.spark.sql.functions.col("o_custkey").as("k"),
        org.apache.spark.sql.functions.col("o_totalprice").as("v")),
      Seq("k"), Seq("v"), viewDir)
    val n = 2000
    // every 4th event retracts the row its predecessor inserted (stream
    // order guarantees the insert's epoch is not after the delete's), so
    // the probe prices BOTH verbs under churn
    val events = (0 until n).map { i =>
      if (i % 4 == 3) ("DELETE", (i - 1) % 200L, (i - 1) * 0.5)
      else ("INSERT", i % 200L, i * 0.5)
    }
    val tally = new InputRowTally(spark)
    val source = MemoryStream[(String, Long, Double)]
    val query = MatViewSync.start(source.toDS().toDF("op", "k", "v"), viewDir,
      java.nio.file.Files.createTempDirectory("bench_mvsync_ckpt").toString,
      triggerMs = 50, compactEvery = 4)
    def committed(): Long = tally.committed(query)
    val t0 = System.nanoTime()
    try {
      events.grouped(500).foreach(chunk => source.addData(chunk))
      val deadline = System.currentTimeMillis() + 120000
      while (committed() < n && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
    } finally {
      query.stop()
      tally.close()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(viewDir))
    if (committed() < n) -1.0 else math.round(n / secs * 10.0) / 10.0
  }

  /** The tree the record was taken from — SPARK_GRAFT_GIT_SHA when the
    * caller pins it, else `git rev-parse HEAD` of the cwd ("" when
    * unavailable). Recorded so a committed BENCH snapshot is checkable
    * against the round's HEAD (the r16 process gap: the quiet recordings
    * predated the final commits and nothing said so).
    */
  private def gitSha(): String =
    sys.env.get("SPARK_GRAFT_GIT_SHA").getOrElse {
      try {
        val p = new ProcessBuilder("git", "rev-parse", "HEAD")
          .redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) out else ""
      } catch { case _: Exception => "" }
    }

  /** Upserts per payload = createdAt fields: exactly one per instance and,
    * for the bench fixture built above (labels = Map("i" -> n), annotations
    * null), impossible inside a map. Not a general JSON parse — valid only
    * because Bench controls its own fixture.
    */
  private def countIds(payload: String): Long =
    "\"createdAt\":".r.findAllMatchIn(payload).length.toLong
}

/** Classloader-shared delivery counter for the executor-sink bench run. */
object BenchExecCollector {
  val delivered = new java.util.concurrent.atomic.AtomicLong
}
