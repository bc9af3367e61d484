package graft.pipeline

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.collection.mutable.ArrayBuffer

/** Streaming end-to-end semantics, mirroring internal/integration_test.go:
  * delete visible while a long debounce holds upserts (:211-255), exactly one
  * upsert after rapid updates (:257-312), resync replay (watcher.go:349-383).
  *
  * NOTE: `processAllAvailable()` cannot be used with ProcessingTimeTimeout —
  * FlatMapGroupsWithStateExec.shouldRunAnotherBatch is always true there, so
  * `noNewData` never latches and the call never returns. The tests poll the
  * recording sink with deadlines instead (the reference's integration tests
  * poll an httptest collector the same way).
  */
class SyncPipelineSpec extends SparkSpec {

  private def ev(name: String, typ: String, seq: Long, label: String = ""): ResourceEventRow =
    ResourceEventRow(typ, seq, new Timestamp(seq * 1000),
      s"default/apps/v1/Deployment/$name", "default", name,
      "Deployment", "apps/v1", "apps", Map("version" -> label), null,
      new Timestamp(0))

  private def eventually[T](timeoutMs: Long = 30000)(f: => Option[T]): T = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var r = f
    while (r.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(100); r = f
    }
    r.getOrElse(fail(s"condition not met within ${timeoutMs}ms"))
  }

  private def startPipeline(debounceMs: Long): (
      MemoryStream[ResourceEventRow],
      ArrayBuffer[String],
      org.apache.spark.sql.streaming.StreamingQuery) = {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[ResourceEventRow] =
      org.apache.spark.sql.Encoders.product[ResourceEventRow]
    val received = ArrayBuffer.empty[String]
    val sink = new RestSink(post = p => { received.synchronized { received += p }; 200 },
      sleep = _ => (), jitter = () => 1.0)
    val source = MemoryStream[ResourceEventRow]
    val query = SyncPipeline.start(source.toDS(), sink,
      SyncPipeline.Config(debounceMs = debounceMs, flushIntervalMs = 100, maxBatch = 50,
        checkpointDir = java.nio.file.Files.createTempDirectory("ckpt").toString))
    (source, received, query)
  }

  test("delete reaches the sink while a long debounce still holds the upsert") {
    // 60s debounce: the held upsert cannot possibly leak during the test
    val (source, received, query) = startPipeline(debounceMs = 60000)
    try {
      val t0 = System.currentTimeMillis()
      source.addData(ev("held-app", "ADD", 1, "v1"), ev("old-app", "DELETE", 2))
      val delete = eventually() {
        received.synchronized { received.find(_.contains("deletes")) }
      }
      val deleteLatencyMs = System.currentTimeMillis() - t0
      assert(delete == """{"deletes":["default/apps/v1/Deployment/old-app"]}""")
      // the upsert is still pending — payload separation + debounce hold
      assert(received.synchronized { !received.exists(_.contains("held-app")) })
      info(s"delete latency: ${deleteLatencyMs}ms (reference asserts <1s after warmup)")
    } finally query.stop()
  }

  test("rapid updates quiesce to exactly one last-state-wins upsert") {
    val (source, received, query) = startPipeline(debounceMs = 1000)
    try {
      source.addData((1L to 5L).map(i => ev("rapid-app", "UPDATE", i, s"v$i")): _*)
      val upsert = eventually() {
        received.synchronized { received.find(_.contains("rapid-app")) }
      }
      assert(upsert.contains(""""labels":{"version":"v5"}"""))
      // quiet period passed and emitted once; nothing further arrives
      Thread.sleep(1500)
      assert(received.synchronized { received.count(_.contains("rapid-app")) } == 1)
    } finally query.stop()
  }

  test("pending debounce state survives a checkpoint restart (A18 recovery)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import java.nio.file.{Files, Paths}
    val srcDir = Files.createTempDirectory("dbn_src").toString
    val ckpt = Files.createTempDirectory("dbn_ckpt").toString
    val received = ArrayBuffer.empty[String]
    val sink = new RestSink(post = p => { received.synchronized { received += p }; 200 },
      sleep = _ => (), jitter = () => 1.0)
    def start() = SyncPipeline.start(
      SyncPipeline.fileSource(spark, srcDir), sink,
      SyncPipeline.Config(debounceMs = 10000, flushIntervalMs = 100,
        checkpointDir = ckpt))
    def evJson(name: String) =
      s"""{"event_type":"ADD","event_seq":1,"ts":"2026-01-01T00:00:00Z","id":"ns/apps/v1/Deployment/$name","namespace":"ns","name":"$name","kind":"Deployment","apiVersion":"apps/v1","apiGroup":"apps","labels":{"version":"v1"},"annotations":null,"createdAt":"2026-01-01T00:00:00Z"}"""
    Files.writeString(Paths.get(srcDir, "a.json"), evJson("survivor"))
    val q1 = start()
    try {
      // wait until the ADD is consumed into state (source committed) but
      // stop well before the 10s quiet period elapses
      eventually() { if (q1.recentProgress.exists(_.numInputRows > 0)) Some(()) else None }
    } finally q1.stop()
    assert(received.synchronized { received.isEmpty }) // still pending at stop
    val q2 = start() // recover from checkpoint: state + timer must come back
    try {
      // operational caveat: recovered processing-time timers only fire when a
      // batch runs, and no batch runs without new data — nudge one event so
      // the engine executes a batch, which then fires the expired timer
      Files.writeString(Paths.get(srcDir, "b.json"), evJson("nudge"))
      val upsert = eventually(timeoutMs = 40000) {
        received.synchronized { received.find(_.contains("survivor")) }
      }
      assert(upsert.contains(""""labels":{"version":"v1"}"""))
      assert(received.synchronized {
        received.count(_.contains("survivor")) } == 1) // exactly once
    } finally q2.stop()
  }

  test("keep-alive tick flushes recovered state with NO post-restart events") {
    // the EventTime/keep-alive option of VERDICT r2 item 10: without the
    // tick, the A18 test must nudge an event after restart; with it, the
    // rate source alone drives micro-batches and the recovered timer fires —
    // on the CRD route too, which starts through the same SyncPipeline.start
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    type Start = (org.apache.spark.sql.Dataset[ResourceEventRow], RestSink,
      SyncPipeline.Config) => org.apache.spark.sql.streaming.StreamingQuery
    // (route, its start over the tailed log, the upsert the sink must get)
    val routes = Seq[(String, Start, String => Boolean)](
      ("instances", SyncPipeline.start(_, _, _),
        _.contains(""""labels":{"version":"v1"}""")),
      ("crds", (evs, sink, cfg) => CrdPipeline.start(evs.map(e =>
        CrdPipeline.CrdEventRow(e.event_type, e.event_seq, e.ts, e.name)), sink, cfg),
        _ == """{"upserts":["quiet"]}"""))
    routes.foreach { case (route, startOn, isUpsert) =>
      val srcDir = Files.createTempDirectory(s"ka_src_$route").toString
      val ckpt = Files.createTempDirectory(s"ka_ckpt_$route").toString
      val received = ArrayBuffer.empty[String]
      val sink = new RestSink(post = p => { received.synchronized { received += p }; 200 },
        sleep = _ => (), jitter = () => 1.0)
      // keepAliveTick must be on from the FIRST start: it adds a second source
      // to the plan, and checkpointed source offsets are positional
      def start() = startOn(SyncPipeline.fileSource(spark, srcDir), sink,
        SyncPipeline.Config(debounceMs = 3000, flushIntervalMs = 100,
          checkpointDir = ckpt, keepAliveTick = true))
      Files.writeString(Paths.get(srcDir, "a.json"),
        """{"event_type":"ADD","event_seq":1,"ts":"2026-01-01T00:00:00Z","id":"ns/apps/v1/Deployment/quiet","namespace":"ns","name":"quiet","kind":"Deployment","apiVersion":"apps/v1","apiGroup":"apps","labels":{"version":"v1"},"annotations":null,"createdAt":"2026-01-01T00:00:00Z"}""")
      val q1 = start()
      try {
        eventually() { if (q1.recentProgress.exists(_.numInputRows > 0)) Some(()) else None }
      } finally q1.stop()
      assert(received.synchronized { received.isEmpty }, route) // pending at stop
      val q2 = start() // recover; NOTHING new is written to the source
      try {
        val upsert = eventually(timeoutMs = 40000) {
          received.synchronized { received.find(_.contains("quiet")) }
        }
        assert(isUpsert(upsert), s"$route: $upsert")
        assert(received.synchronized { received.count(_.contains("quiet")) } == 1, route)
      } finally q2.stop()
    }
  }

  test("executor-side sink delivers every payload with partition-local senders") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[ResourceEventRow] =
      org.apache.spark.sql.Encoders.product[ResourceEventRow]
    ExecutorSinkCollector.received.clear()
    // the post closure references the COMPANION OBJECT, not a driver local:
    // foreachPartition serializes the sink per task, and a captured driver
    // ArrayBuffer would mutate a deserialized copy (lost); the object is
    // resolved by classloader, shared across tasks in the test JVM
    val sink = new RestSink(post = p => { ExecutorSinkCollector.received.add(p); 200 },
      sleep = _ => (), jitter = () => 1.0)
    val source = MemoryStream[ResourceEventRow]
    val query = SyncPipeline.start(source.toDS(), sink,
      SyncPipeline.Config(debounceMs = 200, flushIntervalMs = 100, maxBatch = 10,
        checkpointDir = java.nio.file.Files.createTempDirectory("exec_ckpt").toString,
        executorSideSink = true))
    try {
      source.addData((1 to 40).map(i => ev(s"app-$i", "ADD", i.toLong, "v1")): _*)
      source.addData(ev("app-1", "DELETE", 1000))
      eventually(timeoutMs = 30000) {
        import scala.jdk.CollectionConverters._
        val ps = ExecutorSinkCollector.received.asScala.toSeq
        val ups = ps.filter(_.startsWith("""{"upserts":["""))
          .map(p => "\"id\":".r.findAllIn(p).size).sum
        if (ups == 39 && ps.exists(_.contains("deletes"))) Some(()) else None
      }
      import scala.jdk.CollectionConverters._
      val ps = ExecutorSinkCollector.received.asScala.toSeq
      // payload invariants hold on executors too: split + chunk at maxBatch
      assert(ps.forall(p => !(p.contains("upserts") && p.contains("deletes"))))
      assert(ps.filter(_.contains("upserts"))
        .forall(p => "\"id\":".r.findAllIn(p).size <= 10))
      assert(ps.exists(_.contains(""""deletes":["default/apps/v1/Deployment/app-1"]""")))
    } finally query.stop()
  }

  test("executor-side sink: a failed flush epoch replays after restart, no loss") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import java.nio.file.{Files, Paths}
    val srcDir = Files.createTempDirectory("exf_src").toString
    val ckpt = Files.createTempDirectory("exf_ckpt").toString
    ExecutorFlakySink.reset()
    // post resolves through the companion object (executor tasks share it
    // by classloader); while unhealthy EVERY post 503s, so retries exhaust,
    // deliver throws in the task, and the flush epoch fails the query —
    // offsets and state for that batch never commit
    val sink = new RestSink(post = p => ExecutorFlakySink.post(p),
      sleep = _ => (), jitter = () => 1.0)
    def start() = SyncPipeline.start(
      SyncPipeline.fileSource(spark, srcDir), sink,
      SyncPipeline.Config(debounceMs = 200, flushIntervalMs = 100, maxBatch = 10,
        checkpointDir = ckpt, executorSideSink = true, keepAliveTick = true))
    def evJson(name: String, seq: Int) =
      s"""{"event_type":"ADD","event_seq":$seq,"ts":"2026-01-01T00:00:00Z","id":"ns/apps/v1/Deployment/$name","namespace":"ns","name":"$name","kind":"Deployment","apiVersion":"apps/v1","apiGroup":"apps","labels":null,"annotations":null,"createdAt":"2026-01-01T00:00:00Z"}"""
    Files.writeString(Paths.get(srcDir, "a.json"),
      (1 to 25).map(i => evJson(s"app-$i", i)).mkString("\n"))
    val q1 = start()
    try {
      eventually(timeoutMs = 60000) { q1.exception.map(_ => ()) }
    } finally q1.stop()
    assert(ExecutorFlakySink.idCount == 0) // nothing leaked past the 503s
    ExecutorFlakySink.heal()
    val q2 = start() // replay from checkpoint (keep-alive drives the flush)
    try {
      val n = eventually(timeoutMs = 60000) {
        val c = ExecutorFlakySink.idCount
        if (c >= 25) Some(c) else None
      }
      assert(n == 25) // every key delivered exactly once after the replay
    } finally q2.stop()
  }

  test("resync scheduler: cadence fires, ad-hoc trigger funnels through it") {
    val runs = new java.util.concurrent.atomic.AtomicLong(0)
    val sched = new ResyncScheduler(intervalMs = 100, doResync = () => {
      runs.incrementAndGet(); 42L
    })
    try {
      sched.start()
      assert(sched.triggerNow() == 42L) // POST /resync analog, runs inline
      eventually(timeoutMs = 5000) {
        if (sched.stats._1 >= 3) Some(()) else None // 1 ad-hoc + >= 2 ticks
      }
      val (completed, synced) = sched.stats
      assert(synced == completed * 42L)
      intercept[IllegalArgumentException] {
        new ResyncScheduler(intervalMs = 0, doResync = () => 0L)
      }
    } finally sched.close()
  }

  test("resync replays a full snapshot through the same payload path") {
    import spark.implicits._
    val received = ArrayBuffer.empty[String]
    val sink = new RestSink(post = p => { received += p; 200 },
      sleep = _ => (), jitter = () => 1.0)
    val snapshot = (1 to 120).map(i => ev(s"app-$i", "ADD", i.toLong, "v1")).toDS()
    val n = SyncPipeline.resync(snapshot, sink, maxBatch = 50)
    assert(n == 120)
    assert(received.size == 3) // 50 + 50 + 20, chunked at BATCH_MAX_SIZE
    assert(received.forall(_.startsWith("""{"upserts":[""")))
  }

  test("executor-side resync delivers the same snapshot with per-partition senders") {
    import spark.implicits._
    def idsIn(payloads: Seq[String]): Set[String] =
      payloads.flatMap("\"id\":\"([^\"]+)\"".r.findAllMatchIn(_).map(_.group(1))).toSet
    val snapshot = (1 to 120).map(i => ev(s"app-$i", "ADD", i.toLong, "v1")).toDS()

    val driverSeen = ArrayBuffer.empty[String]
    val driverSink = new RestSink(post = p => { driverSeen += p; 200 },
      sleep = _ => (), jitter = () => 1.0)
    val nDriver = SyncPipeline.resync(snapshot, driverSink, maxBatch = 50)

    // the sink closure is SERIALIZED into each task even in local mode, so
    // a captured buffer would record into per-task copies — route through a
    // static recorder instead (same JVM in local mode; on a real cluster
    // the sink POSTs remotely and only the per-task counts come back)
    ExecResyncRecorder.seen.clear()
    val execSink = new RestSink(post = p => { ExecResyncRecorder.seen.add(p); 200 },
      sleep = _ => (), jitter = () => 1.0)
    val nExec = SyncPipeline.resync(snapshot, execSink, maxBatch = 50,
      executorSide = true)

    assert(nExec == nDriver && nExec == 120)
    import scala.jdk.CollectionConverters._
    val execPayloads = ExecResyncRecorder.seen.asScala.toSeq
    assert(execPayloads.forall(_.startsWith("""{"upserts":[""")))
    // same keys delivered, just partition-parallel instead of one sender
    assert(idsIn(execPayloads) == idsIn(driverSeen.toSeq))
    assert(idsIn(execPayloads).size == 120)
  }

  test("A21 predicate form: the CRD bypass beats both filter lists") {
    import spark.implicits._
    // resource-type strings as the reference's watcher filters them
    // (GVR resource names, filter.go:43-57)
    val types = Seq("Pods", "secrets", "CustomResourceDefinitions").toDF("rt")
    def passing(c: SyncPipeline.Config): Set[String] = types
      .filter(c.effectiveWatchFilter(org.apache.spark.sql.functions.col("rt")))
      .as[String].collect().toSet
    val caps = "http://sink:3000/api/v1/capabilities/sync"
    // allowlist "pods" alone would drop CRDs; the bypass re-admits them
    assert(passing(SyncPipeline.Config(
      watchResourceTypes = Seq("pods"), capabilitiesEndpoint = caps))
      == Set("Pods", "CustomResourceDefinitions"))
    // default blocklist excludes customresourcedefinitions; bypass wins
    assert(passing(SyncPipeline.Config(capabilitiesEndpoint = caps))
      == Set("Pods", "secrets", "CustomResourceDefinitions"))
    // capabilities off → blocklist drops CRDs (reference parity)
    assert(passing(SyncPipeline.Config()) == Set("Pods", "secrets"))
  }

  test("debounce state runs on the RocksDB state store (100 TB spill path)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[ResourceEventRow] =
      org.apache.spark.sql.Encoders.product[ResourceEventRow]
    import spark.implicits._
    val received = ArrayBuffer.empty[String]
    val sink = new RestSink(post = p => { received.synchronized { received += p }; 200 },
      sleep = _ => (), jitter = () => 1.0)
    val source = MemoryStream[ResourceEventRow]
    val query = SyncPipeline.start(source.toDS(), sink,
      SyncPipeline.Config(debounceMs = 500, flushIntervalMs = 100,
        checkpointDir = java.nio.file.Files.createTempDirectory("rocks_ckpt").toString,
        rocksDbState = true))
    try {
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDB"))
      source.addData(ev("rocks-app", "ADD", 1, "v1"), ev("gone-app", "DELETE", 2))
      val delete = eventually() {
        received.synchronized { received.find(_.contains("deletes")) }
      }
      assert(delete.contains("gone-app"))
      val upsert = eventually() {
        received.synchronized { received.find(_.contains("rocks-app")) }
      }
      assert(upsert.contains(""""labels":{"version":"v1"}"""))
    } finally {
      query.stop()
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    }
  }

  test("CRD pipeline: name payloads, UPDATE dropped, delete fast path") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[CrdPipeline.CrdEventRow] =
      org.apache.spark.sql.Encoders.product[CrdPipeline.CrdEventRow]
    val received = ArrayBuffer.empty[String]
    val sink = new RestSink(post = p => { received.synchronized { received += p }; 200 },
      sleep = _ => (), jitter = () => 1.0)
    val source = MemoryStream[CrdPipeline.CrdEventRow]
    val query = CrdPipeline.start(source.toDS(), sink,
      SyncPipeline.Config(debounceMs = 800, flushIntervalMs = 100,
        checkpointDir = java.nio.file.Files.createTempDirectory("crd_ckpt").toString))
    try {
      val ts = new java.sql.Timestamp(0)
      source.addData(
        CrdPipeline.CrdEventRow("ADD", 1, ts, "certificates.cert-manager.io"),
        CrdPipeline.CrdEventRow("UPDATE", 2, ts, "widgets.example.com"), // dropped
        CrdPipeline.CrdEventRow("DELETE", 3, ts, "oldcrd.example.com"))
      val delete = eventually() {
        received.synchronized { received.find(_.contains("deletes")) }
      }
      assert(delete == """{"deletes":["oldcrd.example.com"]}""")
      val upsert = eventually() {
        received.synchronized { received.find(_.contains("upserts")) }
      }
      assert(upsert == """{"upserts":["certificates.cert-manager.io"]}""")
      // the UPDATE-only CRD never reaches the sink (watcher.go:240-243)
      assert(received.synchronized { !received.exists(_.contains("widgets")) })
    } finally query.stop()
  }

  test("CRD pipeline: executor-side sink preserves the name-payload contract") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[CrdPipeline.CrdEventRow] =
      org.apache.spark.sql.Encoders.product[CrdPipeline.CrdEventRow]
    ExecutorSinkCollector.received.clear()
    val sink = new RestSink(post = p => { ExecutorSinkCollector.received.add(p); 200 },
      sleep = _ => (), jitter = () => 1.0)
    val source = MemoryStream[CrdPipeline.CrdEventRow]
    val query = CrdPipeline.start(source.toDS(), sink,
      SyncPipeline.Config(debounceMs = 200, flushIntervalMs = 100, maxBatch = 10,
        checkpointDir = java.nio.file.Files.createTempDirectory("crd_exec_ckpt").toString,
        executorSideSink = true))
    try {
      val ts = new java.sql.Timestamp(0)
      source.addData((1 to 25).map(i =>
        CrdPipeline.CrdEventRow("ADD", i.toLong, ts, s"crd$i.example.com")): _*)
      source.addData(CrdPipeline.CrdEventRow("DELETE", 1000, ts, "crd1.example.com"))
      eventually(timeoutMs = 30000) {
        import scala.jdk.CollectionConverters._
        val ps = ExecutorSinkCollector.received.asScala.toSeq
        val ups = ps.filter(_.startsWith("""{"upserts":["""))
          .map(p => "\\.example\\.com".r.findAllIn(p).size).sum
        if (ups == 24 && ps.exists(_.contains("deletes"))) Some(()) else None
      }
      import scala.jdk.CollectionConverters._
      val ps = ExecutorSinkCollector.received.asScala.toSeq
      assert(ps.forall(p => !(p.contains("upserts") && p.contains("deletes"))))
      assert(ps.filter(_.contains("upserts"))
        .forall(p => "\\.example\\.com".r.findAllIn(p).size <= 10))
      assert(ps.exists(_.contains(""""deletes":["crd1.example.com"]""")))
    } finally query.stop()
  }

  test("extract projects raw k8s-shaped objects into the fixed record") {
    val raw = spark.read.schema(Extract.rawSchema).json(spark.createDataset(Seq(
      """{"kind":"Deployment","apiVersion":"apps/v1","metadata":{"name":"nginx","namespace":"default","labels":{"app":"nginx"},"annotations":{"description":"web","kubectl.kubernetes.io/x":"y"},"creationTimestamp":"2026-02-20T10:00:00Z"},"spec":{"replicas":3}}""",
      """{"kind":"Namespace","apiVersion":"v1","metadata":{"name":"kube-system","creationTimestamp":"2026-01-15T08:30:00Z"}}"""))(
      org.apache.spark.sql.Encoders.STRING))
    val out = Extract.instances(raw).orderBy("id").collect()
    assert(out.length == 2)
    val ns = out(0)
    assert(ns.getAs[String]("id") == "_cluster/v1/Namespace/kube-system")
    assert(ns.getAs[String]("apiGroup") == "")
    val dep = out(1)
    assert(dep.getAs[String]("id") == "default/apps/v1/Deployment/nginx")
    assert(dep.getAs[String]("apiGroup") == "apps")
    assert(dep.getAs[Map[String, String]]("annotations") == Map("description" -> "web"))
  }

  test("batch diff treats null and empty maps as equal, like the streaming path") {
    import spark.implicits._
    // reference mapsEqual(nil, empty) / Debounce.metadataUnchanged parity:
    // a null↔{} transition is NOT a metadata change; a null↔{k:v} one is
    def snap(rows: (String, Map[String, String])*) =
      rows.toSeq.toDF("id", "labels")
        .withColumn("annotations",
          org.apache.spark.sql.functions.typedLit(Map.empty[String, String]))
    val prev = snap("a" -> null, "b" -> null, "c" -> Map("k" -> "v"))
    val next = snap("a" -> Map.empty[String, String], "b" -> Map("k" -> "v"), "c" -> null)
    val got = Extract.diff(next, prev).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("b" -> "upsert-changed", "c" -> "upsert-changed"))
  }
}

/** Static collector for the executor-side sink test: reachable from any
  * task via classloader, no closure-serialization copy problem.
  */
object ExecutorSinkCollector {
  val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** Flaky transport for the epoch-replay test: 503s everything until healed,
  * then records deliveries. Same classloader-shared-object pattern as
  * [[ExecutorSinkCollector]].
  */
object ExecutorFlakySink {
  @volatile private var healthy = false
  private val delivered = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = { healthy = false; delivered.clear() }
  def heal(): Unit = healthy = true
  def post(p: String): Int =
    if (healthy) { delivered.add(p); 200 } else 503
  /** Total instance rows across delivered upsert payloads. */
  def idCount: Int = {
    import scala.jdk.CollectionConverters._
    delivered.asScala.toSeq.map(p => "\"id\":".r.findAllIn(p).size).sum
  }
}

/** Static payload recorder for the executor-side RESYNC test — sink
  * closures are serialized per task even in local mode, so the recording
  * must go through a statically-resolved object, not a captured buffer.
  */
object ExecResyncRecorder {
  val seen: java.util.List[String] =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
}
