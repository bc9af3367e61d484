package graft.pipeline

import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import java.net.{HttpURLConnection, URI}
import scala.io.Source

/** The metrics surface (metrics-bind-address analog): counters increment at
  * the delivery/resync seams and GET /metrics serves the Prometheus text
  * exposition. Assertions are deltas against the process-global registry —
  * other suites in the JVM may have counted before this one runs.
  */
class MetricsSpec extends AnyFunSuite {

  private def delta[A](names: String*)(body: => A): Map[String, Long] = {
    val before = names.map(n => n -> Metrics.global.value(n)).toMap
    body
    names.map(n => n -> (Metrics.global.value(n) - before(n))).toMap
  }

  private val okSink = new RestSink(post = _ => 200, sleep = _ => (), jitter = () => 1.0)

  test("deliver counts delivered, dropped, and failed payloads") {
    val d1 = delta("graft_payloads_delivered_total") {
      Payloads.deliver(okSink, Seq("""{"a":1}""", """{"b":2}"""))
    }
    assert(d1("graft_payloads_delivered_total") == 2)
    val badSink = new RestSink(post = _ => 400, sleep = _ => (), jitter = () => 1.0)
    val d2 = delta("graft_payloads_dropped_total") {
      Payloads.deliver(badSink, Seq("""{"a":1}"""))
    }
    assert(d2("graft_payloads_dropped_total") == 1)
    val downSink = new RestSink(post = _ => 503, sleep = _ => (), jitter = () => 1.0)
    val d3 = delta("graft_payload_failures_total") {
      intercept[java.io.IOException](Payloads.deliver(downSink, Seq("""{"a":1}""")))
    }
    assert(d3("graft_payload_failures_total") == 1)
  }

  test("payload building does NOT count — delivery success does") {
    // build-time counters would double on every failed-epoch replay and
    // count never-delivered actions; the increments live in SyncPipeline's
    // foreachBatch AFTER the epoch's delivery completed (asserted live in
    // the pipeline test below)
    val ts = new java.sql.Timestamp(0)
    val up = SyncAction(SyncAction.Upsert, "k1", Some(ResourceEventRow(
      "ADD", 1, ts, "k1", "ns", "n", "Deployment", "apps/v1", "apps", null, null, ts)))
    val del = SyncAction(SyncAction.Delete, "k2", None)
    val d = delta("graft_upserts_total", "graft_deletes_total") {
      Payloads.fromActions(Seq(up, del, up), maxBatch = 10)
    }
    assert(d("graft_upserts_total") == 0 && d("graft_deletes_total") == 0)
  }

  test("a delivered pipeline epoch counts its upserts and deletes exactly once") {
    val spark = graft.SparkSpec.session
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ts = new java.sql.Timestamp(0)
    val sink = new RestSink(post = _ => 200, sleep = _ => ())
    def ev(name: String, typ: String, seq: Long) = ResourceEventRow(
      typ, seq, ts, s"ns/apps/v1/D/$name", "ns", name, "D", "apps/v1", "apps",
      null, null, ts)
    val instances = MemoryStream[ResourceEventRow]
    val crds = MemoryStream[CrdPipeline.CrdEventRow]
    // (the route's counters, its start, feed two upserts and one delete);
    // each route counts under its own names and never under the other's
    val routes = Seq[((String, String), SyncPipeline.Config => StreamingQuery, () => Unit)](
      (("graft_upserts_total", "graft_deletes_total"),
        SyncPipeline.start(instances.toDS(), sink, _),
        () => instances.addData(ev("a", "ADD", 1), ev("b", "ADD", 2), ev("c", "DELETE", 3))),
      (("graft_crd_upserts_total", "graft_crd_deletes_total"),
        CrdPipeline.start(crds.toDS(), sink, _),
        () => crds.addData(Seq("ADD" -> "a", "ADD" -> "b", "DELETE" -> "c")
          .zipWithIndex.map { case ((t, n), i) =>
            CrdPipeline.CrdEventRow(t, i + 1L, ts, s"$n.example.com") }: _*)))
    val names = routes.flatMap { case ((ups, dels), _, _) => Seq(ups, dels) }
    routes.foreach { case ((ups, dels), start, feed) =>
      val before = names.map(n => n -> Metrics.global.value(n)).toMap
      val query = start(SyncPipeline.Config(debounceMs = 100, flushIntervalMs = 50,
        checkpointDir =
          java.nio.file.Files.createTempDirectory("metrics_ckpt").toString))
      try {
        feed()
        val deadline = System.currentTimeMillis() + 30000
        while ((Metrics.global.value(ups) < before(ups) + 2 ||
            Metrics.global.value(dels) < before(dels) + 1) &&
            System.currentTimeMillis() < deadline)
          Thread.sleep(100)
      } finally query.stop()
      val moved = names.map(n => n -> (Metrics.global.value(n) - before(n))).toMap
      assert(moved == names.map(n => n ->
        (if (n == ups) 2L else if (n == dels) 1L else 0L)).toMap, ups)
    }
  }

  test("the index loop's epochs/upserts/deletes count and are scrapeable") {
    val spark = graft.SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val d = java.nio.file.Files.createTempDirectory("metrics_isync").toString
    sys.addShutdownHook(org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(d)))
    // 12-vector fixture layout — just enough physical state to drive one
    // real applyBatch epoch
    val fixture = (0 until 12).map { i =>
      val v = Array.fill(8)(0.0f); v(i % 4) = 1.0f; v(4 + i % 4) = 0.5f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    graft.queries.IndexedLayout.write(spark, fixture, d, kCells = 2)
    val events = Seq(
      VectorSync.VecEvent("UPDATE", 1, 3L,
        Array.fill(8)(0.1f), 0),
      VectorSync.VecEvent("DELETE", 2, 7L, Array.empty[Float], 0))
    val dd = delta("graft_indexsync_epochs_total",
      "graft_indexsync_upserts_total", "graft_indexsync_deletes_total",
      "graft_indexsync_skipped_epochs_total") {
      IndexSync.applyBatch(spark, events, 41L, d, null)
      IndexSync.applyBatch(spark, events, 41L, d, null) // marked → skipped
    }
    assert(dd("graft_indexsync_epochs_total") == 1)
    assert(dd("graft_indexsync_upserts_total") == 1)
    assert(dd("graft_indexsync_deletes_total") == 1)
    assert(dd("graft_indexsync_skipped_epochs_total") == 1)
    // and the counters ride the same /metrics surface as the sync pipeline's
    val sched = new ResyncScheduler(intervalMs = 3600000, doResync = () => 0L)
    val api = new ApiServer(":0", sched).start()
    try {
      val conn = new URI(s"http://127.0.0.1:${api.port}/metrics").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      val body = Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
      conn.disconnect()
      assert(body.contains("# TYPE graft_indexsync_epochs_total counter"))
      assert(body.contains("graft_indexsync_upserts_total"))
      assert(body.contains("graft_indexsync_deletes_total"))
    } finally { api.close(); sched.close() }
  }

  test("the lexical index loop's counters count and are scrapeable") {
    val spark = graft.SparkSpec.session
    val d = java.nio.file.Files.createTempDirectory("metrics_lexsync").toString
    sys.addShutdownHook(org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(d)))
    graft.queries.InvertedIndex.build(spark,
      graft.Tables.documents(spark, "/root/testdata/sf0.001")
        .filter(org.apache.spark.sql.functions.col("doc_id") < 30)
        .select("doc_id", "text"), d)
    val events = Seq(
      LexIndexSync.DocEvent("UPDATE", 1, 3L, "dup merge window"),
      LexIndexSync.DocEvent("DELETE", 2, 7L, ""))
    val dd = delta("graft_lexsync_epochs_total",
      "graft_lexsync_upserts_total", "graft_lexsync_deletes_total",
      "graft_lexsync_skipped_epochs_total") {
      LexIndexSync.applyBatch(spark, events, 51L, d)
      LexIndexSync.applyBatch(spark, events, 51L, d) // marked → skipped
    }
    assert(dd("graft_lexsync_epochs_total") == 1)
    assert(dd("graft_lexsync_upserts_total") == 1)
    assert(dd("graft_lexsync_deletes_total") == 1)
    assert(dd("graft_lexsync_skipped_epochs_total") == 1)
    val sched = new ResyncScheduler(intervalMs = 3600000, doResync = () => 0L)
    val api = new ApiServer(":0", sched).start()
    try {
      val conn = new URI(s"http://127.0.0.1:${api.port}/metrics").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      val body = Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
      conn.disconnect()
      assert(body.contains("# TYPE graft_lexsync_epochs_total counter"))
      assert(body.contains("graft_lexsync_upserts_total"))
      assert(body.contains("graft_lexsync_deletes_total"))
    } finally { api.close(); sched.close() }
  }

  test("the materialized-view loop's counters count and are scrapeable") {
    val spark = graft.SparkSpec.session
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("metrics_mvsync").toString
    sys.addShutdownHook(org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(d)))
    graft.queries.MatView.bootstrap(spark,
      Seq((1L, 2.0), (2L, 4.0)).toDF("k", "v"), Seq("k"), Seq("v"), d)
    val batch = Seq(("INSERT", 3L, 8.0), ("DELETE", 1L, 2.0))
      .toDF("op", "k", "v")
    val dd = delta("graft_mvsync_epochs_total",
      "graft_mvsync_inserts_total", "graft_mvsync_retracts_total",
      "graft_mvsync_skipped_epochs_total") {
      MatViewSync.applyBatch(spark, batch, 9L, d)
      MatViewSync.applyBatch(spark, batch, 9L, d) // hwm ≥ 9 → skipped
    }
    assert(dd("graft_mvsync_epochs_total") == 1)
    assert(dd("graft_mvsync_inserts_total") == 1)
    assert(dd("graft_mvsync_retracts_total") == 1)
    assert(dd("graft_mvsync_skipped_epochs_total") == 1)
    val sched = new ResyncScheduler(intervalMs = 3600000, doResync = () => 0L)
    val api = new ApiServer(":0", sched).start()
    try {
      val conn = new URI(s"http://127.0.0.1:${api.port}/metrics").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      val body = Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
      conn.disconnect()
      assert(body.contains("# TYPE graft_mvsync_epochs_total counter"))
      assert(body.contains("graft_mvsync_inserts_total"))
      assert(body.contains("graft_mvsync_retracts_total"))
    } finally { api.close(); sched.close() }
  }

  test("resync runs count; GET /metrics exposes the counters") {
    val sched = new ResyncScheduler(intervalMs = 3600000, doResync = () => 5L)
    val api = new ApiServer(":0", sched).start()
    try {
      val d = delta("graft_resyncs_total", "graft_resync_resources_total") {
        sched.triggerNow()
      }
      assert(d("graft_resyncs_total") == 1)
      assert(d("graft_resync_resources_total") == 5)
      val conn = new URI(s"http://127.0.0.1:${api.port}/metrics").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      val body = Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
      conn.disconnect()
      assert(body.contains("# TYPE graft_resyncs_total counter"))
      assert("graft_resyncs_total (\\d+)".r.findFirstMatchIn(body)
        .exists(_.group(1).toLong >= 1))
    } finally { api.close(); sched.close() }
  }
}
