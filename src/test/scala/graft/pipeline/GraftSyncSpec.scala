package graft.pipeline

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Whole-system integration: GraftSync.wire with a file event log and
  * recording sinks — instance events flow A1→A17, CRD events route to the
  * capabilities pipeline, and POST /api/v1/resync replays the snapshot.
  */
class GraftSyncSpec extends SparkSpec {

  private def ev(kind: String, name: String, typ: String, seq: Long): String =
    s"""{"event_type":"$typ","event_seq":$seq,"ts":"2026-01-01T00:00:0${seq % 10}Z",""" +
      s""""id":"ns/apps/v1/$kind/$name","namespace":"ns","name":"$name","kind":"$kind",""" +
      s""""apiVersion":"apps/v1","apiGroup":"apps","labels":{"v":"1"},"annotations":null,""" +
      s""""createdAt":"2026-01-01T00:00:00Z"}"""

  private def eventually[T](timeoutMs: Long = 30000)(f: => Option[T]): T = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var r = f
    while (r.isEmpty && System.currentTimeMillis() < deadline) { Thread.sleep(100); r = f }
    r.getOrElse(fail(s"condition not met within ${timeoutMs}ms"))
  }

  test("LOG_LEVEL names map onto log4j levels, unknowns default to INFO") {
    assert(GraftSync.log4jLevel("debug") == "DEBUG")
    assert(GraftSync.log4jLevel("warn") == "WARN")
    assert(GraftSync.log4jLevel("warning") == "WARN")
    assert(GraftSync.log4jLevel("error") == "ERROR")
    assert(GraftSync.log4jLevel("info") == "INFO")
    assert(GraftSync.log4jLevel("weird") == "INFO")
  }

  test("EVENT_SOURCE=dsv2 tails the log through the engine's own source end-to-end") {
    val dir = Files.createTempDirectory("graft_dsv2_e2e").toString
    val iGot = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val iSink = new RestSink(post = p => { iGot.add(p); 200 }, sleep = _ => ())
    val cfg = SyncPipeline.Config.fromEnv(Map(
      "DEBOUNCE_WINDOW_MS" -> "200",
      "BATCH_FLUSH_INTERVAL_MS" -> "100",
      "EVENT_SOURCE" -> "dsv2",
      "API_BIND_ADDRESS" -> ":0",
      "CHECKPOINT_DIR" -> Files.createTempDirectory("graft_dsv2_ckpt").toString))
    assert(cfg.dsv2Source)
    val running = GraftSync.wire(spark, cfg, dir, instanceSink = Some(iSink))
    try {
      Files.writeString(Paths.get(dir, "a.json"),
        ev("Deployment", "web-v2", "ADD", 1))
      import scala.jdk.CollectionConverters._
      eventually() {
        if (iGot.asScala.exists(_.contains("Deployment/web-v2"))) Some(())
        else None
      }
    } finally running.close()
  }

  test("full wiring: instances sync, CRDs route to capabilities, API resync replays") {
    val dir = Files.createTempDirectory("graft_e2e").toString
    val iGot = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val cGot = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val iSink = new RestSink(post = p => { iGot.add(p); 200 }, sleep = _ => ())
    val cSink = new RestSink(post = p => { cGot.add(p); 200 }, sleep = _ => ())
    val cfg = SyncPipeline.Config.fromEnv(Map(
      "DEBOUNCE_WINDOW_MS" -> "200",
      "BATCH_FLUSH_INTERVAL_MS" -> "100",
      "CAPABILITIES_ENDPOINT" -> "http://unused.invalid/caps", // enables CRD pipe
      "API_BIND_ADDRESS" -> ":0",
      "CHECKPOINT_DIR" -> Files.createTempDirectory("graft_e2e_ckpt").toString))
    val running = GraftSync.wire(spark, cfg, dir,
      instanceSink = Some(iSink), crdSink = Some(cSink))
    try {
      Files.writeString(Paths.get(dir, "a.json"),
        Seq(
          ev("Deployment", "web", "ADD", 1),
          ev("CustomResourceDefinition", "widgets.example.com", "ADD", 2),
          ev("Lease", "noisy", "ADD", 3) // blocklisted by default excludes
        ).mkString("\n"))
      import scala.jdk.CollectionConverters._
      // instance pipeline: the Deployment upsert arrives; the Lease never does
      eventually() {
        if (iGot.asScala.exists(_.contains("Deployment/web"))) Some(()) else None
      }
      assert(!iGot.asScala.exists(_.contains("noisy")))
      // CRD pipeline: bare-name payload on the capabilities sink
      eventually() {
        if (cGot.asScala.exists(_ ==
          """{"upserts":["widgets.example.com"]}""")) Some(()) else None
      }
      assert(!cGot.asScala.exists(_.contains("Deployment")))

      // ad-hoc resync over the real HTTP API replays the snapshot
      val before = iGot.size()
      val crdUpsert = """{"upserts":["widgets.example.com"]}"""
      val crdBefore = cGot.asScala.count(_ == crdUpsert)
      val conn = new java.net.URI(
        s"http://127.0.0.1:${running.api.port}/api/v1/resync").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true); conn.getOutputStream.close()
      assert(conn.getResponseCode == 200)
      val body = scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
      conn.disconnect()
      // snapshot = 3 non-deleted ids; each route replays only what it
      // watches, like the reference's relist of its watched GVRs: the
      // Deployment to instances, the CRD name to capabilities, the Lease
      // to neither
      assert(body.contains(""""status":"ok""""), body)
      assert(body.contains(""""resources":2"""), body)
      eventually() {
        if (iGot.size() > before) Some(()) else None
      }
      assert(cGot.asScala.count(_ == crdUpsert) == crdBefore + 1)
      assert(!iGot.asScala.exists(p => p.contains("noisy") || p.contains("widgets.example.com")))
    } finally { running.close() }
  }
}
