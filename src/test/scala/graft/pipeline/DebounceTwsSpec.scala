package graft.pipeline

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.collection.mutable.ArrayBuffer

/** The transformWithState debounce path must reproduce the classic
  * flatMapGroupsWithState semantics exactly: the reference scenarios of
  * SyncPipelineSpec (delete bypass, last-state-wins) plus A10 no-op
  * suppression, all through SyncPipeline.start with rocksDbState=true
  * (the RocksDB state store, which selects the transformWithState path).
  */
class DebounceTwsSpec extends SparkSpec {

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

  private def startTws(debounceMs: Long): (
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
        checkpointDir = {
          val d = java.nio.file.Files.createTempDirectory("tws_ckpt")
          sys.addShutdownHook(org.apache.commons.io.FileUtils
            .deleteQuietly(d.toFile))
          d.toString
        },
        rocksDbState = true))
    (source, received, query)
  }

  test("tws: delete bypasses a long debounce that still holds the upsert") {
    val (source, received, query) = startTws(debounceMs = 60000)
    try {
      source.addData(ev("held-app", "ADD", 1, "v1"), ev("old-app", "DELETE", 2))
      val delete = eventually() {
        received.synchronized { received.find(_.contains("deletes")) }
      }
      assert(delete == """{"deletes":["default/apps/v1/Deployment/old-app"]}""")
      assert(received.synchronized { !received.exists(_.contains("held-app")) })
    } finally query.stop()
  }

  test("tws: rapid updates quiesce to exactly one last-state-wins upsert") {
    val (source, received, query) = startTws(debounceMs = 1000)
    try {
      source.addData((1L to 5L).map(i => ev("rapid-app", "UPDATE", i, s"v$i")): _*)
      val upsert = eventually() {
        received.synchronized { received.find(_.contains("rapid-app")) }
      }
      assert(upsert.contains(""""labels":{"version":"v5"}"""))
      Thread.sleep(1500)
      assert(received.synchronized { received.count(_.contains("rapid-app")) } == 1)
    } finally query.stop()
  }

  test("tws: A10 no-op suppression holds across flushes, changes still flush") {
    val (source, received, query) = startTws(debounceMs = 500)
    try {
      source.addData(ev("noop-app", "ADD", 1, "v1"))
      eventually() {
        received.synchronized { received.find(_.contains("noop-app")) }
      }
      // identical metadata again: suppressed (no second payload)
      source.addData(ev("noop-app", "UPDATE", 2, "v1"))
      Thread.sleep(2000)
      assert(received.synchronized { received.count(_.contains("noop-app")) } == 1)
      // changed metadata: flushes
      source.addData(ev("noop-app", "UPDATE", 3, "v2"))
      eventually() {
        received.synchronized {
          if (received.count(_.contains("noop-app")) == 2) Some(()) else None
        }
      }
      val last = received.synchronized { received.filter(_.contains("noop-app")).last }
      assert(last.contains(""""labels":{"version":"v2"}"""))
    } finally query.stop()
  }
}
