package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.streaming.StreamingQuery

/** Upgrade and recovery under [[LocalCheckpointFileManager]]: a checkpoint
  * written by Spark's default manager (with its `.crc` sidecars) resumes
  * under the new one, and a leftover sidecar next to a deleted commit file
  * no longer blocks recovery.
  */
class CheckpointUpgradeSpec extends SparkSpec {

  private val Key = LocalCheckpointFileManager.ConfKey
  private val SparkDefaultManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"

  private def eventually[T](what: => String, timeoutMs: Long = 40000)(f: => Option[T]): T = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var r = f
    while (r.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(100); r = f
    }
    r.getOrElse(fail(s"$what: not met within ${timeoutMs}ms"))
  }

  /** Run `f` with the session's manager class set to `v` (None = unset,
    * so the pipeline installs its own), restoring the previous setting
    * after. A query must live inside `f`: the stream clones the session's
    * conf on its own thread, after `start()` returns.
    */
  private def withManager[T](v: Option[String])(f: => T): T = {
    val before = spark.conf.getOption(Key)
    v.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
    try f
    finally before.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
  }

  private def evJson(typ: String, seq: Int, name: String, version: String = "v1") =
    s"""{"event_type":"$typ","event_seq":$seq,"ts":"2026-01-01T00:00:${"%02d".format(seq)}Z","id":"ns/apps/v1/Deployment/$name","namespace":"ns","name":"$name","kind":"Deployment","apiVersion":"apps/v1","apiGroup":"apps","labels":{"version":"$version"},"annotations":null,"createdAt":"2026-01-01T00:00:00Z"}"""

  private val firstFile = Seq(
    evJson("ADD", 1, "kept"), evJson("ADD", 2, "updated"), evJson("ADD", 3, "removed"))
  private val secondFile = Seq(
    evJson("UPDATE", 4, "updated", "v2"), evJson("DELETE", 5, "removed"),
    evJson("ADD", 6, "late"))
  private val expected = Map(
    "ns/apps/v1/Deployment/kept" -> "v1",
    "ns/apps/v1/Deployment/updated" -> "v2",
    "ns/apps/v1/Deployment/late" -> "v1")

  private val UpsertRe = """"id":"([^"]+)"[^}]*"labels":\{"version":"([^"]*)"\}""".r
  private val IdRe = """"([^"]+)"""".r

  /** The receiver's final state: payloads applied in delivery order. */
  private def finalState(payloads: Seq[String]): Map[String, String] =
    payloads.foldLeft(Map.empty[String, String]) { (st, p) =>
      if (p.startsWith("""{"deletes":""""))
        st -- IdRe.findAllMatchIn(p.stripPrefix("""{"deletes":""")).map(_.group(1))
      else st ++ UpsertRe.findAllMatchIn(p).map(m => m.group(1) -> m.group(2))
    }

  private final class Run(prefix: String) {
    val srcDir: String = Files.createTempDirectory(s"${prefix}_src").toString
    val ckpt: String = Files.createTempDirectory(s"${prefix}_ckpt").toString
    val received = ArrayBuffer.empty[String]
    private val sink = new RestSink(
      post = p => { received.synchronized { received += p }; 200 },
      sleep = _ => (), jitter = () => 1.0)
    // keepAliveTick: recovered debounce timers fire without new events
    def start(): StreamingQuery = {
      implicit val s: SparkSession = spark
      SyncPipeline.start(SyncPipeline.fileSource(spark, srcDir), sink,
        SyncPipeline.Config(debounceMs = 3000, flushIntervalMs = 100,
          checkpointDir = ckpt, keepAliveTick = true))
    }
    def state: Map[String, String] = finalState(received.synchronized(received.toList))
    def writeSource(name: String, lines: Seq[String]): Unit =
      Files.writeString(Paths.get(srcDir, name), lines.mkString("\n"))
    def awaitState(q: StreamingQuery, want: Map[String, String]): Unit =
      eventually(s"final state $want (have $state)") {
        q.exception.foreach(e => fail(s"query failed: $e"))
        if (state == want) Some(()) else None
      }
    def file(rel: String): java.io.File = new java.io.File(ckpt, rel)
  }

  test("a checkpoint written by Spark's default manager resumes under the new one") {
    // uninterrupted reference run, new manager throughout
    val ref = new Run("upg_ref")
    ref.writeSource("a.json", firstFile)
    ref.writeSource("b.json", secondFile)
    withManager(None) {
      val qr = ref.start()
      try ref.awaitState(qr, expected) finally qr.stop()
    }

    // phase 1 under Spark's default manager (a user-set class, which
    // install leaves alone), stopped while the first file's upserts are
    // still held by the debounce
    val up = new Run("upg")
    up.writeSource("a.json", firstFile)
    withManager(Some(SparkDefaultManager)) {
      val q1 = up.start()
      try {
        assert(spark.conf.get(Key) == SparkDefaultManager)
        eventually("first batch read") { if (q1.recentProgress.exists(_.numInputRows > 0)) Some(()) else None }
      } finally q1.stop()
    }
    assert(up.received.synchronized(up.received.isEmpty), "fixture: upserts must still be pending")
    assert(up.file("offsets/.0.crc").isFile && up.file("commits/.0.crc").isFile,
      "fixture: the default manager writes .crc sidecars")
    val lastOld = up.file("commits").list().filter(_.forall(_.isDigit)).map(_.toLong).max

    // phase 2: the engine's own manager, over the same checkpoint
    up.writeSource("b.json", secondFile)
    withManager(None) {
      val q2 = up.start()
      try {
        assert(spark.conf.get(Key) == classOf[LocalCheckpointFileManager].getName)
        up.awaitState(q2, expected)
      } finally q2.stop()
    }
    assert(up.state == ref.state)
    // new batches were committed by the new manager, sidecars included
    val newer = up.file("commits").list().filter(_.forall(_.isDigit)).map(_.toLong)
      .filter(_ > lastOld)
    assert(newer.nonEmpty)
    assert(newer.forall(n => up.file(s"commits/.$n.crc").isFile))
  }

  test("a leftover .N.crc next to a deleted commits/N no longer blocks recovery") {
    // the hazard, at the manager level: Spark's default manager refuses a
    // no-overwrite create when only the stale sidecar is left
    val dir = Files.createTempDirectory("stale_crc")
    val conf = new Configuration()
    val stale = new java.io.File(dir.toFile, ".7.crc")
    def create(fm: CheckpointFileManager): Unit = {
      val out = fm.createAtomic(new Path(dir.resolve("7").toUri), overwriteIfPossible = false)
      out.write("v1".getBytes("UTF-8"))
      out.close()
    }
    Files.write(stale.toPath, Array[Byte](1, 2, 3))
    intercept[FileAlreadyExistsException](create(CheckpointFileManager.create(new Path(dir.toUri), conf)))
    new java.io.File(dir.toFile, "7").delete()
    val ours = new LocalCheckpointFileManager(new Path(dir.toUri), conf)
    create(ours)
    val in = ours.open(new Path(dir.resolve("7").toUri))
    try assert(new String(in.readAllBytes(), "UTF-8") == "v1") finally in.close()

    // end to end: drop the last commit file, keep its sidecar, restart
    val run = new Run("stale_e2e")
    run.writeSource("a.json", firstFile ++ secondFile)
    withManager(None) {
      val q1 = run.start()
      try run.awaitState(q1, expected) finally q1.stop()
    }
    def batches(log: String) =
      run.file(log).list().filter(_.forall(_.isDigit)).map(_.toLong)
    val last = batches("commits").max
    // the stop may interrupt a planned batch: drop its offsets so `last` is
    // the batch recovery re-runs (the crash-before-planning state)
    batches("offsets").filter(_ > last).foreach { n =>
      assert(run.file(s"offsets/$n").delete() && run.file(s"offsets/.$n.crc").delete())
    }
    assert(run.file(s"commits/.$last.crc").isFile, "fixture: expected the commit's sidecar")
    assert(run.file(s"commits/$last").delete())
    withManager(None) {
      val q2 = run.start()
      try {
        // recovery re-runs batch `last` and commits it over the stale sidecar
        eventually(s"commits/$last rewritten") {
          q2.exception.foreach(e => fail(s"recovery failed: $e"))
          if (run.file(s"commits/$last").isFile) Some(()) else None
        }
        eventually(s"a batch after $last (last progress ${q2.lastProgress})") {
          if (q2.lastProgress != null && q2.lastProgress.batchId > last) Some(()) else None
        }
        assert(q2.isActive && q2.exception.isEmpty)
        assert(run.state == expected)
      } finally q2.stop()
    }
  }
}
