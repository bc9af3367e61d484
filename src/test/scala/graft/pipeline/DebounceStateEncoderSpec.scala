package graft.pipeline

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** A steady micro-batch must not compile code: the debounce state is
  * Kryo-encoded because a product encoder of [[Debounce.Pending]] (its rows
  * hold label/annotation maps) is re-resolved every batch with fresh
  * lambda-variable names, which cost one codegen compile per batch and
  * query. Both routes run the same operator, so both are checked.
  */
class DebounceStateEncoderSpec extends SparkSpec {

  test("steady micro-batches of both routes compile no new code") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ts = new Timestamp(0)
    val sink = new RestSink(post = _ => 200, sleep = _ => (), jitter = () => 1.0)
    val instances = MemoryStream[ResourceEventRow]
    val crds = MemoryStream[CrdPipeline.CrdEventRow]
    def cfg = SyncPipeline.Config(debounceMs = 200, flushIntervalMs = 100,
      checkpointDir = java.nio.file.Files.createTempDirectory("enc_ckpt").toString)
    val queries = Seq(
      SyncPipeline.start(instances.toDS(), sink, cfg),
      CrdPipeline.start(crds.toDS(), sink, cfg))
    var seq = 0L
    // ADDs, UPDATEs with changing labels, DELETEs and quiet periods, so
    // every path (accept, flush, A10 suppression, tombstone expiry) runs
    def feed(round: Int): Unit = {
      val types = Seq("ADD", "UPDATE", "DELETE")
      instances.addData((0 until 6).map { i =>
        seq += 1
        ResourceEventRow(types((round + i) % 3), seq, ts, s"ns/apps/v1/D/k$i", "ns",
          s"k$i", "D", "apps/v1", "apps", Map("v" -> (round % 2).toString), null, ts)
      }: _*)
      crds.addData((0 until 3).map { i =>
        seq += 1
        CrdPipeline.CrdEventRow(types((round + i) % 3), seq, ts, s"c$i.example.com")
      }: _*)
    }
    def batchIds = queries.map(q => Option(q.lastProgress).fold(0L)(_.batchId))
    // feed until every query has run `n` more batches
    def runBatches(n: Int): Long = {
      val from = batchIds
      val deadline = System.currentTimeMillis() + 120000
      var round = 0
      while (batchIds.zip(from).exists { case (b, f) => b < f + n } &&
          System.currentTimeMillis() < deadline) {
        feed(round); round += 1
        Thread.sleep(if (round % 4 == 0) 600 else 150)
      }
      queries.foreach(q => q.exception.foreach(e => fail(e)))
      batchIds.zip(from).map { case (b, f) => b - f }.sum
    }
    try {
      runBatches(15) // warm-up: each path compiles once
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ran = runBatches(20)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      assert(ran >= 40, s"only $ran batches ran")
      // a per-batch compile shows as about one compile per batch
      assert(compiles * 4 < ran, s"$compiles codegen compiles in $ran batches")
    } finally queries.foreach(_.stop())
  }
}
