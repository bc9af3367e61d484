package graft.pipeline

import graft.SparkSpec
import graft.pipeline.LexIndexSync.DocEvent
import graft.queries.InvertedIndex
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The sync→index loop on the LEXICAL side: streaming document CDC keeps
  * the persisted inverted index serving exactly like a from-scratch
  * build over the final live corpus — adds, in-place updates (delete +
  * append under the liveness rule), deletes, replay convergence after a
  * lost marker, and bounded on-disk churn under the compaction policy.
  */
class LexIndexSyncSpec extends SparkSpec {

  private def eventually(timeoutMs: Long = 60000)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(cond, s"condition not met within ${timeoutMs}ms")
  }

  private def docs = graft.Tables.documents(spark, sf001)
    .select("doc_id", "text")

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def queries = graft.Tables.documents(spark, sf001)
    .filter(col("doc_id") < 3)
    .select(col("doc_id").as("q_id"), col("text"))

  private def serve(d: String): Seq[String] =
    canon(InvertedIndex.bm25TopK(spark, d, queries, k = 10,
      excludeQueryDoc = true))

  test("streamed doc CDC keeps the index ≡ a rebuild of the live corpus") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[DocEvent] =
      org.apache.spark.sql.Encoders.product[DocEvent]
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val d = tmp("lexsync_idx")
    InvertedIndex.build(spark, docs, d)
    val source = MemoryStream[DocEvent]
    val query = LexIndexSync.start(source.toDS(), d,
      tmp("lexsync_ckpt"), triggerMs = 50)
    val before = Metrics.global.value("graft_lexsync_epochs_total")
    try {
      // epoch A: two adds + one update of an existing doc
      source.addData(
        DocEvent("ADD", 1, 900001L, "dup spark merge window"),
        DocEvent("ADD", 2, 900002L, "dup dup table scan"),
        DocEvent("UPDATE", 3, 7L, "dup key key key"))
      eventually() {
        Metrics.global.value("graft_lexsync_epochs_total") >= before + 1 }
      // epoch B: delete one of the adds and an original doc; re-update 7
      // (last-state-wins inside the batch: the seq-5 text must win)
      source.addData(
        DocEvent("DELETE", 4, 900002L, ""),
        DocEvent("DELETE", 5, 11L, ""),
        DocEvent("UPDATE", 6, 7L, "dup hash join"),
        DocEvent("UPDATE", 7, 7L, "dup sort sort merge"))
      eventually() {
        Metrics.global.value("graft_lexsync_epochs_total") >= before + 2 }
    } finally query.stop()
    // rebuild the FINAL live corpus from scratch and compare serving
    import spark.implicits._
    val live = docs
      .filter(!col("doc_id").isin(7L, 11L))
      .unionByName(Seq(
        (900001L, "dup spark merge window"),
        (7L, "dup sort sort merge")).toDF("doc_id", "text"))
    val dRef = tmp("lexsync_ref")
    InvertedIndex.build(spark, live, dRef)
    assert(serve(d) == serve(dRef))
    assert(InvertedIndex.readMeta(spark, d)._2 ==
      InvertedIndex.readMeta(spark, dRef)._2)
    assert(InvertedIndex.readMeta(spark, d)._3 ==
      InvertedIndex.readMeta(spark, dRef)._3)
  }

  test("a marked epoch is skipped; a lost marker re-applies idempotently") {
    val d = tmp("lexsync_replay")
    InvertedIndex.build(spark, docs, d)
    val evs = Seq(
      DocEvent("UPDATE", 1, 13L, "dup window window"),
      DocEvent("DELETE", 2, 17L, ""))
    assert(LexIndexSync.applyBatch(spark, evs, epochId = 7L, d) == ((1L, 1L)))
    val after = serve(d)
    // replay with the marker intact: skipped outright
    assert(LexIndexSync.applyBatch(spark, evs, epochId = 7L, d) == ((0L, 0L)))
    assert(serve(d) == after)
    // lost marker: the re-application converges (delete-then-append —
    // the replayed tombstone kills the first copy, the replayed append
    // supersedes it)
    val marker = new java.io.File(s"$d/_index/stream/e7")
    assert(marker.exists())
    org.apache.commons.io.FileUtils.deleteQuietly(marker)
    assert(LexIndexSync.applyBatch(spark, evs, epochId = 7L, d) == ((1L, 1L)))
    assert(serve(d) == after)
    val dRef = tmp("lexsync_replay_ref")
    import spark.implicits._
    InvertedIndex.build(spark,
      docs.filter(col("doc_id") =!= 17L)
        .filter(col("doc_id") =!= 13L)
        .unionByName(Seq((13L, "dup window window")).toDF("doc_id", "text")),
      dRef)
    assert(serve(d) == serve(dRef))
  }

  test("stop/restart recovery: the checkpoint resumes and the index converges") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val enc: org.apache.spark.sql.Encoder[DocEvent] =
      org.apache.spark.sql.Encoders.product[DocEvent]
    val d = tmp("lexsync_rec_idx")
    val srcDir = tmp("lexsync_rec_src")
    val ckpt = tmp("lexsync_rec_ckpt")
    InvertedIndex.build(spark, docs, d)
    def writeEvents(name: String, evs: Seq[DocEvent]): Unit =
      Files.writeString(java.nio.file.Paths.get(srcDir, name),
        evs.map(e => s"""{"event_type":"${e.event_type}","event_seq":${
          e.event_seq},"doc_id":${e.doc_id},"text":"${e.text}"}""")
          .mkString("\n"))
    def fileEvents() = spark.readStream.schema(enc.schema).json(srcDir)
      .as[DocEvent]
    val before = Metrics.global.value("graft_lexsync_epochs_total")
    // first life: one epoch applies, then the "crash" (stop)
    writeEvents("b1.json", Seq(
      DocEvent("UPDATE", 1, 19L, "dup recover merge"),
      DocEvent("DELETE", 2, 23L, "")))
    val q1 = LexIndexSync.start(fileEvents(), d, ckpt, triggerMs = 50)
    try eventually() {
      Metrics.global.value("graft_lexsync_epochs_total") >= before + 1 }
    finally q1.stop()
    // second life: the checkpoint resumes — only the NEW file applies
    // (the old epoch is offset-committed AND marker-skipped), and fresh
    // events land
    writeEvents("b2.json", Seq(
      DocEvent("ADD", 3, 910001L, "dup recover window sort"),
      DocEvent("DELETE", 4, 29L, "")))
    val mid = Metrics.global.value("graft_lexsync_epochs_total")
    val q2 = LexIndexSync.start(fileEvents(), d, ckpt, triggerMs = 50)
    try eventually() {
      Metrics.global.value("graft_lexsync_epochs_total") >= mid + 1 }
    finally q2.stop()
    import spark.implicits._
    val dRef = tmp("lexsync_rec_ref")
    InvertedIndex.build(spark,
      docs.filter(!col("doc_id").isin(19L, 23L, 29L))
        .unionByName(Seq(
          (19L, "dup recover merge"),
          (910001L, "dup recover window sort")).toDF("doc_id", "text")),
      dRef)
    assert(serve(d) == serve(dRef))
    assert(InvertedIndex.readMeta(spark, d)._2 ==
      InvertedIndex.readMeta(spark, dRef)._2)
  }

  test("sustained update churn with compactEvery keeps on-disk postings bounded") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val d = tmp("lexsync_churn")
    InvertedIndex.build(spark, docs, d)
    val cleanRows = spark.read.parquet(d).count()
    // 8 epochs of in-place updates over the same 20 docs: without
    // compaction, dead postings accumulate linearly; with the policy at
    // compactEvery-equivalent cadence (applied via applyBatch + explicit
    // compact every 4 epochs, the start() wiring), they stay bounded
    (1 to 8).foreach { e =>
      val evs = (0 until 20).map(i =>
        DocEvent("UPDATE", i.toLong, 100L + i,
          s"dup churn pass$e token$i merge"))
      LexIndexSync.applyBatch(spark, evs, epochId = 100L + e, d)
      if (e % 4 == 0) InvertedIndex.compact(spark, d, minDeadFrac = 0.05)
    }
    val endRows = spark.read.parquet(d).count()
    // bound: the clean corpus plus at most ~2 generations of the churned
    // docs' postings (each ~6 tokens × 20 docs)
    assert(endRows < cleanRows + 400,
      s"postings grew unbounded: $cleanRows -> $endRows")
    // and the index still serves exactly like a rebuild of the live state
    import spark.implicits._
    val live = docs.filter(col("doc_id") < 100L || col("doc_id") >= 120L)
      .unionByName((0 until 20).map(i =>
        (100L + i, s"dup churn pass8 token$i merge")).toDF("doc_id", "text"))
    val dRef = tmp("lexsync_churn_ref")
    InvertedIndex.build(spark, live, dRef)
    assert(serve(d) == serve(dRef))
  }

  test("each micro-batch is scanned once: progress numInputRows counts every event once") {
    // a foreachBatch frame re-runs its source scan per action, and Spark
    // adds every re-run to numInputRows (the IndexSyncSpec case, here for
    // the lexical loop)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val enc: org.apache.spark.sql.Encoder[DocEvent] =
      org.apache.spark.sql.Encoders.product[DocEvent]
    val d = tmp("lexsync_rows_idx")
    val srcDir = tmp("lexsync_rows_src")
    val ckpt = tmp("lexsync_rows_ckpt")
    InvertedIndex.build(spark, docs, d)
    val (batches, perBatch) = (3, 9)
    (1 to batches).foreach { b =>
      Files.writeString(java.nio.file.Paths.get(srcDir, f"b$b%02d.json"),
        (0 until perBatch).map(i =>
          s"""{"event_type":"UPDATE","event_seq":${b * 100 + i},""" +
            s""""doc_id":${40 + i},"text":"dup rows pass$b token$i"}""")
          .mkString("\n"))
    }
    val evs = spark.readStream.schema(enc.schema)
      .option("maxFilesPerTrigger", "1").json(srcDir).as[DocEvent]
    val q = LexIndexSync.start(evs, d, ckpt)
    val rows = try {
      q.processAllAvailable()
      q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    } finally q.stop()
    assert(rows == Seq.fill(batches)(perBatch.toLong),
      s"per-batch input rows $rows, written $perBatch per batch")
  }
}
