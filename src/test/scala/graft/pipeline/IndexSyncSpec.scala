package graft.pipeline

import graft.SparkSpec
import graft.pipeline.VectorSync.VecEvent
import graft.queries.{IndexedLayout, KnnGraphBuild}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** The sync→index loop end to end: streaming CDC upserts/deletes drive the
  * physical layout and the persisted k-NN graph, and after the epochs
  * commit, `prunedTopK` and `readGraph` answer exactly as a from-scratch
  * build of the final live state — plus replay convergence when an epoch
  * re-applies after recovery.
  */
class IndexSyncSpec extends SparkSpec {

  private val (nc, bts, tbls, kk) = (16, 6, 8, 5)

  private def eventually(timeoutMs: Long = 60000)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(cond, s"condition not met within ${timeoutMs}ms")
  }

  private def emb = graft.Tables.embeddings(spark, sf001)
    .select("vec_id", "embedding")

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def queries = graft.Tables.embeddings(spark, sf001)
    .filter(col("vec_id") < 5)
    .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  private def vecOf(id: Long): Array[Float] =
    emb.filter(col("vec_id") === id).head.getSeq[Float](1).toArray

  private def writeEvents(dir: String, name: String, evs: Seq[VecEvent]): Unit = {
    val lines = evs.map { e =>
      s"""{"event_type":"${e.event_type}","event_seq":${e.event_seq},""" +
        s""""vec_id":${e.vec_id},"embedding":[${e.embedding.mkString(",")}],""" +
        s""""label":${e.label}}"""
    }
    Files.writeString(Paths.get(dir, name), lines.mkString("\n"))
  }

  private def fileEvents(dir: String) = {
    implicit val enc: org.apache.spark.sql.Encoder[VecEvent] =
      org.apache.spark.sql.Encoders.product[VecEvent]
    spark.readStream.schema(enc.schema).json(dir).as[VecEvent]
  }

  test("streamed CDC keeps layout + graph ≡ a rebuild of the live state") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val layoutDir = tmp("isync_layout")
    val graphDir = tmp("isync_graph")
    val srcDir = tmp("isync_src")
    val ckpt = tmp("isync_ckpt")

    // bootstrap both stores over the initial corpus
    IndexedLayout.write(spark, emb, layoutDir, kCells = nc)
    KnnGraphBuild.build(spark, emb, graphDir, kk, tbls, bitsOverride = bts)

    // one batch of CDC: a fresh vector, an update of an existing one
    // (reusing vector 17's embedding shape), and a delete — with an
    // in-epoch superseded event to prove last-state-wins
    val newVec = vecOf(3).map(v => v * 0.9f)
    val updVec = vecOf(17).map(v => -v)
    writeEvents(srcDir, "b1.json", Seq(
      VecEvent("ADD", 1, 900001L, newVec, 0),
      VecEvent("UPDATE", 2, 17L, vecOf(17), 0), // superseded in-epoch
      VecEvent("UPDATE", 3, 17L, updVec, 0), // the surviving state
      VecEvent("DELETE", 4, 23L, Array.empty[Float], 0)))

    val q = IndexSync.start(fileEvents(srcDir), layoutDir, graphDir, ckpt)
    try eventually() {
      // the GRAPH marker is the last thing an epoch writes — waiting on it
      // means both stores fully absorbed the batch before we stop the query
      val md = new org.apache.hadoop.fs.Path(s"$graphDir/_graft_state/stream")
      val fs = md.getFileSystem(spark.sessionState.newHadoopConf())
      fs.exists(md) && fs.listStatus(md).nonEmpty
    } finally q.stop()

    import spark.implicits._
    val want = emb.filter(!col("vec_id").isin(17L, 23L))
      .unionByName(Seq((900001L, newVec), (17L, updVec))
        .toDF("vec_id", "embedding"))
      .localCheckpoint()

    // layout: live view and pruned search match a fresh layout of `want`
    // under the same pinned quantizer
    val live = IndexedLayout.readCorpus(spark, layoutDir)
    assert(live.count() == want.count())
    assert(live.filter(col("vec_id") === 23L).isEmpty)
    val wantLayout = tmp("isync_layout_want")
    IndexedLayout.write(spark, want, wantLayout,
      centroidsOverride = IndexedLayout.readCentroids(spark, layoutDir))
    assert(canon(IndexedLayout.prunedTopK(spark, layoutDir, queries, kk, 2)) ==
      canon(IndexedLayout.prunedTopK(spark, wantLayout, queries, kk, 2)))

    // graph: row-identical to a full rebuild of `want` at the same bits
    val wantGraph = tmp("isync_graph_want")
    KnnGraphBuild.build(spark, want, wantGraph, kk, tbls, bitsOverride = bts)
    assert(canon(KnnGraphBuild.readGraph(spark, graphDir)) ==
      canon(KnnGraphBuild.readGraph(spark, wantGraph)))
  }

  test("sustained churn with compactEvery keeps on-disk rows bounded (the policy fires)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val layoutDir = tmp("isync_churn_layout")
    val srcDir = tmp("isync_churn_src")
    val ckpt = tmp("isync_churn_ckpt")
    IndexedLayout.write(spark, emb, layoutDir, kCells = nc)
    val n = emb.count()
    val churnVecs = emb.orderBy("vec_id").limit(12).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    // 4 single-file epochs re-upserting the SAME 12 ids — every epoch is
    // pure churn; without compaction the layout would hold n + 4*12 rows
    val batches = 4
    (1 to batches).foreach { b =>
      writeEvents(srcDir, f"b$b%02d.json", churnVecs.zipWithIndex.map {
        case ((id, v), i) =>
          VecEvent("UPDATE", b * 100L + i, id,
            v.map(x => x * (1.0f + 0.01f * b)), 0)
      }.toSeq)
    }
    val evs = {
      implicit val enc: org.apache.spark.sql.Encoder[VecEvent] =
        org.apache.spark.sql.Encoders.product[VecEvent]
      spark.readStream.schema(enc.schema)
        .option("maxFilesPerTrigger", "1").json(srcDir).as[VecEvent]
    }
    val before = (
      Metrics.global.value("graft_indexsync_epochs_total"),
      Metrics.global.value("graft_indexsync_upserts_total"),
      Metrics.global.value("graft_indexsync_compactions_total"))
    val q = IndexSync.start(evs, layoutDir, null, ckpt,
      compactEvery = 2, compactMinDeadFrac = 0.0)
    try eventually() {
      Metrics.global.value("graft_indexsync_compactions_total") - before._3 >= 2
    } finally q.stop()
    // the loop's own counters (A20 parity for the index loop)
    assert(Metrics.global.value("graft_indexsync_epochs_total") - before._1
      >= batches)
    assert(Metrics.global.value("graft_indexsync_upserts_total") - before._2
      >= batches * 12L)
    // bounded: at most compactEvery epochs of churn outstanding — without
    // the policy this would be n + batches*12
    val raw = spark.read.parquet(layoutDir).count()
    assert(raw <= n + 2 * 12, s"layout grew unbounded: $raw rows vs live $n")
    // live view correct: same key set, each churned id on a churned
    // embedding (bit-exact final state is IndexSyncSpec test 1's job;
    // batch arrival order is the file source's)
    val live = IndexedLayout.readCorpus(spark, layoutDir)
    assert(live.count() == n)
    assert(live.select("vec_id").distinct().count() == n)
  }

  test("each micro-batch is scanned once: progress numInputRows counts every event once") {
    // a foreachBatch frame re-runs its source scan per action, and Spark
    // adds every re-run to numInputRows — a consumer that waits on that
    // count (a drain "all events consumed") would stop the loop before
    // its last batch if the apply read the batch twice
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val layoutDir = tmp("isync_rows_layout")
    val srcDir = tmp("isync_rows_src")
    val ckpt = tmp("isync_rows_ckpt")
    IndexedLayout.write(spark, emb, layoutDir, kCells = nc)
    val vs = emb.orderBy("vec_id").limit(9).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val batches = 3
    (1 to batches).foreach { b =>
      writeEvents(srcDir, f"b$b%02d.json", vs.zipWithIndex.map {
        case ((id, v), i) =>
          VecEvent("UPDATE", b * 100L + i, id, v.map(_ * (1.0f + b)), 0)
      }.toSeq)
    }
    val evs = {
      implicit val enc: org.apache.spark.sql.Encoder[VecEvent] =
        org.apache.spark.sql.Encoders.product[VecEvent]
      spark.readStream.schema(enc.schema)
        .option("maxFilesPerTrigger", "1").json(srcDir).as[VecEvent]
    }
    val q = IndexSync.start(evs, layoutDir, null, ckpt)
    val rows = try {
      q.processAllAvailable()
      q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    } finally q.stop()
    assert(rows == Seq.fill(batches)(vs.length.toLong),
      s"per-batch input rows $rows, written ${vs.length} per batch")
  }

  test("an epoch that re-applies (lost marker) converges; a marked epoch is skipped") {
    val layoutDir = tmp("isync_replay_layout")
    val graphDir = tmp("isync_replay_graph")
    IndexedLayout.write(spark, emb, layoutDir, kCells = nc)
    KnnGraphBuild.build(spark, emb, graphDir, kk, tbls, bitsOverride = bts)

    val evs = Seq(
      VecEvent("UPDATE", 1, 11L, vecOf(11).map(-_), 0),
      VecEvent("DELETE", 2, 29L, Array.empty[Float], 0))
    assert(IndexSync.applyBatch(spark, evs, 7L, layoutDir, graphDir) == ((1L, 1L)))
    val liveAfter = canon(IndexedLayout.readCorpus(spark, layoutDir)
      .select("vec_id", "embedding"))
    val graphAfter = canon(KnnGraphBuild.readGraph(spark, graphDir))

    // marked: the replay short-circuits, nothing re-applies
    assert(IndexSync.applyBatch(spark, evs, 7L, layoutDir, graphDir) == ((0L, 0L)))
    assert(canon(IndexedLayout.readCorpus(spark, layoutDir)
      .select("vec_id", "embedding")) == liveAfter)

    // marker lost (crash after the store epochs committed): the re-apply
    // runs as new store epochs and must CONVERGE, not duplicate
    val fs = new org.apache.hadoop.fs.Path(layoutDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$layoutDir/_index/stream/e7"), false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$graphDir/_graft_state/stream/e7"), false)
    assert(IndexSync.applyBatch(spark, evs, 7L, layoutDir, graphDir) == ((1L, 1L)))
    assert(canon(IndexedLayout.readCorpus(spark, layoutDir)
      .select("vec_id", "embedding")) == liveAfter)
    assert(canon(KnnGraphBuild.readGraph(spark, graphDir)) == graphAfter)
  }
}
