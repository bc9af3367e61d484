package graft.pipeline

import graft.SparkSpec
import graft.queries.MatView
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The sync→view loop: a streaming CDC of base-row inserts/deletes keeps
  * the materialized aggregate exactly equal to a recompute over the
  * evolving base state, replayed stream epochs dedup through the meta-
  * commit high-water mark (no double-applied retractions), and the
  * compaction cadence bounds the delta log under churn.
  */
class MatViewSyncSpec extends SparkSpec {

  private def eventually(timeoutMs: Long = 60000)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    // the condition reads the view WHILE the loop's compaction rewrites
    // delta dirs — a poll that lands mid-rewrite can fail at ANALYSIS
    // (dir listed, files moved → schema inference fails) or at EXECUTION
    // (task reads a just-deleted part file → SparkException); treat any
    // non-fatal throw as not-yet and re-poll. The success decision comes
    // from a poll that genuinely evaluated true — the old form re-ran
    // the condition inside the final assert, which could race all over
    // again after the loop had already seen it hold.
    def poll(): Boolean =
      try cond
      catch { case scala.util.control.NonFatal(_) => false }
    var ok = poll()
    while (!ok && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      ok = poll()
    }
    assert(ok, s"condition not met within ${timeoutMs}ms")
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def tmp(p: String) = {
    val d = Files.createTempDirectory(p).toString
    sys.addShutdownHook(org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(d)))
    d
  }

  private def recompute(rows: Seq[(Long, Double)]): Seq[String] = {
    import spark.implicits._
    canon(rows.toDF("k", "v").groupBy("k")
      .agg(count(lit(1)).as("mv_cnt"),
        sum(col("v").cast("decimal(28,10)"))
          .cast("decimal(28,10)").as("mv_sum_v")))
  }

  test("streamed CDC keeps the view ≡ a recompute of the evolving base") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val viewDir = tmp("mvsync_view")
    val base = (1L to 40L).map(i => (i, i % 5, i * 1.5))
      .map { case (id, k, v) => (id, k, v) }
    MatView.bootstrap(spark,
      base.toDF("id", "k", "v").select("k", "v"), Seq("k"), Seq("v"), viewDir)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Double)]
    val query = MatViewSync.start(source.toDS().toDF("op", "k", "v"), viewDir,
      tmp("mvsync_ckpt"), triggerMs = 50, compactEvery = 2)
    try {
      // epoch A: insert 10 new rows under two keys
      source.addData((1 to 10).map(i => ("INSERT", (i % 2).toLong, 100.0 + i)))
      // epoch B: retract the original key-3 rows (ids 3, 8, ..., 38)
      val retracted = base.filter(_._2 == 3)
        .map { case (_, k, v) => ("DELETE", k, v) }
      source.addData(retracted)
      val expect = recompute(
        base.filter(_._2 != 3).map { case (_, k, v) => (k, v) } ++
          (1 to 10).map(i => ((i % 2).toLong, 100.0 + i)))
      eventually() { canon(MatView.serve(spark, viewDir)) == expect }
      // the compaction cadence fired (2 applied epochs, compactEvery = 2):
      // the delta log is consolidated but the view unchanged
      eventually() {
        new java.io.File(s"$viewDir/delta").listFiles().length <= 2
      }
      assert(canon(MatView.serve(spark, viewDir)) == expect)
    } finally query.stop()
  }

  test("a replayed stream epoch is skipped — retractions never double-apply") {
    import spark.implicits._
    val viewDir = tmp("mvsync_replay")
    val base = (1L to 20L).map(i => (i % 4, i * 2.0))
    MatView.bootstrap(spark, base.toDF("k", "v"), Seq("k"), Seq("v"), viewDir)
    val batch = Seq(("DELETE", 1L, 2.0), ("DELETE", 1L, 10.0),
      ("INSERT", 9L, 0.25)).toDF("op", "k", "v")
    val first = MatViewSync.applyBatch(spark, batch, epochId = 7L, viewDir)
    assert(first == ((1L, 2L)))
    val after = canon(MatView.serve(spark, viewDir))
    // the same epoch replays (recovery): the view must not change — a
    // double-applied DELETE would drive key 1's count negative
    assert(MatViewSync.applyBatch(spark, batch, epochId = 7L, viewDir)
      == ((0L, 0L)))
    assert(canon(MatView.serve(spark, viewDir)) == after)
    // a LATER epoch still applies
    assert(MatViewSync.applyBatch(spark,
      Seq(("INSERT", 9L, 0.75)).toDF("op", "k", "v"),
      epochId = 8L, viewDir) == ((1L, 0L)))
    assert(canon(MatView.serve(spark, viewDir)) != after)
  }

  test("an op outside INSERT/DELETE (or NULL) fails loudly, never silently drops") {
    import spark.implicits._
    val viewDir = tmp("mvsync_badop")
    MatView.bootstrap(spark, Seq((1L, 5.0)).toDF("k", "v"),
      Seq("k"), Seq("v"), viewDir)
    val before = canon(MatView.serve(spark, viewDir))
    // UPDATE is the index loops' verb, NOT this one's — applying it as an
    // insert (what the op split would silently do) diverges the view
    val e = intercept[IllegalArgumentException] {
      MatViewSync.applyBatch(spark,
        Seq(("UPDATE", 1L, 9.0)).toDF("op", "k", "v"), epochId = 2L, viewDir)
    }
    assert(e.getMessage.contains("UPDATE"), e.getMessage)
    val eNull = intercept[IllegalArgumentException] {
      MatViewSync.applyBatch(spark,
        Seq((null.asInstanceOf[String], 1L, 9.0)).toDF("op", "k", "v"),
        epochId = 2L, viewDir)
    }
    assert(eNull.getMessage.contains("NULL"), eNull.getMessage)
    // nothing applied, gate not advanced: the view is untouched and a
    // corrected epoch 2 still lands
    assert(canon(MatView.serve(spark, viewDir)) == before)
    assert(MatViewSync.applyBatch(spark,
      Seq(("INSERT", 2L, 9.0)).toDF("op", "k", "v"), epochId = 2L, viewDir)
      == ((1L, 0L)))
  }

  test("a manual refresh between stream epochs does not reset the replay gate") {
    import spark.implicits._
    val viewDir = tmp("mvsync_manual")
    MatView.bootstrap(spark, Seq((1L, 5.0)).toDF("k", "v"),
      Seq("k"), Seq("v"), viewDir)
    MatViewSync.applyBatch(spark,
      Seq(("INSERT", 2L, 1.0)).toDF("op", "k", "v"), epochId = 3L, viewDir)
    // an out-of-band batch refresh (streamEpoch unset)
    MatView.refresh(spark, viewDir, Seq((4L, 9.0)).toDF("k", "v"),
      Seq.empty[(Long, Double)].toDF("k", "v"))
    assert(MatView.lastStreamEpoch(spark, viewDir) == 3L,
      "manual refresh must carry the stream high-water mark forward")
    // the stream's epoch 3 replays after the manual refresh: still skipped
    assert(MatViewSync.applyBatch(spark,
      Seq(("INSERT", 2L, 1.0)).toDF("op", "k", "v"), epochId = 3L, viewDir)
      == ((0L, 0L)))
  }

  test("each micro-batch is scanned once: progress numInputRows counts every event once") {
    // a foreachBatch frame re-runs its source scan per action, and Spark
    // adds every re-run to numInputRows (the IndexSyncSpec case, here for
    // the view loop)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val viewDir = tmp("mvsync_rows_view")
    val srcDir = tmp("mvsync_rows_src")
    MatView.bootstrap(spark, Seq((1L, 5.0)).toDF("k", "v"),
      Seq("k"), Seq("v"), viewDir)
    val (batches, perBatch) = (3, 9)
    (1 to batches).foreach { b =>
      Files.writeString(java.nio.file.Paths.get(srcDir, f"b$b%02d.json"),
        (0 until perBatch).map(i =>
          s"""{"op":"INSERT","k":${i % 3},"v":${b * 10 + i}.5}""")
          .mkString("\n"))
    }
    val evs = spark.readStream.schema("op STRING, k BIGINT, v DOUBLE")
      .option("maxFilesPerTrigger", "1").json(srcDir)
    val q = MatViewSync.start(evs, viewDir, tmp("mvsync_rows_ckpt"))
    val rows = try {
      q.processAllAvailable()
      q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    } finally q.stop()
    assert(rows == Seq.fill(batches)(perBatch.toLong),
      s"per-batch input rows $rows, written $perBatch per batch")
  }
}
