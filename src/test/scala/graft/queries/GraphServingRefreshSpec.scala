package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The change-proportional pack refresh: one bucket-partitioned change
  * shard per refresh instead of an O(n·k) base rewrite. Pins
  *   - shard-refresh ≡ full rebuild, ROW FOR ROW, across insert +
  *     delete + upsert churn (the KnnGraphBuildSpec delta ≡ rebuild
  *     pattern lifted to the derived store);
  *   - rows WRITTEN are churn-sized, metered against the base;
  *   - deleted vertices are tombstoned by the shard's src claims (zero
  *     rows under a claiming epoch) and never serve again;
  *   - the fold: at foldEvery the refresh rewrites a full base and the
  *     superseded shards vacuum away.
  */
class GraphServingRefreshSpec extends SparkSpec {

  private val kk = 5

  private def emb = graft.Tables.embeddings(spark, sf001)
    .select("vec_id", "embedding")

  private def queries(e: org.apache.spark.sql.DataFrame) =
    e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def tmp(p: String) = {
    val d = java.nio.file.Files.createTempDirectory(p).toString
    sys.addShutdownHook(org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(d)))
    d
  }

  private def served(pd: String): org.apache.spark.sql.DataFrame =
    GraphServing.servedAdj(spark, pd, GraphServing.readMeta(spark, pd))
      .select("src", "dst", "embedding", "nrm")

  /** Apply the shared churn script to a freshly-built graph at `gd`:
    * 6 plain inserts (+ optional extras), 2 deletes, 1 upsert — four
    * graph epochs. The upsert is a PURE RESCALING of id 11 (×1.25):
    * cosines — and therefore the id's neighbor PAIRS — are unchanged,
    * but the collocated embedding/nrm on every surviving neighbor's
    * (v, 11) row is stale until v is re-claimed. That is exactly the
    * blind spot a pair-diff-only affected set misses (the r15 bug: a
    * sign-flipped upsert churned every pair, so no surviving-pair row
    * existed to catch it). Returns the live corpus after the churn.
    */
  private def churn(gd: String,
      extraIns: org.apache.spark.sql.DataFrame = null)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val ins0 = emb.orderBy("vec_id").limit(6)
      .withColumn("vec_id", col("vec_id") + 100000L)
    val ins = (if (extraIns == null) ins0 else ins0.unionByName(extraIns))
      .localCheckpoint()
    KnnGraphBuild.delta(spark, ins, gd) // e1
    KnnGraphBuild.deleteVecs(spark, Seq(3L, 7L).toDF("vec_id"), gd) // e2
    // upsert = delete + re-insert, re-embedded as a pure rescaling: the
    // LSH signatures, buckets, and cosines are scale-invariant, so every
    // old neighbor pair SURVIVES — the maximal stale-vector surface
    KnnGraphBuild.deleteVecs(spark, Seq(11L).toDF("vec_id"), gd) // e3
    val v11 = emb.filter(col("vec_id") === 11L)
      .head.getSeq[Float](1).map(_ * 1.25f)
    val up11 = Seq((11L, v11)).toDF("vec_id", "embedding")
      .selectExpr("vec_id", "cast(embedding as array<float>) as embedding")
      .localCheckpoint()
    KnnGraphBuild.delta(spark, up11, gd) // e4
    emb.filter(!col("vec_id").isin(3L, 7L, 11L))
      .unionByName(ins).unionByName(up11).localCheckpoint()
  }

  test("one shard absorbs insert + delete + upsert churn, row-identical to a full rebuild, churn-sized writes") {
    val gd = tmp("gsr_graph")
    val pdA = tmp("gsr_packA")
    val pdB = tmp("gsr_packB")
    KnnGraphBuild.build(spark, emb, gd, k = kk) // graph e0
    GraphServing.build(spark, gd, emb, pdA) // pack base e0
    val baseRows = spark.read.parquet(s"$pdA/adj/e0").count()
    // one insert placed ON a pinned centroid: it must DISPLACE that
    // cell's carried entry seed, proving the incremental winner update
    // covers the insert-wins-a-cell case (not just carried winners)
    import spark.implicits._
    val cvec = GraphServing.readCents(spark, pdA)
      .orderBy("cell").head.getSeq[Any](1).map {
        case d: Double => d.toFloat
        case f: Float => f
      }
    val centIns = Seq((100100L, cvec)).toDF("vec_id", "embedding")
      .selectExpr("vec_id", "cast(embedding as array<float>) as embedding")
      .localCheckpoint()
    val live = churn(gd, extraIns = centIns)
    assert(!GraphServing.isFresh(spark, gd, pdA))

    // ONE refresh reconciles all four graph epochs into one shard
    assert(GraphServing.refresh(spark, gd, live, pdA) == 1)
    assert(GraphServing.isFresh(spark, gd, pdA))
    // ServeMeta.n rides the graph's ARITHMETIC vertex count (insert +7,
    // delete −2, upsert −1+1 across the four epochs) — no per-refresh
    // corpus count — and lands exactly on the live corpus size
    assert(GraphServing.readMeta(spark, pdA).n == live.count(),
      "refreshed meta.n must track the graph's arithmetic vertex count")
    // the independent rebuild over the same graph + corpus, under the
    // pack's own PINNED seed geometry (entry-point geometry is pack
    // state — the FAISS add()-never-retrains contract; an unconstrained
    // rebuild would train a fresh kmeans and legitimately pick other
    // entry points). The ADJACENCY parity below is geometry-free either
    // way; KnnGraphBuildIvfSpec's sibling test pins the fully
    // independent rebuild where the quantizer is shared graph state.
    GraphServing.build(spark, gd, live, pdB,
      centroidsOverride = GraphServing.readCents(spark, pdA))

    // the SERVED ADJACENCY is row-identical — adjacency, collocated
    // vectors, norms; this is the store-level equivalence every walk
    // rides on. The upsert's SURVIVING pairs make this bite: (v, 11)
    // rows must carry 11's rescaled embedding/nrm, which only happens
    // if the surviving neighbors were re-claimed
    assert(canon(served(pdA)) == canon(served(pdB)),
      "shard-refreshed pack diverged from the full rebuild")
    // every survivor serving a row naming the re-embedded id was
    // re-claimed by the shard — the stale-collocated-vector guard
    val claimed = spark.read.parquet(s"$pdA/srcs/e1")
      .collect().map(_.getLong(0)).toSet
    val nbrs11 = served(pdB).filter(col("dst") === 11L)
      .select("src").collect().map(_.getLong(0)).toSet
    assert(nbrs11.nonEmpty, "fixture lost its surviving pairs")
    assert(nbrs11.subsetOf(claimed),
      s"surviving neighbors of the upsert must be re-claimed: ${nbrs11 -- claimed} missing")
    // incremental seed maintenance ≡ a full reassign of the live corpus
    // under the same pinned quantizer (the dominance argument, asserted
    // directly) — and the centroid-insert won its cell
    val fullSeeds = GraphServing.seedRows(
      VectorQueries.nrmFrame(live.select("vec_id", "embedding")),
      GraphServing.readCents(spark, pdA))
    assert(canon(GraphServing.readSeeds(spark, pdA)) == canon(fullSeeds),
      "incremental seed winners diverged from the full reassign")
    assert(GraphServing.readSeeds(spark, pdA)
      .filter(col("vec_id") === 100100L).count() == 1,
      "a centroid-sited insert must displace the carried seed of its cell")
    // and so are the walks, both tiers
    val q = queries(live)
    val want = canon(GraphServing.open(spark, pdB).topK(q, kk))
    assert(canon(GraphServing.open(spark, pdA).topK(q, kk)) == want)
    assert(canon(GraphServing.open(spark, pdA, pin = true).topK(q, kk)) == want)

    // churn metering: the shard's rows are the churned neighborhoods,
    // not the corpus — the receipt that refresh writes are
    // change-proportional (base here is ~600 vertices × ~2k rows)
    val shardRows = spark.read.parquet(s"$pdA/adj/e1").count()
    info(s"shard rows = $shardRows of base $baseRows")
    assert(shardRows > 0 && shardRows < baseRows / 3,
      s"shard must be churn-sized: $shardRows vs base $baseRows")
    // the claim list tombstones the dead and claims the new
    assert(Set(3L, 7L).subsetOf(claimed), "dead ids must be claimed (tombstoned)")
    val servedIds = served(pdA).select("src").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(!servedIds(3L) && !servedIds(7L), "deleted vertices must not serve")
    assert(servedIds(100000L) && servedIds(11L), "inserted/upserted ids must serve")

    // a second refresh with no graph change is a no-op
    assert(GraphServing.refresh(spark, gd, live, pdA) == 1)
    // describe sees the shard
    val st = GraphServing.describe(spark, pdA)
    assert(st.base == 0 && st.epoch == 1 && st.shards == 1)
  }

  test("an IVF-method graph refreshes through the same shard path, row-identical to its rebuild") {
    import spark.implicits._
    val gd = tmp("gsri_graph")
    val pdA = tmp("gsri_packA")
    val pdB = tmp("gsri_packB")
    // pinned-quantizer method: deltas assign under the stored centroids,
    // changedSince reads the same sigs/tombs shards — the refresh is
    // method-blind by construction; this pins it
    KnnGraphBuild.buildIvf(spark, emb, gd, k = kk, nprobe = 3)
    GraphServing.build(spark, gd, emb, pdA)
    val ins = emb.orderBy("vec_id").limit(4)
      .withColumn("vec_id", col("vec_id") + 300000L).localCheckpoint()
    KnnGraphBuild.deltaIvf(spark, ins, gd)
    KnnGraphBuild.deleteVecs(spark, Seq(2L).toDF("vec_id"), gd)
    val live = emb.filter(col("vec_id") =!= 2L).unionByName(ins).localCheckpoint()
    GraphServing.refresh(spark, gd, live, pdA)
    GraphServing.build(spark, gd, live, pdB)
    assert(canon(served(pdA)) == canon(served(pdB)),
      "IVF-method shard refresh diverged from the full rebuild")
    val q = queries(live)
    assert(canon(GraphServing.open(spark, pdA).topK(q, kk)) ==
      canon(GraphServing.open(spark, pdB).topK(q, kk)))
  }

  test("a crashed refresh's uncommitted shard rolls back; the retry serves correctly") {
    import spark.implicits._
    val gd = tmp("gsrc_graph")
    val pd = tmp("gsrc_pack")
    KnnGraphBuild.build(spark, emb, gd, k = kk)
    GraphServing.build(spark, gd, emb, pd)
    val ins = emb.orderBy("vec_id").limit(3)
      .withColumn("vec_id", col("vec_id") + 400000L).localCheckpoint()
    KnnGraphBuild.delta(spark, ins, gd)
    val live = emb.unionByName(ins).localCheckpoint()
    // hand-build the crash state: a refresh died AFTER landing shard data
    // but BEFORE the meta commit — poison rows that a resurrecting reader
    // would serve. The committed view must not see them, and the retry
    // must clear them (EpochStore.clearDirsAbove on entry).
    Seq((-99L, -98L)).toDF("src", "dst")
      .write.parquet(s"$pd/adj/e1")
    Seq(Tuple1(-99L)).toDF("src").write.parquet(s"$pd/srcs/e1")
    val before = GraphServing.readMeta(spark, pd)
    assert(before.epoch == 0, "uncommitted shard must be invisible")
    GraphServing.refresh(spark, gd, live, pd)
    val ids = served(pd).select("src").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(!ids(-99L), "poison row resurrected past the rollback")
    assert(ids(400000L), "retried refresh must serve the churn")
    // and the retried state ≡ a rebuild
    val pdB = tmp("gsrc_packB")
    GraphServing.build(spark, gd, live, pdB)
    assert(canon(served(pd)) == canon(served(pdB)))
  }

  test("bucket pruning survives the base+shard merge — a round reads only the frontier's buckets of every live epoch") {
    import spark.implicits._
    val gd = tmp("gsrp_graph")
    val pd = tmp("gsrp_pack")
    KnnGraphBuild.build(spark, emb, gd, k = kk)
    GraphServing.build(spark, gd, emb, pd)
    val ins = emb.orderBy("vec_id").limit(3)
      .withColumn("vec_id", col("vec_id") + 600000L).localCheckpoint()
    KnnGraphBuild.delta(spark, ins, gd)
    GraphServing.refresh(spark, gd, emb.unionByName(ins), pd)
    val m = GraphServing.readMeta(spark, pd)
    assert(m.epoch > m.base, "fixture must carry a live shard")
    val h = GraphServing.open(spark, pd)
    // one-bucket frontier: every live epoch dir contributes only that
    // bucket's files — the isin filter pushes through the union and the
    // broadcast claim join down to each scan
    val id = emb.orderBy("vec_id").limit(1).head.getLong(0)
    val b = GraphServing.bucketOfIdDriver(id, m.buckets)
    val pruned = h.prunedAdj(Seq((0L, id)))
    pruned.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => scans(r.child)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val adjScans = scans(pruned.queryExecution.executedPlan)
      .filter(_.metrics.contains("numFiles"))
      .filter(_.schema.fieldNames.contains("dst"))
    assert(adjScans.nonEmpty)
    val read = adjScans.map(_.metrics("numFiles").value).sum
    def filesIn(e: Int) = {
      val d = new java.io.File(s"$pd/adj/e$e/bucket=$b")
      if (d.isDirectory) d.list().count(_.endsWith(".parquet")) else 0
    }
    val expect = (m.base to m.epoch).map(filesIn).sum
    val total = (m.base to m.epoch).map { e =>
      val root = new java.io.File(s"$pd/adj/e$e")
      root.list().filter(_.startsWith("bucket=")).map(bd =>
        new java.io.File(root, bd).list().count(_.endsWith(".parquet"))).sum
    }.sum
    assert(read == expect && read < total,
      s"merged read must stay pruned: read $read, bucket files $expect, store files $total")
  }

  test("a FULL graph rebuild voids the pack lineage — refresh detects the epoch reset and rebuilds") {
    val gd = tmp("gsrl_graph")
    val pd = tmp("gsrl_pack")
    KnnGraphBuild.build(spark, emb, gd, k = kk)
    // advance the graph so the pack records graphEpoch > 0
    val ins = emb.orderBy("vec_id").limit(3)
      .withColumn("vec_id", col("vec_id") + 500000L).localCheckpoint()
    KnnGraphBuild.delta(spark, ins, gd)
    val live1 = emb.unionByName(ins)
    GraphServing.build(spark, gd, live1, pd)
    assert(GraphServing.readMeta(spark, pd).graphEpoch == 1)
    // the graph is REBUILT from scratch (epoch chain resets to 0) — the
    // pack's recorded lineage no longer names ancestors of the state;
    // refresh must fall back to a full build, not crash in changedSince
    KnnGraphBuild.build(spark, emb, gd, k = kk)
    assert(!GraphServing.isFresh(spark, gd, pd))
    GraphServing.refresh(spark, gd, emb, pd)
    val m = GraphServing.readMeta(spark, pd)
    assert(m.graphEpoch == 0 && m.base == m.epoch,
      s"lineage reset must rebuild a full base, got $m")
    val pdB = tmp("gsrl_packB")
    GraphServing.build(spark, gd, emb, pdB)
    assert(canon(served(pd)) == canon(served(pdB)))
  }

  test("an out-of-band graph rebuild whose epoch chain catches back up is detected by the LINEAGE TOKEN") {
    import spark.implicits._
    val gd = tmp("gsrt_graph")
    val pd = tmp("gsrt_pack")
    KnnGraphBuild.build(spark, emb, gd, k = kk)
    val ins = emb.orderBy("vec_id").limit(3)
      .withColumn("vec_id", col("vec_id") + 700000L).localCheckpoint()
    KnnGraphBuild.delta(spark, ins, gd) // graph e1
    val live1 = emb.unionByName(ins).localCheckpoint()
    GraphServing.build(spark, gd, live1, pd) // records graphEpoch 1 + token
    assert(GraphServing.isFresh(spark, gd, pd))
    // rebuild from scratch and RE-ADVANCE to the recorded epoch number —
    // the case epoch comparison alone cannot see (the r15 blind spot:
    // isFresh read true and refresh reconciled against a foreign
    // lineage's sigs/tombs). The fresh build token makes it loud.
    KnnGraphBuild.build(spark, emb, gd, k = kk) // e0 again, NEW token
    KnnGraphBuild.delta(spark, ins, gd) // back to e1
    assert(!GraphServing.isFresh(spark, gd, pd),
      "a rebuilt graph at the same epoch number must read stale")
    GraphServing.refresh(spark, gd, live1, pd)
    val m = GraphServing.readMeta(spark, pd)
    assert(m.base == m.epoch, s"lineage mismatch must rebuild a full base, got $m")
    assert(GraphServing.isFresh(spark, gd, pd))
    val pdB = tmp("gsrt_packB")
    GraphServing.build(spark, gd, live1, pdB)
    assert(canon(served(pd)) == canon(served(pdB)))
  }

  test("a churned SEED id trips the full-reassign fallback — still identical to a rebuild under the pinned quantizer") {
    import spark.implicits._
    val gd = tmp("gsrs_graph")
    val pdA = tmp("gsrs_packA")
    val pdB = tmp("gsrs_packB")
    KnnGraphBuild.build(spark, emb, gd, k = kk)
    GraphServing.build(spark, gd, emb, pdA)
    // delete a CURRENT ENTRY SEED: its cell's carried winner is gone, so
    // the per-cell dominance shortcut is void and refreshSeeds must fall
    // back to the full reassign (same pinned centroids, never a retrain)
    val seedId = GraphServing.readSeeds(spark, pdA)
      .orderBy("vec_id").head.getLong(0)
    KnnGraphBuild.deleteVecs(spark, Seq(seedId).toDF("vec_id"), gd)
    val live = emb.filter(col("vec_id") =!= seedId).localCheckpoint()
    GraphServing.refresh(spark, gd, live, pdA)
    // seeds ≡ the full reassign of the live corpus under the SAME cents,
    // and the dead seed is gone from the seed set
    val fullSeeds = GraphServing.seedRows(
      VectorQueries.nrmFrame(live.select("vec_id", "embedding")),
      GraphServing.readCents(spark, pdA))
    assert(canon(GraphServing.readSeeds(spark, pdA)) == canon(fullSeeds),
      "fallback seed reassign diverged from the direct recompute")
    assert(GraphServing.readSeeds(spark, pdA)
      .filter(col("vec_id") === seedId).isEmpty)
    // and the pack as a whole still ≡ a rebuild under the same geometry
    GraphServing.build(spark, gd, live, pdB,
      centroidsOverride = GraphServing.readCents(spark, pdA))
    assert(canon(served(pdA)) == canon(served(pdB)))
    val q = queries(live)
    assert(canon(GraphServing.open(spark, pdA).topK(q, kk)) ==
      canon(GraphServing.open(spark, pdB).topK(q, kk)))
  }

  test("churn past the cap delegates to a full build — a rebuild IS the change-proportional answer to corpus-scale churn") {
    import spark.implicits._
    val gd = tmp("gsrcap_graph")
    val pd = tmp("gsrcap_pack")
    KnnGraphBuild.build(spark, emb, gd, k = kk)
    GraphServing.build(spark, gd, emb, pd)
    val ins = emb.orderBy("vec_id").limit(5)
      .withColumn("vec_id", col("vec_id") + 910000L).localCheckpoint()
    KnnGraphBuild.delta(spark, ins, gd)
    val live = emb.unionByName(ins).localCheckpoint()
    // 5 churned ids against a cap of 2: the shard path's driver-side id
    // lists would not be churn-bounded, so refresh must FOLD instead
    GraphServing.refresh(spark, gd, live, pd, churnCap = 2)
    val m = GraphServing.readMeta(spark, pd)
    assert(m.base == m.epoch && m.epoch == 1,
      s"over-cap churn must land a full base, got $m")
    val pdB = tmp("gsrcap_packB")
    GraphServing.build(spark, gd, live, pdB)
    assert(canon(served(pd)) == canon(served(pdB)))
  }

  test("a churn with NO adjacency effect writes an empty claim shard and keeps serving (the isolated-churn path)") {
    import spark.implicits._
    val gd = tmp("gsre_graph")
    val pd = tmp("gsre_pack")
    KnnGraphBuild.build(spark, emb, gd, k = kk)
    GraphServing.build(spark, gd, emb, pd)
    val before = canon(served(pd))
    // a DELETE of a never-live id is the documented harmless no-op at the
    // graph (tombstone epoch, zero victims) — but it still advances the
    // epoch, so the pack must reconcile it: zero changed pairs, zero
    // affected srcs, an EMPTY adjacency shard + claim list (both must
    // land schema-bearing or the base+shard merge cannot read them)
    KnnGraphBuild.deleteVecs(spark, Seq(987654321L).toDF("vec_id"), gd)
    assert(!GraphServing.isFresh(spark, gd, pd))
    assert(GraphServing.refresh(spark, gd, emb, pd) == 1)
    assert(GraphServing.isFresh(spark, gd, pd))
    assert(canon(served(pd)) == before,
      "a no-effect churn must leave the served adjacency untouched")
    val q = queries(emb)
    assert(GraphServing.open(spark, pd).topK(q, kk).count() == 20L * kk)
  }

  test("the refresh's embedding read is PUSHED to the scan — the bounded id set reaches PushedFilters") {
    // the r15 refresh materialized the whole normalized corpus; the r16
    // contract is that embedding ARRAYS are read only for the bounded
    // affected-dst ∪ churned set, with the id predicate reaching the
    // parquet scan (row-group pruning on vec_id) — pin it at plan level
    val need = Array(1L, 2L, 3L)
    val bounded = GraphServing.boundedVecs(emb, need)
    assert(canon(bounded) ==
      canon(emb.filter(col("vec_id").isin(1L, 2L, 3L))))
    val scan = bounded.queryExecution.sparkPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan under boundedVecs"))
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("vec_id"),
      s"bounded id predicate must reach the scan, PushedFilters = $pushed")
  }

  test("foldEvery folds shards back into a full base; vacuum drops the superseded epochs") {
    import spark.implicits._
    val gd = tmp("gsrf_graph")
    val pd = tmp("gsrf_pack")
    KnnGraphBuild.build(spark, emb, gd, k = kk)
    GraphServing.build(spark, gd, emb, pd)
    // round 1: churn + refresh → shard (foldEvery = 2 leaves room for 1)
    val ins1 = emb.orderBy("vec_id").limit(3)
      .withColumn("vec_id", col("vec_id") + 200000L).localCheckpoint()
    KnnGraphBuild.delta(spark, ins1, gd)
    val live1 = emb.unionByName(ins1).localCheckpoint()
    GraphServing.refresh(spark, gd, live1, pd, foldEvery = 2)
    assert(GraphServing.describe(spark, pd).shards == 1)
    // round 2: the pack is at the fold bound — this refresh REBUILDS
    KnnGraphBuild.deleteVecs(spark, Seq(5L).toDF("vec_id"), gd)
    val live2 = live1.filter(col("vec_id") =!= 5L).localCheckpoint()
    GraphServing.refresh(spark, gd, live2, pd, foldEvery = 2)
    val st = GraphServing.describe(spark, pd)
    assert(st.epoch == 2 && st.base == 2 && st.shards == 0,
      s"fold must rewrite a full base, got $st")
    // folded state ≡ an independent rebuild
    val pdB = tmp("gsrf_packB")
    GraphServing.build(spark, gd, live2, pdB)
    assert(canon(served(pd)) == canon(served(pdB)))
    // vacuum drops the pre-fold epochs (adj e0 e1, srcs e1,
    // seeds/cents/meta e0 e1)
    assert(GraphServing.vacuum(spark, pd) == 9)
    val q = queries(live2)
    assert(canon(GraphServing.open(spark, pd).topK(q, kk)) ==
      canon(GraphServing.open(spark, pdB).topK(q, kk)))
  }
}
