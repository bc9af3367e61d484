package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The index-regime serving pack: row-identical to the frame-based walk
  * under the same pinned state, per-round reads pruned to the frontier's
  * buckets (numFiles-asserted, the InvertedIndexSpec pattern), staleness
  * detection against the live graph, vacuum, describe.
  */
class GraphServingSpec extends SparkSpec {

  private val kk = 5

  private def emb = graft.Tables.embeddings(spark, sf001)
    .select("vec_id", "embedding")

  private def queries = graft.Tables.embeddings(spark, sf001)
    .filter(col("vec_id") < 20)
    .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def tmp(p: String) = {
    val d = java.nio.file.Files.createTempDirectory(p).toString
    sys.addShutdownHook(org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(d)))
    d
  }

  private def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scans(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(s.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      scans(r.child)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }

  // one graph + pack fixture per suite
  private lazy val fixture: (String, String) = {
    val gd = tmp("gserve_graph")
    val sd = tmp("gserve_pack")
    KnnGraphBuild.build(spark, emb, gd, k = kk)
    GraphServing.build(spark, gd, emb, sd)
    (gd, sd)
  }

  test("the pack's walk is row-identical to the frame-based walk under the same seeds and params") {
    val (gd, sd) = fixture
    val h = GraphServing.open(spark, sd)
    // same n ⇒ beamTopK's adaptive defaults resolve to the pack's pinned
    // (beam, iters); same persisted seeds ⇒ the two forms must agree
    // row for row — the plumbing differs (pruned bucket reads vs pinned
    // frames), the walk is the shared GraphSearch.walk core
    val got = h.topK(queries, kk)
    val want = GraphSearch.beamTopK(spark,
      KnnGraphBuild.readGraph(spark, gd), emb, queries, kk,
      seeds = GraphServing.readSeeds(spark, sd))
    val gotRows = got.collect()
    assert(canon(got) == canon(want),
      "index-regime and frame-based walks diverged")
    // and the result is a real answer: k rows per query
    assert(gotRows.groupBy(_.getLong(0)).forall(_._2.length == kk))
    // determinism across calls on the same handle
    assert(canon(h.topK(queries, kk)) ==
      gotRows.map(_.toSeq.mkString("|")).sorted.toSeq)
    // and the RAM tier (pin = true) serves the identical rows — the two
    // tiers differ only in where the adjacency bytes live
    assert(canon(GraphServing.open(spark, sd, pin = true).topK(queries, kk)) ==
      gotRows.map(_.toSeq.mkString("|")).sorted.toSeq)
  }

  test("each round reads ONLY the frontier's buckets — planning-time pruning, numFiles-asserted") {
    val (_, sd) = fixture
    val h = GraphServing.open(spark, sd)
    // every bucket dir of the pack holds exactly one file (16-way
    // repartition by the bucket column); count them for the ceiling
    val m = GraphServing.readMeta(spark, sd)
    val adjRoot = new java.io.File(s"$sd/adj/e${m.epoch}")
    val allBuckets = adjRoot.list().count(_.startsWith("bucket="))
    assert(allBuckets == GraphServing.Buckets)
    // the driver-side bucket function must agree with the column
    // expression the WRITE used, for every fixture id — the coupling the
    // collected-frontier fast path rides on
    val idBuckets = emb.select(col("vec_id"),
        GraphServing.bucketOfId(col("vec_id"), m.buckets).as("b")).collect()
    idBuckets.foreach(r => assert(
      GraphServing.bucketOfIdDriver(r.getLong(0), m.buckets) == r.getInt(1),
      s"driver/column bucket mismatch for id ${r.getLong(0)}"))
    // pick frontier ids that all hash into ONE bucket
    val byBucket = idBuckets.groupBy(_.getInt(1))
    val (b, ids) = byBucket.toSeq.minBy(_._1)
    val frontier = ids.take(2).map(r => (0L, r.getLong(0))).toSeq
    val pruned = h.prunedAdj(frontier)
    pruned.collect()
    val scan = scans(pruned.queryExecution.executedPlan)
      .find(_.metrics.contains("numFiles"))
      .getOrElse(fail("no FileSourceScanExec over the adjacency"))
    val filesInBucket = new java.io.File(adjRoot, s"bucket=$b")
      .list().count(_.endsWith(".parquet"))
    assert(scan.metrics("numFiles").value == filesInBucket,
      s"numFiles=${scan.metrics("numFiles").value}, bucket has $filesInBucket of a $allBuckets-bucket store")
    // and the candidates arrive with their collocated vectors — the
    // DiskANN one-read-per-hop contract: no second scan exists to prune
    assert(pruned.columns.toSet ==
      Set("q_id", "vec_id", "embedding", "nrm"))
    assert(scans(pruned.queryExecution.executedPlan).length == 1,
      "a round must be ONE pruned file scan")
  }

  test("the fan-out is PACK state, not the code's constant — a non-default pack serves and prunes by its own meta") {
    // the pinned-quantizer discipline applied to the layout parameter: a
    // pack built under fan-out 5 must keep pruning correctly even though
    // the compile-time default is 16 — a changed default must never
    // mis-prune a pre-existing pack (silently dropped candidates)
    val gd = tmp("gserve_graph5")
    val sd = tmp("gserve_pack5")
    KnnGraphBuild.build(spark, emb, gd, k = kk)
    GraphServing.build(spark, gd, emb, sd, buckets = 5)
    val m = GraphServing.readMeta(spark, sd)
    assert(m.buckets == 5 && GraphServing.Buckets == 16)
    assert(new java.io.File(s"$sd/adj/e${m.epoch}")
      .list().count(_.startsWith("bucket=")) == 5)
    // row-identical to the frame-based walk — the fan-out changes the
    // layout, never the answer
    val h = GraphServing.open(spark, sd)
    val want = GraphSearch.beamTopK(spark,
      KnnGraphBuild.readGraph(spark, gd), emb, queries, kk,
      seeds = GraphServing.readSeeds(spark, sd))
    assert(canon(h.topK(queries, kk)) == canon(want),
      "non-default fan-out pack diverged from the frame-based walk")
    assert(GraphServing.describe(spark, sd).buckets == 5)
    // and a FOLD (refresh at the shard bound delegates to build) keeps
    // the pack's own fan-out, not the compile-time default — the last
    // path a default change could creep in through
    val delta = emb.orderBy("vec_id").limit(2)
      .withColumn("vec_id", col("vec_id") + 70000L).localCheckpoint()
    KnnGraphBuild.delta(spark, delta, gd)
    GraphServing.refresh(spark, gd, emb.unionByName(delta), sd, foldEvery = 1)
    val st = GraphServing.describe(spark, sd)
    assert(st.buckets == 5 && st.base == st.epoch,
      s"fold must preserve the pack fan-out: $st")
  }

  test("staleness is detectable, refresh advances the pack epoch, vacuum drops the old one") {
    val gd = tmp("gserve_graph2")
    val sd = tmp("gserve_pack2")
    KnnGraphBuild.build(spark, emb, gd, k = kk)
    GraphServing.build(spark, gd, emb, sd)
    assert(GraphServing.isFresh(spark, gd, sd))
    val st0 = GraphServing.describe(spark, sd)
    assert(st0.epoch == 0 && st0.n == emb.count() &&
      st0.seeds > 0 && st0.adjFiles <= GraphServing.Buckets)
    // the graph absorbs a delta — the pack is now stale
    val delta = emb.orderBy("vec_id").limit(5)
      .withColumn("vec_id", col("vec_id") + 10000L).localCheckpoint()
    KnnGraphBuild.delta(spark, delta, gd)
    assert(!GraphServing.isFresh(spark, gd, sd))
    // refresh: new pack epoch over the grown corpus
    GraphServing.build(spark, gd, emb.unionByName(delta), sd)
    assert(GraphServing.isFresh(spark, gd, sd))
    val st1 = GraphServing.describe(spark, sd)
    assert(st1.epoch == 1 && st1.n == emb.count() + 5)
    // the refreshed pack serves the new ids
    val h = GraphServing.open(spark, sd)
    val q = delta.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    assert(h.topK(q, kk).count() == 5L * kk)
    assert(GraphServing.vacuum(spark, sd) == 4) // adj/seeds/cents/meta e0
  }
}
