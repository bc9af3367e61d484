package graft.pipeline

import graft.SparkSpec
import graft.queries.{GraphServing, KnnGraphBuild}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming QUERY side of graph-walk serving: micro-batches of
  * query vectors answer through one warm pack handle, results land
  * epoch-idempotent with a FOLD + VACUUM lifecycle bounding the
  * per-trigger dirs, a maintainer refresh is picked up at the next
  * batch boundary, filtered (tenant-scoped) queries route through the
  * walk's allowlist overload, and a real checkpoint replay rewrites its
  * own committed dir without duplicating served rows.
  */
class WalkServeSpec extends SparkSpec {

  private val kk = 5

  private def emb = graft.Tables.embeddings(spark, sf001)
    .select("vec_id", "embedding")

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def tmp(p: String) = {
    val d = java.nio.file.Files.createTempDirectory(p).toString
    sys.addShutdownHook(org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(d)))
    d
  }

  /** One built graph + pack shared by the suite's read-only streams. */
  private lazy val packDir: String = {
    val gd = tmp("wserve_graph")
    val pd = tmp("wserve_pack")
    KnnGraphBuild.build(spark, emb, gd, k = kk)
    GraphServing.build(spark, gd, emb, pd)
    pd
  }

  private def qRows(n: Int): Seq[(Long, Seq[Float])] =
    emb.filter(col("vec_id") < n)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq

  test("a query stream serves through one warm handle, epoch-tagged and idempotent; a pack refresh is picked up at the next batch; stop() releases the handle") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val gd = tmp("wserve_graph1")
    val pd = tmp("wserve_pack1")
    val outDir = tmp("wserve_out1")
    val ckpt = tmp("wserve_ckpt1")
    KnnGraphBuild.build(spark, emb, gd, k = kk)
    GraphServing.build(spark, gd, emb, pd)

    val src = MemoryStream[(Long, Seq[Float])]
    val queries = src.toDS().toDF("q_id", "q_emb")
    val reopens0 = Metrics.global.value("graft_walkserve_reopens_total")
    var rddsLive = -1
    val serving = WalkServe.start(queries, pd, outDir, ckpt, k = kk)
    try {
      // ---- batch 1: served rows ≡ a direct warm-handle call ----
      val qFrame = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      src.addData(qFrame.collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1))): _*)
      serving.query.processAllAvailable()
      val directH = GraphServing.open(spark, pd)
      val direct = directH.topK(qFrame, kk)
      assert(canon(WalkServe.results(spark, outDir).drop("batch")) ==
        canon(direct),
        "streamed batch diverged from the direct warm-handle answer")
      directH.close()

      // ---- the maintainer refreshes the pack underneath the stream:
      // a NEW direction (sign-flip half the dims ⇒ unique self-cos 1.0)
      // lands via graph delta + pack refresh; the NEXT batch must answer
      // with it at rank 1 — only possible if the loop reopened onto the
      // refreshed epoch ----
      val zId = 7700001L
      val zVec = emb.filter(col("vec_id") === 11L).head.getSeq[Float](1)
        .zipWithIndex.map { case (v, i) => if (i % 2 == 0) v else -v }
      val zRow = Seq((zId, zVec)).toDF("vec_id", "embedding")
        .selectExpr("vec_id", "cast(embedding as array<float>) as embedding")
        .localCheckpoint()
      KnnGraphBuild.delta(spark, zRow, gd)
      GraphServing.refresh(spark, gd, emb.unionByName(zRow), pd)
      assert(GraphServing.readMeta(spark, pd).epoch == 1)
      src.addData((-1L, zVec.toSeq))
      serving.query.processAllAvailable()
      val served = WalkServe.results(spark, outDir)
        .filter(col("q_id") === -1L).collect()
      assert(served.exists(r => r.getLong(2) == zId && r.getInt(1) == 1),
        s"post-refresh batch must answer with the fresh vector, got " +
          served.map(_.getLong(2)).mkString(","))
      assert(Metrics.global.value("graft_walkserve_reopens_total") ==
        reopens0 + 1, "exactly one handle reopen for one pack advance")

      // ---- output is one committed dir per stream epoch
      // (overwrite-idempotent: a replay rewrites its own dir) ----
      val dirs = new java.io.File(outDir).list().filter(_.startsWith("b"))
      assert(dirs.length == 2, s"one result dir per epoch, got ${dirs.toSeq}")
      rddsLive = spark.sparkContext.getPersistentRDDs.size
    } finally serving.stop()
    // stop() closed the warm handle — its pinned seed checkpoint
    // released eagerly. The close may land on the termination-listener
    // thread when that wins the hand-off race, so poll briefly — the
    // point is EAGER release (well under the cleaner's GC cadence), not
    // same-microsecond release
    val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
    while (spark.sparkContext.getPersistentRDDs.size >= rddsLive &&
      System.nanoTime < deadline) Thread.sleep(100)
    assert(spark.sparkContext.getPersistentRDDs.size < rddsLive,
      "stop() must release the handle's pinned blocks")
  }

  test("FILTERED queries serve through the stream: parity with the direct filtered call, every row in the allowlist, sparse-recall floor held") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val outDir = tmp("wserve_out2")
    val ckpt = tmp("wserve_ckpt2")
    // f ≈ 1/15 — the sparse operating point where the handle's
    // auto-widen earns the floor (GraphFilteredWalkSpec's measurement);
    // through the STREAM it must behave identically, with the
    // selectivity measured once per handle (memoized), not per trigger
    val allowed = emb.filter(col("vec_id") % 15 === 1)
      .select("vec_id").localCheckpoint()
    val qFrame = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .localCheckpoint()

    val src = MemoryStream[(Long, Seq[Float])]
    val serving = WalkServe.start(src.toDS().toDF("q_id", "q_emb"),
      packDir, outDir, ckpt, k = kk, allowedIds = allowed)
    try {
      src.addData(qRows(20): _*)
      serving.query.processAllAvailable()
    } finally serving.stop()
    val streamed = WalkServe.results(spark, outDir).drop("batch")
    val rows = streamed.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(2) % 15 == 1),
      "a streamed result escaped the allowlist")
    assert(rows.groupBy(_.getLong(0)).forall(_._2.length == kk),
      "sparse allowlist under-filled k through the stream")
    val directH = GraphServing.open(spark, packDir)
    assert(canon(streamed) == canon(directH.topK(qFrame, kk, allowed)),
      "streamed filtered answers diverged from the direct filtered call")
    directH.close()
    // the ≥ 0.8 floor vs the filtered brute oracle, through the stream
    val e = emb.filter(col("vec_id") % 15 === 1).withColumn("nrm",
      graft.functions.VectorFunctions.l2Norm(col("embedding")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    val truth = broadcast(qFrame.withColumn("q_n",
        graft.functions.VectorFunctions.l2Norm(col("q_emb"))))
      .join(e, col("q_id") =!= col("vec_id"))
      .withColumn("cos_r",
        round(graft.functions.VectorFunctions.cosineWithNorms(
          col("q_emb"), col("embedding"), col("q_n"), col("nrm")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= kk)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val gotBy = rows.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    val per = truth.map { case (q, t) =>
      gotBy.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
    val rec = per.sum / per.size
    info(f"streamed sparse filtered recall@$kk = $rec%.3f")
    assert(rec >= 0.8, f"streamed filtered recall $rec%.3f < 0.8")
  }

  test("MULTI-TENANT serving: each tenant answers within ITS OWN allowlist (parity with direct filtered calls), unknown tenants fail CLOSED") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val outDir = tmp("wserve_out6")
    val ckpt = tmp("wserve_ckpt6")
    // tenant a: a dense allowlist; tenant b: the sparse f ≈ 1/15 one
    // (its queries must ride the auto-widened walk THROUGH the stream)
    val allowA = emb.filter(col("vec_id") % 3 === 0)
      .select("vec_id").localCheckpoint()
    val allowB = emb.filter(col("vec_id") % 15 === 1)
      .select("vec_id").localCheckpoint()
    val vecs = emb.filter(col("vec_id") < 10).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val unknown0 = Metrics.global
      .value("graft_walkserve_unknown_tenant_total")
    val src = MemoryStream[(Long, Seq[Float], String)]
    val serving = WalkServe.startTenants(
      src.toDS().toDF("q_id", "q_emb", "tenant"), packDir, outDir, ckpt,
      allowlists = Map("a" -> allowA, "b" -> allowB), k = kk)
    try {
      // one SINGLE-TENANT batch per tenant (same vectors, disjoint
      // q_ids): a mixed-selectivity batch widens BOTH tenants to the
      // sparsest one's factor — by design, recall only improves — so
      // exact parity with each tenant's solo direct call (which widens
      // to its OWN factor) needs per-tenant batches; the mixed-batch
      // regime is the 8-tenant test's subject. The unknown-tenant rows
      // ride batch 1 and must VANISH
      src.addData(
        vecs.map { case (id, v) => (id, v, "a") } ++
          vecs.take(2).map { case (id, v) => (id + 2000L, v, "z") }: _*)
      serving.query.processAllAvailable()
      src.addData(vecs.map { case (id, v) => (id + 1000L, v, "b") }: _*)
      serving.query.processAllAvailable()
    } finally serving.stop()
    val rows = WalkServe.results(spark, outDir).collect()
    val byTenant = rows.groupBy(_.getString(4))
    assert(byTenant.keySet == Set("a", "b"),
      s"unknown tenant leaked into results: ${byTenant.keySet}")
    assert(byTenant("a").forall(_.getLong(2) % 3 == 0),
      "a result escaped tenant a's allowlist")
    assert(byTenant("b").forall(_.getLong(2) % 15 == 1),
      "a result escaped tenant b's allowlist")
    assert(byTenant("b").groupBy(_.getLong(0)).forall(_._2.length == kk),
      "the sparse tenant under-filled k — the auto-widen must ride the stream")
    assert(Metrics.global.value("graft_walkserve_unknown_tenant_total") ==
      unknown0 + 2, "dropped unknown-tenant rows must be surfaced")
    // parity per tenant with the DIRECT filtered call under the same
    // allowlist frames (the widen memo keys on frame identity)
    val directH = GraphServing.open(spark, packDir)
    val qA = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    assert(canon(WalkServe.results(spark, outDir)
        .filter(col("tenant") === "a")
        .drop("tenant", "batch")) ==
      canon(directH.topK(qA, kk, allowA)),
      "tenant a diverged from the direct filtered call")
    val qB = qA.withColumn("q_id", col("q_id") + 1000L)
    assert(canon(WalkServe.results(spark, outDir)
        .filter(col("tenant") === "b")
        .drop("tenant", "batch")) ==
      canon(directH.topK(qB, kk, allowB)),
      "tenant b diverged from the direct filtered call")
    directH.close()
  }

  /** Jobs the body runs — listener-counted with an async-bus settle
    * (the GraphFilteredWalkSpec idiom).
    */
  private def jobsRun(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var last = n.get(); var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val c = n.get()
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
      last
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a mixed batch of 8 tenants answers in ONE walk: per-tenant parity with direct filtered calls, job count does not scale with the tenant count") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val outDir = tmp("wserve_out7")
    val ckpt = tmp("wserve_ckpt7")
    val nT = 8
    // uniformly DENSE allowlists (f ≈ 1/4 ⇒ widen 1 for every tenant —
    // robustly, since ceil(1/(8f)) = 1 for any f > 1/8): the batched
    // walk's beam then equals each direct call's, so parity is EXACT.
    // A mixed-SELECTIVITY batch instead widens everyone to the sparsest
    // tenant's factor (recall can only improve; the 2-tenant test
    // covers that regime per-batch) — 8 distinct frames, 4 distinct
    // contents, which also exercises the per-frame widen memo
    val allows = (0 until nT).map(i =>
      i -> emb.filter(col("vec_id") % 4 === i % 4)
        .select("vec_id").localCheckpoint()).toMap
    val vecs = emb.filter(col("vec_id") < 5).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val collisions0 = Metrics.global
      .value("graft_walkserve_qid_collision_batches_total")
    val src = MemoryStream[(Long, Seq[Float], String)]
    val serving = WalkServe.startTenants(
      src.toDS().toDF("q_id", "q_emb", "tenant"), packDir, outDir, ckpt,
      allowlists = allows.map { case (i, a) => s"t$i" -> a }, k = kk)
    try {
      // ONE micro-batch mixing all 8 tenants (5 queries each) plus one
      // unknown-tenant row that must vanish
      src.addData(
        (0 until nT).flatMap(i => vecs.map { case (id, v) =>
          (i * 1000L + id, v, s"t$i") }) ++
          Seq((99000L, vecs.head._2, "zz")): _*)
      serving.query.processAllAvailable()
    } finally serving.stop()
    val rows = WalkServe.results(spark, outDir)
    assert(rows.filter(col("tenant") === "zz").count() == 0,
      "unknown tenant leaked through the batched walk")
    assert(Metrics.global
      .value("graft_walkserve_qid_collision_batches_total") == collisions0,
      "disjoint q_ids must ride the single-walk path, not the fallback")
    val directH = GraphServing.open(spark, packDir)
    (0 until nT).foreach { i =>
      val qi = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + i * 1000L).as("q_id"),
          col("embedding").as("q_emb"))
      assert(canon(rows.filter(col("tenant") === s"t$i")
          .drop("tenant", "batch")) ==
        canon(directH.topK(qi, kk, allows(i))),
        s"tenant t$i diverged from its direct filtered call")
    }
    // the JOB COUNT must not scale with tenants: same 16 queries split
    // across 2 vs 8 tenants runs the same walk jobs (widens pre-memoized
    // by the warm calls; the serial form paid ~4x here)
    val q16 = emb.filter(col("vec_id") < 16).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    def qFrameFor(groups: Int): org.apache.spark.sql.DataFrame =
      q16.zipWithIndex.toSeq.map { case ((id, v), j) =>
        (id + 100000L, v, s"t${j % groups}") }
        .toDF("q_id", "q_emb", "tenant")
    val m8 = allows.map { case (i, a) => s"t$i" -> a }
    val m2 = m8.view.filterKeys(Set("t0", "t1")).toMap
    directH.topKTenants(qFrameFor(2), kk, m2).collect() // warm + memoize
    directH.topKTenants(qFrameFor(8), kk, m8).collect()
    val j2 = jobsRun(directH.topKTenants(qFrameFor(2), kk, m2).collect())
    val j8 = jobsRun(directH.topKTenants(qFrameFor(8), kk, m8).collect())
    info(s"walk jobs: 2 tenants = $j2, 8 tenants = $j8")
    assert(j8 <= j2 + 2,
      s"job count scaled with tenant count ($j2 -> $j8) — the batch must walk once")
    directH.close()
  }

  test("tenant-mode results() is a TYPED empty frame before the first commit: tenant selectable, unionByName-compatible") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val outDir = tmp("wserve_out8")
    val ckpt = tmp("wserve_ckpt8")
    val allowA = emb.filter(col("vec_id") % 3 === 0)
      .select("vec_id").localCheckpoint()
    val src = MemoryStream[(Long, Seq[Float], String)]
    val serving = WalkServe.startTenants(
      src.toDS().toDF("q_id", "q_emb", "tenant"), packDir, outDir, ckpt,
      allowlists = Map("a" -> allowA), k = kk)
    try {
      val res = WalkServe.results(spark, outDir)
      assert(res.schema.fieldNames.toSeq ==
        Seq("q_id", "rnk", "vec_id", "cos", "tenant", "batch"),
        s"tenant-mode empty schema wrong: ${res.schema.fieldNames.toSeq}")
      assert(res.schema("cos").dataType ==
        org.apache.spark.sql.types.DoubleType)
      // the pre-first-commit consumer's two moves, both of which the
      // untyped fallback broke: filter on tenant, and union with a
      // later real-results frame
      assert(res.filter(col("tenant") === "a").count() == 0)
      val real = Seq((1L, 1, 2L, 0.5, "a", 0L))
        .toDF("q_id", "rnk", "vec_id", "cos", "tenant", "batch")
      assert(res.unionByName(real).count() == 1)
    } finally serving.stop()
  }

  test("retain() bounds the folded store's ROWS: below-watermark answers dropped, results identical above, a retained epoch's replay stays invisible") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val outDir = tmp("wserve_out9")
    val ckpt = tmp("wserve_ckpt9")
    val src = MemoryStream[(Long, Seq[Float])]
    val serving = WalkServe.start(src.toDS().toDF("q_id", "q_emb"),
      packDir, outDir, ckpt, k = kk)
    try {
      qRows(3).foreach { q =>
        src.addData(q); serving.query.processAllAvailable()
      }
    } finally serving.stop()
    val before = WalkServe.results(spark, outDir).collect()
      .map(_.toSeq.mkString("|")).sorted.toSeq
    assert(before.size == 3 * kk)
    // drop everything served before batch 2 (epochs 0 and 1)
    val dropped = WalkServe.retain(spark, outDir, belowBatch = 2L)
    assert(dropped == 2L * kk, s"expected ${2 * kk} dropped, got $dropped")
    val after = WalkServe.results(spark, outDir)
    assert(after.count() == kk)
    assert(canon(after) == before.filter(_.split("\\|").last == "2"),
      "retention must keep above-watermark rows byte-identical")
    // the fold WATERMARK survived retention: a replay of retained epoch 0
    // re-mints its dir but stays invisible
    Seq((0L, 1, 999999L, 0.5, 0L))
      .toDF("q_id", "rnk", "vec_id", "cos", "batch")
      .write.mode("overwrite").parquet(s"$outDir/b0")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$outDir/b0",
      "_graft_committed"), true).close()
    assert(canon(WalkServe.results(spark, outDir)) == canon(after),
      "a retained epoch's replay re-entered results()")
    // idempotent: nothing left below the watermark (and the replay dir
    // is swept by retain's vacuum)
    assert(WalkServe.retain(spark, outDir, belowBatch = 2L) == 0L)
    assert(new java.io.File(outDir).list().count(_.startsWith("b")) == 0)
    assert(canon(WalkServe.results(spark, outDir)) == canon(after))
  }

  test("DYNAMIC provisioning: a tenant added mid-stream serves from the next boundary, a revoked one fails closed; pre-pickup rows are dropped and counted") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val outDir = tmp("wserve_outA")
    val ckpt = tmp("wserve_ckptA")
    val tdir = tmp("wserve_tenants")
    val allowA = emb.filter(col("vec_id") % 3 === 0).select("vec_id")
    val allowB = emb.filter(col("vec_id") % 3 === 1).select("vec_id")
    TenantRegistry.provision(spark, tdir, "a", allowA)
    val vec = emb.filter(col("vec_id") === 3L).head.getSeq[Float](1).toSeq
    val unknown0 = Metrics.global
      .value("graft_walkserve_unknown_tenant_total")
    val reloads0 = Metrics.global
      .value("graft_walkserve_tenant_reloads_total")
    val src = MemoryStream[(Long, Seq[Float], String)]
    val serving = WalkServe.startTenantsDynamic(
      src.toDS().toDF("q_id", "q_emb", "tenant"), packDir, outDir, ckpt,
      tenantsDir = tdir, k = kk)
    try {
      // batch 1: a answers, b is not provisioned yet — fail closed
      src.addData((1L, vec, "a"), (2L, vec, "b"))
      serving.query.processAllAvailable()
      // provision b, then batch 2: BOTH answer, each in its own list
      TenantRegistry.provision(spark, tdir, "b", allowB)
      src.addData((3L, vec, "a"), (4L, vec, "b"))
      serving.query.processAllAvailable()
      // revoke a, then batch 3: a fails closed at the boundary, b serves
      TenantRegistry.revoke(spark, tdir, "a")
      src.addData((5L, vec, "a"), (6L, vec, "b"))
      serving.query.processAllAvailable()
    } finally serving.stop()
    val rows = WalkServe.results(spark, outDir).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(1L, 3L, 4L, 6L),
      s"served q_ids must be exactly the provisioned-at-the-time ones, got ${byQ.keySet}")
    assert(byQ(1L).forall(_.getLong(2) % 3 == 0))
    assert(byQ(3L).forall(_.getLong(2) % 3 == 0))
    assert(byQ(4L).forall(_.getLong(2) % 3 == 1))
    assert(byQ(6L).forall(_.getLong(2) % 3 == 1))
    assert(Metrics.global.value("graft_walkserve_unknown_tenant_total") ==
      unknown0 + 2, "pre-pickup and post-revoke rows must be dropped AND counted")
    // one reload per observed registry epoch (initial + provision + revoke)
    assert(Metrics.global.value("graft_walkserve_tenant_reloads_total") ==
      reloads0 + 3)
    // registry lifecycle: three committed snapshots, vacuum keeps the head
    assert(TenantRegistry.epochOf(spark, tdir) == 2)
    assert(TenantRegistry.vacuum(spark, tdir) == 2)
    assert(TenantRegistry.read(spark, tdir).select("tenant").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("a reused outDir under a RESET checkpoint fails fast: the stream-identity stamp distinguishes replay from reset") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val outDir = tmp("wserve_outB")
    val src1 = MemoryStream[(Long, Seq[Float])]
    val s1 = WalkServe.start(src1.toDS().toDF("q_id", "q_emb"),
      packDir, outDir, tmp("wserve_ckptB1"), k = kk)
    try {
      qRows(2).foreach { q =>
        src1.addData(q); s1.query.processAllAvailable()
      }
    } finally s1.stop()
    // a maintainer folds — the watermark now sits at epoch 1
    WalkServe.fold(spark, outDir)
    WalkServe.vacuum(spark, outDir)
    val before = canon(WalkServe.results(spark, outDir))
    // the ops misstep: same outDir, FRESH checkpoint — epochs restart at
    // 0 below the watermark; without the identity stamp batch 0 would be
    // served, invisible to results(), and then vacuumed (silent loss)
    val src2 = MemoryStream[(Long, Seq[Float])]
    val s2 = WalkServe.start(src2.toDS().toDF("q_id", "q_emb"),
      packDir, outDir, tmp("wserve_ckptB2"), k = kk)
    try {
      src2.addData(qRows(1).head)
      val thrown = try { s2.query.processAllAvailable(); false }
        catch { case _: Throwable => true }
      assert(thrown || s2.query.exception.isDefined,
        "a reset stream over a folded outDir must fail fast")
      val msg = s2.query.exception.map(_.getMessage + "").getOrElse("")
      assert(msg.contains("different stream"),
        s"failure must name the identity mismatch, got: $msg")
    } finally s2.stop()
    assert(canon(WalkServe.results(spark, outDir)) == before,
      "the refused stream must not have committed anything")
  }

  test("fold + vacuum give the result dirs a lifecycle: row-identical across the fold, superseded dirs dropped, a below-watermark replay cannot re-enter results()") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val outDir = tmp("wserve_out3")
    val ckpt = tmp("wserve_ckpt3")
    val src = MemoryStream[(Long, Seq[Float])]
    val serving = WalkServe.start(src.toDS().toDF("q_id", "q_emb"),
      packDir, outDir, ckpt, k = kk)
    try {
      // three separate stream epochs
      qRows(3).foreach { q =>
        src.addData(q); serving.query.processAllAvailable()
      }
    } finally serving.stop()
    val before = canon(WalkServe.results(spark, outDir))
    assert(before.nonEmpty)
    assert(new java.io.File(outDir).list().count(_.startsWith("b")) == 3)

    // FOLD consolidates the three dirs into one committed store —
    // results row-identical; VACUUM drops the superseded batch dirs
    val fe = WalkServe.fold(spark, outDir)
    assert(fe == 0, s"first fold epoch must be 0, got $fe")
    assert(canon(WalkServe.results(spark, outDir)) == before,
      "results diverged across the fold")
    assert(WalkServe.vacuum(spark, outDir) >= 3)
    assert(new java.io.File(outDir).list().count(_.startsWith("b")) == 0,
      "vacuum must drop batch dirs at or below the fold watermark")
    assert(canon(WalkServe.results(spark, outDir)) == before,
      "results diverged after the vacuum")

    // a REPLAYED epoch below the watermark (crash recovery re-running a
    // folded batch) re-mints its dir — results() must NOT double-serve
    // it: its rows already live in the fold
    import spark.implicits._
    Seq((0L, 1, 999999L, 0.5, 1L))
      .toDF("q_id", "rnk", "vec_id", "cos", "batch")
      .write.mode("overwrite").parquet(s"$outDir/b1")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$outDir/b1",
      "_graft_committed"), true).close()
    assert(canon(WalkServe.results(spark, outDir)) == before,
      "a below-watermark replay dir re-entered results()")
    // an idle fold is a no-op; the next vacuum clears the replay dir
    assert(WalkServe.fold(spark, outDir) == 0)
    assert(WalkServe.vacuum(spark, outDir) >= 1)
    assert(new java.io.File(outDir).list().count(_.startsWith("b")) == 0)
    assert(canon(WalkServe.results(spark, outDir)) == before)
  }

  test("an in-loop fold cadence bounds the live dirs across many batches; describe() reports the lifecycle") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val outDir = tmp("wserve_out4")
    val ckpt = tmp("wserve_ckpt4")
    val src = MemoryStream[(Long, Seq[Float])]
    val folds0 = Metrics.global.value("graft_walkserve_folds_total")
    val serving = WalkServe.start(src.toDS().toDF("q_id", "q_emb"),
      packDir, outDir, ckpt, k = kk, foldEvery = 2)
    try {
      qRows(6).foreach { q =>
        src.addData(q); serving.query.processAllAvailable()
      }
    } finally serving.stop()
    val st = WalkServe.describe(spark, outDir)
    info(s"after 6 batches at foldEvery=2: $st")
    assert(st.foldEpoch >= 1, "the in-loop cadence must have folded")
    assert(st.liveBatchDirs < 2,
      s"live batch dirs must stay under the cadence, got ${st.liveBatchDirs}")
    assert(new java.io.File(outDir).list().count(_.startsWith("b")) < 2,
      "vacuum must run with the in-loop fold")
    assert(Metrics.global.value("graft_walkserve_folds_total") > folds0)
    // every served row still present exactly once: 6 queries × k
    val res = WalkServe.results(spark, outDir)
    assert(res.count() == 6L * kk, s"expected ${6 * kk} rows")
    assert(res.select("q_id", "vec_id").distinct().count() == 6L * kk,
      "a fold or replay duplicated served rows")
  }

  test("graft_walkserve_answer_ms_total sums each batch's answer-and-commit time; describe() and /metrics expose it") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val outDir = tmp("wserve_out_ms")
    val ckpt = tmp("wserve_ckpt_ms")
    val src = MemoryStream[(Long, Seq[Float])]
    def batches = Metrics.global.value("graft_walkserve_batches_total")
    def answerMs = Metrics.global.value("graft_walkserve_answer_ms_total")
    val (b0, ms0) = (batches, answerMs)
    val serving = WalkServe.start(src.toDS().toDF("q_id", "q_emb"),
      packDir, outDir, ckpt, k = kk)
    val t0 = System.nanoTime()
    try {
      qRows(3).foreach { q =>
        src.addData(q); serving.query.processAllAvailable()
      }
    } finally serving.stop()
    val wallMs = (System.nanoTime() - t0) / 1000000L
    val spent = answerMs - ms0
    info(s"3 batches: answer-and-commit $spent ms of $wallMs ms wall")
    assert(batches - b0 == 3)
    // every batch walks and writes a parquet dir, so each adds at least
    // 1 ms; the sum is part of the loop's own wall time
    assert(spent >= 3 && spent <= wallMs, s"$spent ms of $wallMs ms")
    assert(WalkServe.describe(spark, outDir).answerMs == answerMs)
    assert(Metrics.global.exposition.linesIterator
      .contains(s"graft_walkserve_answer_ms_total $answerMs"))
  }

  test("a REAL checkpoint replay (commit log truncated) re-executes the committed batch and rewrites its dir with no duplicates in results()") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // a FILE source, not MemoryStream: the source must be able to
    // re-serve a batch the sink already committed (MemoryStream purges
    // on source-commit; a file source's per-batch file list persists in
    // the checkpoint's source log — the real recovery contract)
    val srcDir = tmp("wserve_src5")
    val outDir = tmp("wserve_out5")
    val ckpt = tmp("wserve_ckpt5")
    val qFrame = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    qFrame.coalesce(1).write.mode("overwrite").parquet(srcDir)
    def queries = spark.readStream.schema(qFrame.schema).parquet(srcDir)
    val s1 = WalkServe.start(queries, packDir, outDir, ckpt, k = kk)
    try {
      s1.query.processAllAvailable()
    } finally s1.stop()
    val before = canon(WalkServe.results(spark, outDir))
    assert(before.nonEmpty)
    assert(new java.io.File(outDir).list().count(_.startsWith("b")) == 1)

    // crash window: the output committed (dir + marker) but the stream's
    // commit log didn't — recovery MUST re-execute epoch 0 through
    // foreachBatch. Drop the output dir too: the replay has to actually
    // re-serve the batch, not coast on the leftover
    val commit0 = new java.io.File(s"$ckpt/commits/0")
    assert(commit0.exists, "fixture: expected commit log entry for epoch 0")
    assert(commit0.delete())
    // the local checksum FS keeps a .crc sibling — a leftover one makes
    // the recovery's commit rename throw FileAlreadyExists
    new java.io.File(s"$ckpt/commits/.0.crc").delete()
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$outDir/b0"))
    assert(canon(WalkServe.results(spark, outDir)).isEmpty)
    val s2 = WalkServe.start(queries, packDir, outDir, ckpt, k = kk)
    try {
      s2.query.processAllAvailable()
    } finally s2.stop()
    assert(canon(WalkServe.results(spark, outDir)) == before,
      "the replayed batch must re-serve its epoch dir, byte-identically")
    assert(new java.io.File(outDir).list().count(_.startsWith("b")) == 1,
      "the replay must rewrite its own dir, not mint a new one")
  }
}
