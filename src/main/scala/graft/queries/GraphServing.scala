package graft.queries

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INDEX-REGIME graph-walk serving — the persisted "serving pack" that
  * turns [[GraphSearch]]'s beam walk from a scan-regime operator (the
  * frame-based form re-derives the undirected closure, corpus norms and
  * walk parameters per CALL, and every round joins the frontier into
  * corpus-sized frames — measured near-linear, exponent 0.86 at ×5) into
  * the shape the engine's other serving paths already have
  * ([[InvertedIndex.bm25TopK]]'s pruned posting buckets, exponent −0.2;
  * [[IndexedLayout.prunedTopK]]'s pruned cells):
  *
  *   - the UNDIRECTED adjacency is persisted ONCE per graph epoch,
  *     Hive-partitioned by `hash(src) % buckets` and sorted by `src`
  *     inside each bucket file, WITH THE DESTINATION VECTOR COLLOCATED
  *     ON THE EDGE ROW — the DiskANN layout (Subramanya et al., NeurIPS
  *     2019: vectors live beside the adjacency list precisely so one hop
  *     costs one read). A beam round is then ONE pruned scan: it reads
  *     only the frontier's buckets (planning-time partition pruning, the
  *     bounded driver bucket-list collect of the bm25TopK idiom) and the
  *     candidates arrive already carrying everything scoring needs — no
  *     second lookup, no corpus `nrmFrame`;
  *   - entry seeds ([[GraphSearch.centroidSeeds]] — one per quantizer
  *     centroid, reusing the graph's own pinned IVF quantizer when it
  *     has one) are persisted WITH their vectors, and the measured
  *     adaptive (beam, iters) operating point is pinned at build — a
  *     serving call does no corpus count and no kmeans. [[open]] returns
  *     a warm [[Handle]] that answers repeated query batches, the shape
  *     a real deployment runs.
  *
  * Per-query cost at 100 TB: scorings stay beam × degree × iters
  * (polylogarithmic — [[GraphSearch.adaptiveWalkParams]]); per-round I/O
  * is the frontier's buckets of the pack — frontier-proportional, never
  * corpus-proportional (the fan-out is pinned PER PACK in [[ServeMeta]];
  * [[Buckets]] = 16 is only the build-time default for the fixture
  * scale — a production pack sizes it O(corpus partitions) so a batch's
  * frontier touches a vanishing fraction, and the src-sorted files let
  * parquet's row-group min/max prune WITHIN a bucket too). The DiskANN
  * collocation costs ~2k vector copies per vertex (undirected degree) —
  * deliberate write/space amplification buying one-read hops, the same
  * trade the paper makes on SSD.
  *
  * The pack is DERIVED state (rebuildable from the graph + corpus at any
  * time); it records the graph epoch it was built from, so staleness is
  * one [[isFresh]] check. Maintenance has TWO verbs, both committing
  * through the [[EpochStore]] protocol, single-writer like every store:
  *
  *   - [[build]] — the full O(n·k) rewrite, also the shard FOLD;
  *   - [[refresh]] — CHANGE-PROPORTIONAL: the graph's own per-epoch
  *     shards name the churned ids ([[KnnGraphBuild.changedSince]]), the
  *     affected src set closes over their old/new neighborhoods (bounded
  *     by churn × degree²), and only those srcs' CURRENT adjacency rows
  *     land as a bucket-partitioned change shard under the next pack
  *     epoch, with a per-epoch src-membership list as the liveness
  *     authority. Reads serve base + shards with a per-src max-epoch
  *     merge (the [[IndexedLayout.readCorpus]] liveness idiom): a src's
  *     rows come from the newest epoch that CLAIMS it — which also
  *     expresses deletion (claimed, zero rows). Rows WRITTEN per refresh
  *     are churn-sized, never corpus-sized — and so are the READS: the
  *     edge-list hops are bounded isin-pushed passes, the embedding
  *     arrays are read for exactly the affected dst set, and the entry
  *     seeds are maintained incrementally under the pack's PINNED
  *     quantizer (cents/ — [[refreshSeeds]]'s dominance argument)
  *     instead of a per-refresh corpus recompute; the k-fold
  *     collocated-vector write amplification is paid only for churned
  *     neighborhoods. Shards fold
  *     back into a full base every `foldEvery` refreshes (amortized on
  *     the maintainer's compaction cadence, [[graft.pipeline.IndexSync]]).
  */
object GraphServing {

  /** DEFAULT src-hash fan-out of the adjacency store. The operative value
    * is pinned PER PACK at build time in [[ServeMeta]] (the
    * pinned-quantizer analog — serving computes the same bucket with the
    * same expression AND the same fan-out the write used, so pruning
    * stays correct across sessions even if this default changes).
    */
  val Buckets = 16

  /** Churn bound for a shard [[refresh]]: the churned-id set (and its
    * degree-amplified closures) drive driver-side id lists and
    * isin-pruned reads; past this bound the change shard approaches
    * base size and the refresh DELEGATES to [[build]] (the fold) — a
    * rebuild is the change-proportional answer to corpus-scale churn.
    */
  val RefreshChurnCap = 32768

  /** Bound on any DEGREE-AMPLIFIED id closure a refresh inlines as an
    * isin predicate (the one-hop superset, the affected srcs, the dst
    * vector set — each is churn × degree class, which the churn cap
    * alone does not bound on a high-degree graph). Past it the refresh
    * delegates to the fold like an over-cap churn: a quarter-million
    * Catalyst literals is driver work, not a pruned read.
    *
    * Pushdown honesty: parquet rewrites an In predicate above
    * `spark.sql.parquet.pushdown.inFilterThreshold` (default 10) into a
    * single min/max RANGE check per row group, so for a large id set
    * SCATTERED across the keyspace the row-group pruning degrades to
    * that range check — what the caps still buy is bounded driver
    * planning state and a map-side isin that never materializes the
    * corpus, and the src-sorted files keep the range check biting when
    * churn is id-clustered (the common CDC shape). The genuinely pruned
    * reads are the bucket-partition filters beside these predicates.
    */
  val IdInlineCap = 131072

  import EpochStore.{CommitMarker, clearDirsAbove, committedEpochs, fsOf}

  private def metaDir(d: String) = s"$d/meta"
  private def adjDir(d: String, e: Int) = s"$d/adj/e$e"
  private def seedsDir(d: String, e: Int) = s"$d/seeds/e$e"
  private def srcsDir(d: String, e: Int) = s"$d/srcs/e$e"
  private def centsDir(d: String, e: Int) = s"$d/cents/e$e"

  private[queries] def bucketOfId(id: Column, buckets: Int): Column =
    pmod(hash(id), lit(buckets))

  /** Driver-side twin of [[bucketOfId]]: Spark's `hash()` over one LONG
    * column is Murmur3 (x86_32) of the value with seed 42 — pinned Spark
    * semantics (partitioned-table layouts depend on `hash()` stability),
    * and pinned HERE by GraphServingSpec asserting driver ≡ column over
    * the whole fixture id set. Lets a round derive its bucket list from
    * the already-collected frontier without a second Spark job.
    */
  private[queries] def bucketOfIdDriver(id: Long, buckets: Int): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(id, 42)
    ((h % buckets) + buckets) % buckets
  }

  /** (pack epoch, graph epoch built from, corpus size, pinned beam,
    * pinned iters, pinned bucket fan-out, base epoch holding the full
    * adjacency — epochs (base, epoch] are change shards, graph build
    * LINEAGE token recorded at build — [[KnnGraphBuild.tokenOf]]; an
    * out-of-band graph rebuild changes it even when the rebuilt chain's
    * epoch numbers catch up to the recorded one, so [[refresh]]/
    * [[isFresh]] detect EVERY rebuild instead of only the
    * epoch-went-backwards half; 0 = built against a pre-token graph).
    */
  final case class ServeMeta(epoch: Int, graphEpoch: Int, n: Long,
      beam: Int, iters: Int, buckets: Int, base: Int,
      graphToken: Long = 0L)

  /** Build (or fold) the serving pack for the [[KnnGraphBuild]] state
    * at `graphDir` over its corpus `embeddings` — one corpus-sized pass
    * per call, paid at BUILD time so serving never pays it. A new pack
    * epoch lands under fresh dirs and flips live at the meta commit; a
    * crashed build's leftovers roll back on the next verb (the shared
    * [[EpochStore]] discipline). The new epoch is its own BASE: every
    * earlier epoch (full or shard) is superseded. Returns the committed
    * pack epoch. For churn-sized graph advances prefer [[refresh]] —
    * this full form is its fold target and the bootstrap.
    *
    * The entry-seed GEOMETRY is PINNED PACK STATE: the quantizer the
    * seeds were assigned under — the graph's own pinned IVF centroids
    * when it has them, else a fresh bounded kmeans, else
    * `centroidsOverride` (an upstream-trained quantizer, the 100 TB
    * training contract [[KnnGraphBuild.buildIvf]] documents) — persists
    * under `cents/e<epoch>` beside the seeds. The pinning is what lets
    * [[refresh]] maintain the seed set CHURN-PROPORTIONALLY (the FAISS
    * add()-never-retrains contract); build/fold epochs are where the
    * geometry is re-derived.
    */
  def build(spark: SparkSession, graphDir: String, embeddings: DataFrame,
      outDir: String, nSeeds: Int = 32, buckets: Int = Buckets,
      centroidsOverride: DataFrame = null): Int = {
    val committed =
      if (fsOf(spark, outDir).exists(
        new org.apache.hadoop.fs.Path(metaDir(outDir))))
        committedEpochs(spark, metaDir(outDir), "serving pack").max
      else -1
    Seq(s"$outDir/adj", s"$outDir/seeds", s"$outDir/srcs",
        s"$outDir/cents", metaDir(outDir))
      .foreach(clearDirsAbove(spark, _, committed))
    val next = committed + 1
    // checkpoints release on exit: a long-lived maintainer loop calling
    // build/refresh on a cadence must not stack dead executor blocks
    // between ContextCleaner GC cycles (the Handle.close() lesson on the
    // write side)
    val e = VectorQueries.nrmFrame(embeddings.select("vec_id", "embedding"))
      .localCheckpoint() // normalized once; feeds adjacency AND seeds
    var cents: DataFrame = null
    try {
      val n = e.count()
      // the undirected closure — the build-time half of HNSW's
      // bidirectional linking, computed once per graph epoch instead of
      // once per serving call — with the DST vector collocated on the edge
      val g = KnnGraphBuild.readEdges(spark, graphDir)
      val adj = undirected(g, g)
        .join(e.select(col("vec_id").as("dst"), col("embedding"), col("nrm")),
          "dst")
        .withColumn("bucket", bucketOfId(col("src"), buckets))
      writeAdj(spark, adj, adjDir(outDir, next), buckets, empty = n == 0)
      // the seed GEOMETRY is re-derived at build/fold epochs and PINNED
      // under cents/ — what refresh's churn-proportional seed maintenance
      // assigns against (the FAISS add()-never-retrains contract)
      cents = packCentroids(spark, graphDir, e, nSeeds, centroidsOverride)
        .localCheckpoint()
      writeCents(cents, outDir, next)
      seedRows(e, cents).coalesce(1)
        .write.mode("overwrite").parquet(seedsDir(outDir, next))
      val (beam, iters) = GraphSearch.adaptiveWalkParams(n)
      writeMeta(spark, outDir, ServeMeta(next,
        KnnGraphBuild.epochOf(spark, graphDir), n, beam, iters, buckets,
        base = next, graphToken = KnnGraphBuild.tokenOf(spark, graphDir)))
      next
    } finally {
      graft.Release.checkpoint(e)
      if (cents != null) graft.Release.checkpoint(cents)
    }
  }

  /** CHANGE-PROPORTIONAL refresh: bring the pack up to the graph's
    * committed epoch by appending one bucket-partitioned change shard
    * instead of rewriting the corpus-sized base (the escape hatch the
    * class scaladoc documents — rows written bounded by churn ×
    * degree², never by n·k).
    *
    * The affected-src derivation is EXACT, in two steps over
    * [[KnnGraphBuild]]'s verbs (delta / deltaIvf / deleteVecs), whose
    * churned ids each epoch's own shards record:
    *
    *   1. a DIRECTED top-k list can change only for a churned id itself,
    *      a delete victim (an old neighbor of a dead id — its list is
    *      rebuilt), or an old vertex that gained a new-id edge (a new
    *      neighbor of an inserted id): `D ⊆ changed ∪ N_old(changed) ∪
    *      N_new(changed)` — a one-hop superset;
    *   2. every changed UNDIRECTED edge therefore has an endpoint in D,
    *      so diffing D's old row set (the pack, bucket-pruned, scalar
    *      columns only) against D's new row set (the edge list) yields
    *      ALL changed pairs — and the affected srcs are exactly those
    *      pairs' endpoints. The shard writes only THEM: rows written ≈
    *      2 × changed-edge count, the true churn, not a degree²-amplified
    *      neighborhood.
    *
    * `N_old` reads the pack itself (bucket-pruned to the ids' own
    * buckets — the bucket list is a ≤ fan-out collect, never a churn
    * collect); `N_new` semi-joins the ids into the graph's edge list (a
    * scalar-only two-column scan — the collocated VECTORS are read only
    * for the affected rows being written). The shard claims every
    * affected src via `srcs/e<K>`; srcs with zero current rows (deleted
    * vertices) are thereby tombstoned.
    *
    * A refresh on a pack that already carries `foldEvery - 1` shards
    * FOLDS instead (delegates to [[build]] under the pack's own pinned
    * fan-out), bounding the read-side merge width. No-op (returns the
    * current epoch) when the pack is already fresh.
    * GraphServingRefreshSpec pins shard-refresh ≡ full rebuild row for
    * row across insert/delete/upsert churn and meters the rows written.
    *
    * READS are churn-proportional too (the r15 form materialized the
    * full normalized corpus — arrays included — and recomputed seeds
    * with a corpus assign pass, per refresh): every id set here is
    * driver-collected under [[RefreshChurnCap]] and inlined as an isin
    * predicate, so the edge-list hops are one bounded pushed-filter
    * pass each, the pack reads prune to the ids' buckets AND row-groups
    * (src-sorted files), the embedding arrays are read for exactly the
    * affected dst set, and the seed set is maintained incrementally
    * under the pack's pinned quantizer ([[refreshSeeds]]). `ServeMeta.n`
    * rides the graph's arithmetically-maintained vertex count
    * ([[KnnGraphBuild.Meta.vecCount]]) — no per-refresh corpus count.
    * The remaining corpus-proportional touch is the edge scans'
    * streamed (pruned) column reads.
    */
  def refresh(spark: SparkSession, graphDir: String, embeddings: DataFrame,
      outDir: String, nSeeds: Int = 32, foldEvery: Int = 4,
      churnCap: Int = RefreshChurnCap): Int = {
    val m = readMeta(spark, outDir)
    val gm = KnnGraphBuild.graphMeta(spark, graphDir) // one meta read
    val (g1, gTok) = (gm.epoch, gm.token)
    val sameLineage = m.graphToken == 0L || gTok == 0L || gTok == m.graphToken
    if (m.graphEpoch == g1 && sameLineage) return m.epoch // already fresh
    // a lineage-token mismatch or a graph epoch BELOW the pack's build
    // point means the graph was fully REBUILT (build() resets the epoch
    // chain and draws a fresh token) — the pack's lineage is void and
    // there is no delta to reconcile: rebuild. The token closes the r15
    // blind spot where a rebuilt chain re-advanced to >= the recorded
    // epoch and was indistinguishable by epoch numbers alone.
    if (!sameLineage || g1 < m.graphEpoch)
      return build(spark, graphDir, embeddings, outDir, nSeeds, m.buckets)
    if (m.epoch - m.base + 1 >= foldEvery)
      return build(spark, graphDir, embeddings, outDir, nSeeds, m.buckets)
    // every intermediate localCheckpoint below registers here and is
    // RELEASED on exit (including the over-cap delegations' early
    // returns) — a maintainer loop refreshing on a cadence must not
    // accumulate dead executor storage blocks between ContextCleaner GC
    // cycles (the Handle.close() lesson applied to the write side)
    val cps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def ck(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(); cps += c; c
    }
    try {
    val changed = ck(KnnGraphBuild.changedSince(spark, graphDir, m.graphEpoch)
      .select(col("vec_id").as("id")))
    val changedIds = changed.limit(churnCap + 1)
      .collect().map(_.getLong(0))
    // the closures below amplify the churn by the graph degree (dIds,
    // affectedIds, needIds) — each is inlined as an isin predicate, so
    // each gets the same over-cap escape: past the bound the inline
    // lists stop being churn-bounded driver state and the fold is the
    // change-proportional answer (same delegation as the churn cap)
    def overCap(ids: Array[Long]): Boolean = ids.length > IdInlineCap
    if (changedIds.length > churnCap)
      return build(spark, graphDir, embeddings, outDir, nSeeds, m.buckets)
    Seq(s"$outDir/adj", s"$outDir/seeds", s"$outDir/srcs",
        s"$outDir/cents", metaDir(outDir))
      .foreach(clearDirsAbove(spark, _, m.epoch))
    val next = m.epoch + 1
    val served = servedAdj(spark, outDir, m)
    val edges = KnnGraphBuild.readEdges(spark, graphDir).select("a_id", "b_id")
    // rows of the SCALAR edge list touching a bounded id set — ONE pass
    // with the ids inlined (the isin predicate pushes into the scans);
    // the checkpoint holds only the churn × degree-bounded slice
    def touching(ids: Array[Long]): DataFrame =
      if (ids.isEmpty) edges.limit(0)
      else {
        val in = ids.map(x => x: Any)
        ck(edges.filter(col("a_id").isin(in: _*) || col("b_id").isin(in: _*)))
      }
    // undirected rows with src ∈ ids, from a `touching` slice
    def mirror(t: DataFrame, ids: Array[Long]): DataFrame =
      if (ids.isEmpty)
        t.limit(0).select(col("a_id").as("src"), col("b_id").as("dst"))
      else {
        val in = ids.map(x => x: Any)
        t.filter(col("a_id").isin(in: _*))
          .select(col("a_id").as("src"), col("b_id").as("dst"))
          .unionByName(t.filter(col("b_id").isin(in: _*))
            .select(col("b_id").as("src"), col("a_id").as("dst")))
          .distinct()
      }
    // old-closure rows for a bounded id set — the pack is the closure AS
    // OF the pack's graph epoch. The bucket list derives DRIVER-side
    // ([[bucketOfIdDriver]] at the pack's pinned fan-out — no job), the
    // src isin prunes row groups WITHIN a bucket (src-sorted files), and
    // only scalar columns are read (Parquet never materializes the
    // collocated arrays here)
    def oldRows(ids: Array[Long]): DataFrame =
      if (ids.isEmpty) served.limit(0).select("src", "dst")
      else {
        val bs = ids.map(bucketOfIdDriver(_, m.buckets)).distinct.sorted
        served.filter(col("bucket").isin(bs.map(b => b: Any): _*))
          .filter(col("src").isin(ids.map(x => x: Any): _*))
          .select("src", "dst")
      }
    val tC = touching(changedIds)
    val oldC = ck(oldRows(changedIds))
    val newC = ck(mirror(tC, changedIds))
    // step 1: the one-hop superset of every src whose DIRECTED list
    // changed (scaladoc dominance argument)
    val dIds = (changedIds ++
      oldC.select("dst").unionByName(newC.select("dst")).distinct()
        .collect().map(_.getLong(0))).distinct
    if (overCap(dIds))
      return build(spark, graphDir, embeddings, outDir, nSeeds, m.buckets)
    // step 2: every changed undirected edge has an endpoint in D — diff
    // D's old and new row sets and take the changed pairs' endpoints.
    // Both sides are churn × degree bounded scalar frames.
    val oldU = ck(oldRows(dIds))
    val newU = ck(mirror(touching(dIds), dIds))
    val cp = newU.except(oldU).unionByName(oldU.except(newU))
    // a RE-EMBEDDED id's SURVIVING pairs change no pair set, but each
    // surviving neighbor's row still collocates the id's now-stale
    // vector — re-claim those neighbors too (without this, (v, u) keeps
    // serving u's pre-upsert embedding and the walk scores u stale;
    // bounded by churn × degree, and a no-op for pure inserts/deletes,
    // whose pairs all land in `cp`)
    val survivors = newC.intersect(oldC)
    val affectedIds = cp.select("src")
      .unionByName(cp.select(col("dst").as("src")))
      .unionByName(survivors.select(col("dst").as("src")))
      .distinct().collect().map(_.getLong(0))
    if (overCap(affectedIds))
      return build(spark, graphDir, embeddings, outDir, nSeeds, m.buckets)
    // the affected srcs' CURRENT undirected rows with vectors collocated
    // — the only place this refresh touches embedding arrays, and the
    // bounded dst id set prunes that read (NOT sliced from newU: a
    // changed pair's dst endpoint need not be in D, but its full row
    // set must still land)
    val und = ck(mirror(touching(affectedIds), affectedIds))
    val needIds = (und.select("dst").distinct()
      .collect().map(_.getLong(0)) ++ changedIds).distinct
    if (overCap(needIds))
      return build(spark, graphDir, embeddings, outDir, nSeeds, m.buckets)
    val eNeed = ck(VectorQueries.nrmFrame(boundedVecs(embeddings, needIds)))
    val rows = broadcast(und)
      .join(eNeed.select(col("vec_id").as("dst"), col("embedding"), col("nrm")),
        "dst")
      .withColumn("bucket", bucketOfId(col("src"), m.buckets))
    writeAdj(spark, rows, adjDir(outDir, next), m.buckets,
      empty = und.isEmpty)
    val srcsOut =
      if (affectedIds.isEmpty) spark.range(0).select(col("id").as("src"))
      else {
        import spark.implicits._
        affectedIds.toSeq.toDF("src")
      }
    srcsOut.coalesce(1).write.mode("overwrite").parquet(srcsDir(outDir, next))
    // ServeMeta.n rides the graph's arithmetically-maintained vertex
    // count ([[KnnGraphBuild.Meta.vecCount]] — already in hand from the
    // staleness probe's one meta read), so a refresh touches NO
    // corpus-proportional job at all; a pre-tracking graph (−1) pays the
    // caller corpus's scalar count once, the same upgrade path edgeCount
    // took
    val n =
      if (gm.vecCount >= 0) gm.vecCount
      else embeddings.select("vec_id").count()
    refreshSeeds(spark, graphDir, embeddings, eNeed, changedIds,
      outDir, m, next, nSeeds)
    val (beam, iters) = GraphSearch.adaptiveWalkParams(n)
    writeMeta(spark, outDir,
      ServeMeta(next, g1, n, beam, iters, m.buckets, m.base, gTok))
    next
    } finally cps.foreach(graft.Release.checkpoint)
  }

  /** The live rows of a BOUNDED id set from the caller's corpus frame —
    * an isin-filtered read (the predicate pushes into the parquet scan:
    * row-group min/max pruning on vec_id), never a corpus-wide array
    * materialization.
    */
  private[queries] def boundedVecs(embeddings: DataFrame,
      ids: Array[Long]): DataFrame =
    if (ids.isEmpty) embeddings.select("vec_id", "embedding").limit(0)
    else embeddings.select("vec_id", "embedding")
      .filter(col("vec_id").isin(ids.map(x => x: Any): _*))

  /** Undirected closure from directed edge frames: `fwd` supplies
    * (a→src, b→dst), `rev` the mirror — callers pass the same frame
    * twice for the full closure, or two differently-restricted frames
    * (the refresh's affected-src slices).
    */
  private def undirected(fwd: DataFrame, rev: DataFrame): DataFrame =
    fwd.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(rev.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct()

  /** Bucket-partitioned, src-sorted adjacency write. Src-sorted inside
    * each bucket file: at 100 TB parquet's row-group min/max on src
    * prunes WITHIN the bucket too — a frontier id's adjacency list is a
    * point lookup, not a bucket scan. An empty frame lands as one
    * schema-bearing file instead (a zero-row partitionBy write leaves
    * only _SUCCESS and the read-back could not infer a schema; the isin
    * filter still applies, pruning is moot on nothing).
    */
  private def writeAdj(spark: SparkSession, adj: DataFrame, dir: String,
      buckets: Int, empty: Boolean): Unit =
    if (empty)
      adj.coalesce(1).write.mode("overwrite").parquet(dir)
    else adj
      .repartition(buckets, col("bucket"))
      .sortWithinPartitions("src", "dst")
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(dir)

  /** The seed quantizer for a (re)build epoch: override > the graph's
    * own pinned IVF centroids (free — assignment geometry is already
    * index state) > a fresh bounded kmeans (the
    * [[GraphSearch.centroidSeeds]] training recipe — capped sample,
    * deterministic spread, 2 Lloyd iterations).
    */
  private def packCentroids(spark: SparkSession, graphDir: String,
      e: DataFrame, nSeeds: Int, centroidsOverride: DataFrame): DataFrame =
    if (centroidsOverride != null) centroidsOverride
    else if (KnnGraphBuild.methodOf(spark, graphDir) == "ivf")
      KnnGraphBuild.readCentroids(spark, graphDir)
    else graft.functions.VectorIndex.kmeansCentroids(spark,
      VectorQueries.trainFrame(e, e.count(), nSeeds), nSeeds, iters = 2)

  private def writeCents(cents: DataFrame, outDir: String, epoch: Int): Unit =
    cents.coalesce(1).write.mode("overwrite").parquet(centsDir(outDir, epoch))

  /** The committed epoch's pinned seed quantizer (spec / rebuild-parity
    * access — e.g. rebuilding under the SAME geometry via [[build]]'s
    * `centroidsOverride`).
    */
  private[queries] def readCents(spark: SparkSession,
      outDir: String): DataFrame = {
    val m = readMeta(spark, outDir)
    spark.read.parquet(centsDir(outDir, m.epoch))
  }

  /** Per-cell entry-seed winners under pinned centroids — the shared
    * [[GraphSearch.centroidWinners]] selection (one copy of the keys, so
    * this and [[GraphSearch.centroidSeeds]] cannot drift). The persisted
    * CELL column is the pinned-geometry FORMAT MARKER (a cell-less seed
    * file routes [[refreshSeeds]] to the legacy upgrade path) plus
    * introspection; the incremental update re-derives assignments from
    * the pinned centroids rather than trusting stored cells — the
    * recompute is |seeds|-bounded and deterministic, so the two can
    * never disagree. `cands` is a (vec_id, embedding, nrm) frame with
    * distinct ids.
    */
  private[queries] def seedRows(cands: DataFrame, cents: DataFrame): DataFrame = {
    val winners = GraphSearch.centroidWinners(
      cands.select("vec_id", "embedding", "nrm"), cents)
    cands.select("vec_id", "embedding", "nrm").join(winners, "vec_id")
      .select("vec_id", "cell", "embedding", "nrm")
  }

  /** CHURN-PROPORTIONAL seed maintenance for a shard refresh, under the
    * pack's PINNED quantizer: a carried winner can be displaced only by
    * a churned vector — an unchurned non-winner of cell c kept both its
    * assignment (pinned centroids) and its similarity, so the carried
    * winner of c still beats it — and a churned vector can claim any
    * cell it now assigns to. Re-running the winner selection over
    * {carried seeds} ∪ {churned live vectors} is therefore EXACTLY the
    * full-corpus recompute under the same centroids
    * (GraphServingRefreshSpec pins the identity directly, including an
    * insert that displaces a carried winner). Two escape hatches pay a
    * corpus pass:
    *   - a churned id IS a carried seed (deleted / re-embedded): the
    *     per-cell dominance argument is void for its cell — reassign
    *     the full live corpus under the SAME pinned centroids (never a
    *     retrain; rare — nSeeds ids out of n);
    *   - a legacy pack (no cents/ dir, or cell-less seed rows):
    *     recompute the r15 way once, which pins the geometry for every
    *     later refresh — the upgrade path.
    */
  private def refreshSeeds(spark: SparkSession, graphDir: String,
      embeddings: DataFrame, eNeed: DataFrame, changedIds: Array[Long],
      outDir: String, m: ServeMeta, next: Int, nSeeds: Int): Unit = {
    val haveCents = fsOf(spark, outDir).exists(
      new org.apache.hadoop.fs.Path(centsDir(outDir, m.epoch)))
    val oldSeeds = spark.read.parquet(seedsDir(outDir, m.epoch))
    // like refresh: release the checkpoints on exit, both paths
    val cps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def ck(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(); cps += c; c
    }
    try {
      if (!haveCents || !oldSeeds.schema.fieldNames.contains("cell")) {
        val e = ck(VectorQueries.nrmFrame(
          embeddings.select("vec_id", "embedding")))
        val cents = ck(packCentroids(spark, graphDir, e, nSeeds, null))
        writeCents(cents, outDir, next)
        seedRows(e, cents).coalesce(1)
          .write.mode("overwrite").parquet(seedsDir(outDir, next))
        return
      }
      val cents = ck(spark.read.parquet(centsDir(outDir, m.epoch)))
      writeCents(cents, outDir, next) // carried forward — a |cents|-row copy
      val in = changedIds.map(x => x: Any)
      val seedChurned = changedIds.nonEmpty &&
        !oldSeeds.filter(col("vec_id").isin(in: _*)).isEmpty
      val cands =
        if (seedChurned)
          VectorQueries.nrmFrame(embeddings.select("vec_id", "embedding"))
        else if (changedIds.isEmpty)
          oldSeeds.select("vec_id", "embedding", "nrm")
        else oldSeeds.select("vec_id", "embedding", "nrm")
          .unionByName(eNeed.filter(col("vec_id").isin(in: _*))
            .select("vec_id", "embedding", "nrm"))
      seedRows(cands, cents).coalesce(1)
        .write.mode("overwrite").parquet(seedsDir(outDir, next))
    } finally cps.foreach(graft.Release.checkpoint)
  }

  private def writeMeta(spark: SparkSession, outDir: String,
      m: ServeMeta): Unit = {
    val mp = s"${metaDir(outDir)}/e${m.epoch}"
    // driver-side single-row write (MetaIO): no Spark job per verb — this
    // rides every refresh AND the serving loop's staleness probe path
    MetaIO.writeRow(spark, mp, "epoch" -> m.epoch,
      "graph_epoch" -> m.graphEpoch, "n" -> m.n, "beam" -> m.beam,
      "iters" -> m.iters, "buckets" -> m.buckets, "base" -> m.base,
      "graph_token" -> m.graphToken)
    fsOf(spark, mp).create(
      new org.apache.hadoop.fs.Path(mp, CommitMarker), true).close()
  }

  def readMeta(spark: SparkSession, outDir: String): ServeMeta = {
    val e = committedEpochs(spark, metaDir(outDir), "serving pack").max
    val r = MetaIO.readHead(spark, s"${metaDir(outDir)}/e$e")
    // packs persisted before the fan-out/base were meta state carry
    // neither column — they were written under the then-constant 16 with
    // a full base per epoch; reading them must keep serving correctly
    // (the layout-determining parameter must NEVER come from the code's
    // current default)
    ServeMeta(r.getInt("epoch"), r.getInt("graph_epoch"),
      r.getLong("n"), r.getInt("beam"), r.getInt("iters"),
      if (r.has("buckets")) r.getInt("buckets") else 16,
      if (r.has("base")) r.getInt("base") else e,
      if (r.has("graph_token")) r.getLong("graph_token") else 0L)
  }

  /** The pinned entry seeds (vec_id, embedding, nrm) of the committed
    * pack epoch.
    */
  def readSeeds(spark: SparkSession, outDir: String): DataFrame = {
    val m = readMeta(spark, outDir)
    spark.read.parquet(seedsDir(outDir, m.epoch))
  }

  /** The committed epoch's served adjacency: the base alone when no
    * shards exist (plan-identical to the pre-shard read), else base +
    * change shards resolved per src — a src's rows come from the newest
    * epoch whose `srcs` list claims it (deleted srcs: claimed, zero
    * rows). The claim map is churn-bounded and BROADCAST, so the merge
    * adds no shuffle to the array-carrying adjacency, and the bucket
    * filter a serving round applies pushes through the union into every
    * epoch dir's scan — shards are bucket-partitioned exactly like the
    * base, so planning-time pruning survives the merge.
    */
  private[queries] def servedAdj(spark: SparkSession, outDir: String,
      m: ServeMeta): DataFrame = {
    if (m.epoch == m.base) spark.read.parquet(adjDir(outDir, m.base))
    else {
      val shardEpochs = (m.base + 1) to m.epoch
      val claims = shardEpochs.map(i =>
          spark.read.parquet(srcsDir(outDir, i)).withColumn("__se", lit(i)))
        .reduce(_ unionByName _)
        .groupBy("src").agg(max("__se").as("__se"))
      (Seq(m.base) ++ shardEpochs).map(i =>
          spark.read.parquet(adjDir(outDir, i)).withColumn("__e", lit(i)))
        .reduce(_ unionByName _)
        .join(broadcast(claims), Seq("src"), "left")
        .filter(col("__e") === coalesce(col("__se"), lit(m.base)))
        .drop("__e", "__se")
    }
  }

  /** Is the pack current against the live graph state? False after any
    * graph delta/delete committed past the pack's build point — the
    * maintainer's cue to [[refresh]] — and false after ANY out-of-band
    * full graph rebuild: the graph's build-lineage token
    * ([[KnnGraphBuild.tokenOf]]) is compared beside the epoch number,
    * so even a rebuilt chain whose epoch numbering caught back up to
    * the recorded one reads stale (the pre-token blind spot; 0-token
    * legacy state on either side degrades to the epoch check).
    */
  def isFresh(spark: SparkSession, graphDir: String,
      outDir: String): Boolean = {
    val m = readMeta(spark, outDir)
    val (gEpoch, gTok) = KnnGraphBuild.lineageOf(spark, graphDir)
    m.graphEpoch == gEpoch &&
      (m.graphToken == 0L || gTok == 0L || m.graphToken == gTok)
  }

  /** Drop pack state superseded by the committed epoch: adjacency and
    * src-claim shards BELOW THE BASE (live shards sit in (base, epoch]
    * and must survive), seeds/cents/meta below the committed epoch.
    * Returns dirs removed.
    */
  def vacuum(spark: SparkSession, outDir: String): Int = {
    val m = readMeta(spark, outDir)
    def drop(root: String, below: Int): Int = {
      val fs = fsOf(spark, root)
      (0 until below).map(i => new org.apache.hadoop.fs.Path(s"$root/e$i"))
        .count(p => fs.exists(p) && {
          require(fs.delete(p, true), s"could not vacuum $p"); true
        })
    }
    drop(s"$outDir/adj", m.base) + drop(s"$outDir/srcs", m.base) +
      drop(s"$outDir/seeds", m.epoch) + drop(s"$outDir/cents", m.epoch) +
      drop(metaDir(outDir), m.epoch)
  }

  /** Open the committed pack as a warm serving handle: the bucketed
    * adjacency reader's file listing resolves once, the seed vectors
    * (|seeds| rows) pin in memory, and every pinned parameter is in
    * hand — repeated [[Handle.topK]] calls pay ONLY the walk rounds.
    *
    * `pin = true` is the RAM serving tier: the adjacency loads into
    * cluster memory ONCE at open (the HNSW-in-RAM deployment shape —
    * a k·n edge list with collocated vectors is cluster-cacheable far
    * past the corpus sizes that force the disk tier), and rounds scan
    * memory with no file I/O at all. `pin = false` (default) is the
    * disk tier — the DiskANN shape: rounds read the frontier's buckets
    * from the pack, pruned at planning time to the frontier's buckets
    * (see [[Handle.topK]]). Either tier resolves the base+shard merge at
    * open; a shard-refreshed pack and a folded one serve through the
    * same Handle code.
    */
  def open(spark: SparkSession, outDir: String, pin: Boolean = false): Handle = {
    val m = readMeta(spark, outDir)
    val raw = servedAdj(spark, outDir, m)
    val adj = if (pin) raw.localCheckpoint() else raw
    val seedVecs = readSeeds(spark, outDir).localCheckpoint()
    new Handle(spark, m, adj, seedVecs, pin)
  }

  /** A warm serving session over one committed pack epoch. */
  final class Handle private[queries] (spark: SparkSession, val meta: ServeMeta,
      adj: DataFrame, seedVecs: DataFrame, pinned: Boolean) {

    /** Memoized auto-widen factor per allowlist FRAME (identity-keyed:
      * Dataset does not override equals, so map equality IS reference
      * equality — a caller serving a stream of batches against one
      * tenant allowlist reuses the same frame, so the selectivity
      * measurement runs ONCE per (handle, allowlist), not once per call;
      * the r16 form paid a count job on every default-beam filtered
      * call). WEAK keys: the memo must never be the thing keeping a
      * discarded allowlist frame (and, for a localCheckpointed one, its
      * pinned executor blocks) reachable — the bounded-LRU form retained
      * up to 64 frames strongly, the exact leak class Release/close()
      * exist to prevent. A caller minting a fresh frame per call sheds
      * its memo with the frame at the next GC; the values are Ints, so
      * the map itself is never meaningful driver state.
      */
    private val widenCache = new java.util.WeakHashMap[DataFrame, Integer]()

    /** The auto-widen factor for an allowlist: measured LIVE selectivity
      * f = |allowlist ∩ pack vertices| / n — the intersection matters
      * because real allowlists carry dead ids (stale tenant lists,
      * superset predicates), and counting them would inflate f and
      * silently under-widen below the recall floor. The vertex-set probe
      * reads only the pack's scalar src column (arrays pruned), once per
      * allowlist per handle. When the 8× cap BINDS (f < 1/64 — recall
      * below the documented floor is possible), that is surfaced on
      * `graft_filtered_widen_capped_total` rather than swallowed: the
      * caller's move is an explicit beam or a pre-restricted corpus.
      *
      * The count JOB runs OUTSIDE the cache lock — holding it for a
      * Spark job would block every concurrent topK on this handle that
      * touches any other allowlist for the measurement's duration. A
      * racing duplicate measurement is benign and idempotent (both
      * compute the same factor; last put wins).
      */
    private def widenFor(a: DataFrame): Int = {
      val hit = widenCache.synchronized(widenCache.get(a))
      if (hit != null) hit.intValue
      else {
        val live = a.select("vec_id").distinct()
          .join(adj.select(col("src").as("vec_id")), Seq("vec_id"),
            "left_semi")
          .count()
        val f = math.max(live.toDouble / meta.n.toDouble, 1e-9)
        val raw = math.max(1, math.ceil(1.0 / (8.0 * f)).toInt)
        if (raw > 8)
          graft.pipeline.Metrics.global.inc(
            "graft_filtered_widen_capped_total")
        val w = math.min(8, raw)
        widenCache.synchronized(widenCache.put(a, Integer.valueOf(w)))
        w
      }
    }

    /** Memoized fleet allowlist union — ONE pinned (tenant, vec_id)
      * frame per allowlist MAP (key equality: structural on tenants,
      * identity on frames — Dataset does not override equals/hashCode —
      * so a serving loop passing the same map every batch hits, and a
      * rebuilt-per-epoch map misses exactly once). Collapsing the
      * per-tenant union into one checkpointed scan matters for the
      * per-batch JOB COUNT: a T-branch union costs ~T AQE
      * stage-materialization jobs per batch (driver latency that scales
      * with the fleet — the serial-walk problem in miniature), where the
      * pinned frame costs one scan at any T. Weak keys: a discarded map
      * sheds its entry; its checkpoint blocks fall to the
      * ContextCleaner's GC-driven cleanup, and [[close]] releases the
      * live entries eagerly.
      */
    private val pairsCache =
      new java.util.WeakHashMap[Map[String, DataFrame], DataFrame]()

    private def pairsFor(allowlists: Map[String, DataFrame]): DataFrame = {
      val hit = pairsCache.synchronized(pairsCache.get(allowlists))
      if (hit != null) hit
      else {
        val p = allowlists.toSeq.sortBy(_._1).map { case (t, ids) =>
            ids.select("vec_id").distinct().withColumn("tenant", lit(t))
          }
          .reduce(_ unionByName _).select("tenant", "vec_id")
          .localCheckpoint() // a racing duplicate build is benign: the
        // loser's checkpoint is dropped and GC-cleaned
        pairsCache.synchronized(pairsCache.put(allowlists, p))
        p
      }
    }

    /** Release the handle's pinned executor state (the seed-vector
      * checkpoint; the RAM tier's adjacency; the fleet allowlist-pair
      * checkpoints) EAGERLY. Without this a
      * superseded handle's blocks linger until the driver's periodic
      * ContextCleaner GC — a long-lived server that reopens on every
      * pack refresh ([[graft.pipeline.WalkServe]]) would transiently
      * stack dead seed tables between GC cycles. Safe to skip for
      * short-lived handles; unusable after close.
      */
    def close(): Unit = {
      graft.Release.checkpoint(seedVecs)
      if (pinned) graft.Release.checkpoint(adj)
      pairsCache.synchronized {
        import scala.jdk.CollectionConverters._
        pairsCache.values.asScala.foreach(graft.Release.checkpoint)
        pairsCache.clear()
      }
    }

    /** The frontier's out-edges — candidates WITH their collocated
      * vectors — read through the bucket-pruned adjacency. The frontier
      * arrives as the walk's DRIVER rows (≤ queries × beam (q_id, vec_id)
      * pairs — both factors bounded by contract: the query batch is
      * broadcast-small, beam is O(log n)), so the bucket list derives
      * driver-side ([[bucketOfIdDriver]] at the pack's pinned fan-out)
      * and the partition filter reaches the scan at PLANNING time, and
      * the src → q_ids map rides the scan's own task closure: each
      * adjacency row explodes to the queries whose frontier holds its
      * src. No join, so no broadcast job: one pruned scan per round is
      * the whole round's I/O and its only job. The pinned RAM tier runs
      * the same filter as a row predicate over memory (measured on 4
      * cores, a 300-vector pack: a pinned 135-query topK takes 6 jobs and
      * ≈ 1.0 s, the disk tier 6 jobs and ≈ 1.2 s). Exposed for the
      * pruning spec (numFiles-asserted there).
      */
    private[queries] def prunedAdj(frontier: Seq[(Long, Long)]): DataFrame = {
      val bs = frontier.map(p => bucketOfIdDriver(p._2, meta.buckets))
        .distinct.sorted
      val queriesAt = frontier.groupMap(_._2)(_._1)
      val qs = udf((src: Long) => queriesAt.getOrElse(src, Nil))
      adj.filter(col("bucket").isin(bs.map(b => b: Any): _*))
        .select(explode(qs(col("src"))).as("q_id"), col("dst").as("vec_id"),
          col("embedding"), col("nrm"))
      // duplicates (one per frontier vertex naming the candidate) are
      // scored and dedup on the driver — see GraphSearch.walk
    }

    /** Beam-search top-`k` — [[GraphSearch.beamTopK]]'s walk (the shared
      * [[GraphSearch.walk]] core, so results are row-identical to the
      * frame-based form under the pack's seeds and parameters), with
      * scoring fed entirely from the collocated vectors and each round's
      * one read bucket-pruned to the frontier's buckets ([[prunedAdj]] —
      * a production pack sets the fan-out O(corpus partitions), so a
      * realistic batch's frontier touches a fraction of them). The walk
      * state stays on the driver: a batch costs the seed scoring plus
      * one adjacency-read-and-score job per round, whatever its size.
      * `beam`/`iters` default to the pack's pinned measured operating
      * point.
      */
    def topK(queries: DataFrame, k: Int, beam: Int = -1,
        iters: Int = -1): DataFrame =
      walkTopK(queries, k, beam, iters, None)

    /** METADATA-FILTERED walk — [[topK]] with an allowlist of vec_ids
      * (tenant / lang / date predicates resolved to ids by the caller,
      * the [[VectorQueries]] filtered-ANN contract). Filtered-DiskANN's
      * lesson (Gollapudi et al., WWW 2023) applied: the walk EXPANDS
      * through filtered-out vertices unchanged — they are the graph's
      * connectivity — and the predicate composes at RESULT SELECTION,
      * ranking the walk's full scored set restricted to the allowlist.
      * Post-filtering the k-bounded beam instead would silently
      * under-fill k (the motivating failure); expansion-time filtering
      * would crater recall by disconnecting the graph. The allowlist
      * joins against the walk's bounded scored set with the SCORED side
      * broadcast, so an allowlist of any size composes without shuffling
      * walk state.
      *
      * An explicit `beam` PINS the walk width — the cost-envelope
      * override. At the default (`beam = -1`) the handle widens the
      * beam ITSELF from measured selectivity (the filtered-ANN
      * search-width rule — a filter keeping fraction f of the corpus
      * leaves ~f of the scored set eligible, so holding recall needs
      * more scored mass; DiskANN serves filtered queries with a larger
      * search list L for the same reason). f is the LIVE fraction —
      * the allowlist intersected with the pack's vertex set, so dead
      * ids cannot inflate it and suppress the widening — measured ONCE
      * per (handle, allowlist) and memoized ([[widenFor]]): a batch
      * stream reusing one tenant allowlist pays no per-call job. When
      * the 8× widen cap binds (f < 1/64), the
      * `graft_filtered_widen_capped_total` counter surfaces it.
      * Measured on the sf0.001 fixture: the pinned beam holds
      * 0.95 recall at f = 1/3 but 0.77 at f = 1/15, where 2× restores
      * 0.95 (GraphFilteredWalkSpec asserts the ≥ 0.8 floors at both
      * operating points through the DEFAULT path — no caller knob).
      * Cost stays polylog — the widening scales the beam factor, never
      * the corpus.
      */
    def topK(queries: DataFrame, k: Int, allowedIds: DataFrame,
        beam: Int, iters: Int): DataFrame =
      walkTopK(queries, k, beam, iters, Some(allowedIds))

    /** [[topK]] filtered, at the pack's operating point — the beam
      * auto-widens for sparse allowlists (see the explicit-beam
      * overload); f ≥ 1/8 serves byte-identically to the pinned beam.
      */
    def topK(queries: DataFrame, k: Int,
        allowedIds: DataFrame): DataFrame =
      walkTopK(queries, k, -1, -1, Some(allowedIds))

    /** MULTI-TENANT filtered walk — a mixed-tenant query batch answered
      * in ONE walk invocation (the per-tenant serial loop was a per-batch
      * O(tenants) latency multiplier on the hot serving path; the walk's
      * rounds are all partitioned by q_id, so unrelated queries ride one
      * set of Spark jobs for free). `queries` carries (q_id, q_emb,
      * tenant); every tenant present must have an allowlist (the caller
      * routes/fail-closes unknown tenants — [[graft.pipeline.WalkServe]]
      * does), and q_id must be UNIQUE across the batch: q_id keys the
      * walk, and the walk's self-match exclusion (q_id ≠ vec_id) must
      * see the caller's real ids, so a synthetic remap is not an option.
      *
      * Tenant isolation composes exactly like the single-allowlist form,
      * one column wider: the fleet's allowlists union into ONE memoized,
      * pinned (tenant, vec_id) frame ([[pairsFor]] — a single scan per
      * batch at any tenant count), result selection semi-joins the walk's
      * bounded scored set — tagged with each query's tenant via the
      * broadcast-small (q_id, tenant) map — on (tenant, vec_id), and the
      * per-query top-k ranks inside that. EXPANSION stays unfiltered and
      * SHARED: all tenants' queries walk the same connectivity in the
      * same rounds (filtered-DiskANN's expansion rule, unchanged).
      *
      * The beam auto-widens to the batch's SPARSEST tenant (max of the
      * memoized per-tenant factors — each measured once per handle, so a
      * stream reuses them): recall for denser tenants can only improve
      * under a wider beam, and parity with a solo filtered call is exact
      * whenever the factors agree (the uniform-fleet case). Output
      * carries `tenant` beside (q_id, rnk, vec_id, cos).
      */
    def topKTenants(queries: DataFrame, k: Int,
        allowlists: Map[String, DataFrame]): DataFrame = {
      import spark.implicits._
      val rows = queries.select(col("q_id").cast("long"),
          col("q_emb").cast("array<float>"), col("tenant").cast("string"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1), r.getString(2)))
      if (rows.isEmpty)
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("q_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("rnk",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("vec_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("cos",
              org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.types.StructField("tenant",
              org.apache.spark.sql.types.StringType))))
      val tenants = rows.map(_._3).distinct.sorted
      tenants.foreach(t => require(allowlists.contains(t),
        s"tenant '$t' has no allowlist — route or drop unknown tenants " +
          "before the walk (fail-closed)"))
      require(rows.map(_._1).distinct.length == rows.length,
        "q_id must be unique across a tenanted batch — it keys the walk")
      val widen =
        if (meta.n > 0) tenants.map(t => widenFor(allowlists(t))).max else 1
      val qt = rows.toSeq.map(r => (r._1, r._3)).toDF("q_id", "tenant")
      // the fleet's pairs frame is memoized + pinned once per allowlist
      // map ([[pairsFor]]); rows for tenants absent from this batch
      // simply never match the broadcast side
      val allowPairs = pairsFor(allowlists)
      // (tenant, vec_id) pairs are distinct per tenant and q_id → tenant
      // is functional, so the semi-join cannot duplicate a scored row
      val filter = (scored: DataFrame) => allowPairs
        .join(broadcast(scored.join(broadcast(qt), "q_id")),
          Seq("tenant", "vec_id"))
        .select("q_id", "vec_id", "cos_r")
      walkCore(rows.map(r => (r._1, r._2)), k, -1, -1, widen, Some(filter))
        .join(broadcast(qt), "q_id")
        .select("q_id", "rnk", "vec_id", "cos", "tenant")
        .orderBy("q_id", "rnk")
    }

    private def walkTopK(queries: DataFrame, k: Int, beam: Int,
        iters: Int, allowedIds: Option[DataFrame]): DataFrame = {
      // the query batch is broadcast-small by contract — COLLECT it once:
      // the walk scores against these local rows, so a serving call pays
      // no per-call count job and no per-round re-scan of the caller's
      // query lineage (the r15 form ran queries.count() before every batch)
      // casts keep the collected path as type-tolerant as the r15
      // column-expression path was (an int q_id or double embedding
      // worked there; getLong/getSeq[Float] alone would throw here)
      val qRows = queries.select(col("q_id").cast("long"),
          col("q_emb").cast("array<float>")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      // FILTERED calls at the pack's default operating point widen the
      // beam from MEASURED selectivity (the filtered search-width rule:
      // a predicate keeping fraction f of the corpus leaves ~f of the
      // scored set eligible, so holding recall needs more scored mass —
      // DiskANN's larger-L-for-filtered-queries rule). Measured on the
      // fixture: 1× holds 0.95 recall at f = 1/3; f = 1/15 needs 2×
      // (GraphFilteredWalkSpec asserts both floors THROUGH this default
      // path). The measurement is LIVE-intersected and memoized per
      // allowlist ([[widenFor]]); an explicit `beam` stays the override,
      // and f ≥ 1/8 leaves the plan byte-identical (widen = 1).
      val widen = allowedIds match {
        case Some(a) if beam <= 0 && meta.n > 0 => widenFor(a)
        case _ => 1
      }
      // the allowlist composes on the walk's bounded scored set: the
      // scored side broadcasts (it is queries × beam × degree × rounds),
      // the allowlist streams — any-size predicates, no walk shuffle
      val resultFilter = allowedIds.map(allowed =>
        (scored: DataFrame) => allowed.select("vec_id").distinct()
          .join(broadcast(scored), "vec_id")
          .select("q_id", "vec_id", "cos_r"))
      walkCore(qRows, k, beam, iters, widen, resultFilter)
    }

    /** One copy of the round mechanics behind every topK form —
      * single-allowlist, multi-tenant, and unfiltered all score the seeds,
      * then hand [[prunedAdj]] and the same `score` to the driver-held
      * [[GraphSearch.walk]], so they cannot drift.
      */
    private def walkCore(qRows: Array[(Long, Seq[Float])], k: Int,
        beam: Int, iters: Int, widen: Int,
        resultFilter: Option[DataFrame => DataFrame]): DataFrame = {
      val beamN = if (beam > 0) beam else meta.beam * widen
      val itersN = if (iters >= 0) iters else meta.iters
      // the query batch rides each job's task closure, like the frontier
      // in prunedAdj — a broadcast join would cost a job per round; a
      // q_id carried twice scores under each of its embeddings
      val embsOf = qRows.toSeq.groupMap(_._1)(_._2)
      val qEmbs = udf((q: Long) => embsOf(q))
      // candidates arrive as (q_id, vec_id, embedding, nrm). Duplicate
      // candidate rows (one per frontier vertex naming the neighbor) are
      // SCORED redundantly — the cosine is cheap codegen math — and the
      // walk's driver map keeps one score per (q, v): a Spark-side dedup
      // would shuffle per round, and a pre-score dropDuplicates would
      // shuffle the collocated vector arrays
      def score(cand: DataFrame): DataFrame = cand
        .withColumn("q_emb", explode(qEmbs(col("q_id"))))
        .select(col("q_id"), col("vec_id"), round(cosineWithNorms(
          col("q_emb"), col("embedding"), l2Norm(col("q_emb")), col("nrm")),
          6).as("cos_r"))
      // round 0: every query scores the pinned seed vectors — no reads
      val seedScored = score(seedVecs.select(
        explode(typedLit(embsOf.keys.toSeq.sorted)).as("q_id"),
        col("vec_id"), col("embedding"), col("nrm")))
      GraphSearch.walk(seedScored, prunedAdj, score, beamN, itersN, k,
        resultFilter)
    }
  }

  /** Store-level statistics: pinned parameters plus file/shard counts —
    * one listing, no data read.
    */
  final case class ServeStats(epoch: Int, graphEpoch: Int, n: Long,
      beam: Int, iters: Int, buckets: Int, base: Int, shards: Int,
      adjFiles: Int, seeds: Long)

  def describe(spark: SparkSession, outDir: String): ServeStats = {
    val m = readMeta(spark, outDir)
    val adjFiles = (m.base to m.epoch).map { e =>
      val p = adjDir(outDir, e)
      val fs = fsOf(spark, p)
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .map(_.getPath)
        .filter(_.getName.startsWith("bucket="))
        .map(b => fs.listStatus(b).count(_.getPath.getName.endsWith(".parquet")))
        .sum
    }.sum
    ServeStats(m.epoch, m.graphEpoch, m.n, m.beam, m.iters, m.buckets,
      m.base, m.epoch - m.base, adjFiles,
      readSeeds(spark, outDir).count())
  }
}
