package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained k-NN graph — the vector-side dual of
  * [[CorpusBuild]]'s delta mode: as the embedded corpus grows (VectorSync
  * upserts, CorpusBuild deltas), the neighbor graph behind SemDeDup /
  * embedding near-dup must grow WITH it, and rebuilding an n-vector graph
  * to absorb an m-vector delta (m ≪ n) re-scores the n² interior for
  * nothing.
  *
  * [[build]] writes the graph state under `outDir/_graft_state/`; the
  * ranked graph itself (the q_sim_knn_graph row shape) is DERIVED on read
  * via [[readGraph]] — one source of truth, so the readable graph can
  * never drift from the merge state.
  *
  * [[delta]] takes ONLY the new vectors. New-vs-new candidates come from
  * the usual bucket self-join; new-vs-old candidates from probing the new
  * signatures into the STORED buckets (the Hamming-1 condition is
  * symmetric, so probing the delta side covers every cross pair). Old-old
  * pairs are never re-scored: the stored top-k edge list already dominates
  * them — an edge outside a vertex's stored top-k is beaten by k edges that
  * are still present, so merging (stored edges ∪ new directed edges)
  * through the same TopKPerKey is EXACTLY the full rebuild's answer. That
  * exactness (not recall-approximate — row-identical) holds because the
  * hyperplane signatures are deterministic in (bits, tables), which the
  * state pins; KnnGraphBuildSpec asserts delta ≡ full rebuild bit-for-bit.
  *
  * == Commit protocol (crash-safe by construction) ==
  *
  * State is EPOCHED: every write of every delta goes to a fresh directory
  * (`sigs/e<N>` — that epoch's signature shard; `edges/e<N>` — the edge
  * CHANGE SHARD of epoch N: the full rebuilt lists of exactly the a_ids
  * its `eclaims/e<N>` list claims, or a full base at build/fold epochs;
  * `meta/e<N>` — bits/tables/k/high-water/edges-base), and the COMMIT
  * POINT is the meta epoch dir's commit marker: the current state is the
  * highest epoch whose meta committed. A crash anywhere mid-delta leaves
  * the previous epoch fully intact (nothing it owns was touched) and the
  * next attempt of the SAME delta idempotently rewrites the same
  * epoch-N+1 directories before flipping the marker — safe-retry rather
  * than CorpusBuild's fail-closed mark-first, because nothing here is
  * append-in-place (the fold-or-shard decision depends only on committed
  * meta, so a retry makes the same choice). The delta id contract is
  * NOT-LIVE (enforced loudly by [[requireNotLive]]): brand-new ids past
  * the high-water mark, or previously-[[deleteVecs]]-tombstoned ids
  * being re-inserted — upsert = delete + re-insert, the full CDC verb
  * set.
  *
  * == Change-proportional edge maintenance ==
  *
  * A delta/delete epoch WRITES only the lists it changed: the claimed
  * a_ids' rebuilt top-k rows plus the churn-sized claim list (a deleted
  * src is claimed with zero rows — the read-side tombstone). Reads
  * resolve per a_id to the newest claiming epoch over base + shards
  * ([[readEdges]]'s merge — the [[GraphServing.servedAdj]] idiom), and
  * every [[EdgeFoldEvery]] epochs the verb folds the shards into a
  * fresh full base, bounding the merge width; [[vacuum]] then drops the
  * pre-fold epochs. So the per-epoch write cost is churn × degree, the
  * amortized fold is O(n·k) once per EdgeFoldEvery epochs (the r14-era
  * form paid it EVERY epoch), and the scoring scale shape (no old-old
  * re-score) is unchanged — exactness is the same dominance argument:
  * an unclaimed list gained no candidate edge and lost no endpoint, so
  * it is still its true top-k, row for row (KnnGraphBuildSpec pins
  * shard-delta ≡ full rebuild bit-for-bit, and the shard/fold boundary
  * is exercised by the spec's fold case).
  */
object KnnGraphBuild {

  private def stateDir(outDir: String) = s"$outDir/_graft_state"

  /** `method` selects the candidate structure the state was built with —
    * "lsh" (bits/tables meaningful) or "ivf" (nprobe meaningful, pinned
    * centroid table under `centroids/`). A delta must use its state's
    * method: the stored shards' schema and the stored quantizer both
    * belong to it. `edgesBase` is the epoch holding the FULL directed
    * edge list; epochs in (edgesBase, epoch] are change SHARDS (only
    * the lists their `eclaims/e<K>` dir claims), folded back into a
    * full base every [[EdgeFoldEvery]] epochs. `token` is the build
    * LINEAGE stamp: drawn fresh at every full (re)build and carried
    * through every delta, so a derived artifact can detect that the
    * state was rebuilt out-of-band even when the rebuilt chain
    * re-advanced to (or past) the epoch number the artifact recorded —
    * epoch numbers alone cannot distinguish that case
    * ([[GraphServing.refresh]]'s lineage guard). 0 = a state persisted
    * before tokens existed (epoch-ordering checks only). `edgeCount` is
    * the served directed edge count, maintained ARITHMETICALLY by every
    * verb (old − rows under re-claimed lists + rows written) so
    * returning it never pays a base+shards merge scan; −1 = a
    * pre-tracking state (the next verb counts once and starts tracking).
    * `vecCount` is the LIVE VERTEX count under the same discipline
    * (build counts the corpus it already passes over; a delta adds its
    * new ids — not-live by contract; a delete subtracts the dead ids
    * that were actually live), so a derived artifact sizing itself on n
    * ([[GraphServing]]'s adaptive walk params) reads it from the meta
    * instead of paying a per-refresh corpus count; −1 = pre-tracking
    * (the next verb counts the live scalar id column once).
    */
  final case class Meta(bits: Int, tables: Int, k: Int, maxVecId: Long,
      epoch: Int, method: String = "lsh", nprobe: Int = 0,
      edgesBase: Int = 0, token: Long = 0L, edgeCount: Long = -1L,
      vecCount: Long = -1L)

  /** Fresh lineage token for a full build — distinct across rebuilds of
    * the same path with overwhelming probability; never 0 (the legacy
    * sentinel).
    */
  private def newToken(): Long = {
    val t = java.util.concurrent.ThreadLocalRandom.current().nextLong()
    if (t == 0L) 1L else t
  }

  /** Edge-shard fold cadence: a delta/delete epoch appends only its
    * changed lists; once this many epochs sit above the base, the next
    * verb rewrites a full base instead — bounding the read-side merge
    * width while keeping the per-epoch write churn-sized (the
    * [[GraphServing.refresh]] foldEvery discipline, applied to the
    * graph's own store; the r14-era form rewrote the full O(n·k) list
    * EVERY epoch).
    */
  val EdgeFoldEvery = 8

  /** Full build over an embedding frame (vec_id, embedding). */
  def build(spark: SparkSession, embeddings: DataFrame, outDir: String,
      k: Int = 5, tables: Int = 6, bitsOverride: Int = 0): Long = {
    val e = embeddings.select("vec_id", "embedding")
    val nVecs = e.count() // also seeds the arithmetic Meta.vecCount
    val bits =
      if (bitsOverride > 0) bitsOverride
      else VectorQueries.adaptiveBits(nVecs)
    // the SAME shared pipeline as the q_sim_knn_graph catalog query —
    // one copy of the candidate/scoring logic (spec-pinned equivalence)
    val sigs = VectorQueries.sigFrame(e, bits, tables).localCheckpoint()
    val edges = VectorQueries.graphEdges(sigs, bits, k).localCheckpoint()
    // a full build resets the epoch chain: clear any previous state so a
    // stale high-epoch meta cannot shadow the fresh epoch 0 — and a delete
    // that returns false (permissions, concurrent handle) must be LOUD,
    // not a silent path to serving the old graph forever
    val st = new org.apache.hadoop.fs.Path(stateDir(outDir))
    val fs = st.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(st))
      require(fs.delete(st, true), s"could not clear previous state at $st")
    val cnt = edges.count()
    commitEpoch(spark, sigs, edges,
      Meta(bits, tables, k, maxId(sigs), epoch = 0, token = newToken(),
        edgeCount = cnt, vecCount = nVecs), outDir)
    cnt
  }

  /** IVF full build — the same epoch/commit machinery as [[build]] with
    * the IVF candidate structure ([[VectorQueries.knnGraphIvf]]'s pieces):
    * train the coarse quantizer, assign every vector to its top-`nprobe`
    * cells, pair within shared cells. The CENTROID TABLE IS PINNED INDEX
    * STATE (written once under `centroids/`, immutable across deltas) —
    * exactly the FAISS IVF contract, where add() never retrains the
    * quantizer. That pinning is what makes [[deltaIvf]] exact: assignment
    * is deterministic in the centroids, so the candidate set of a delta'd
    * state equals the candidate set of a full build under the same
    * centroids, and the stored-top-k dominance argument (class scaladoc)
    * applies unchanged. `centroidsOverride` lets a caller (and the
    * equivalence spec) supply an external quantizer — e.g. one trained on
    * an explicit upstream sample, the 100 TB training contract.
    */
  def buildIvf(spark: SparkSession, embeddings: DataFrame, outDir: String,
      k: Int = 5, nprobe: Int = 3, cellsOverride: Int = 0,
      centroidsOverride: DataFrame = null,
      trainCapPerCell: Long = 256L): Long = {
    val e = embeddings.select("vec_id", "embedding")
    val nVecs = e.count() // also seeds the arithmetic Meta.vecCount
    // no pre-spread: l2Norm is too cheap to parallelize and the forced
    // width made every downstream IVF stage micro-tasks (see knnGraphIvf)
    val sigs = VectorQueries.nrmFrame(e).localCheckpoint()
    val centroids =
      if (centroidsOverride != null) centroidsOverride
      else {
        val cells =
          if (cellsOverride > 0) cellsOverride
          else VectorQueries.ivfCellCount(nVecs)
        graft.functions.VectorIndex.kmeansCentroids(spark,
          VectorQueries.trainFrame(sigs, nVecs, cells, trainCapPerCell),
          cells, iters = 1) // matches knnGraphIvf (spec-pinned identity)
      }
    val assign = VectorQueries.ivfAssign(sigs, centroids, nprobe).localCheckpoint()
    val edges = VectorQueries.topKEdges(
      VectorQueries.scorePairs(
        VectorQueries.ivfCellCandidates(assign), sigs, sigs), k)
      .localCheckpoint()
    val st = new org.apache.hadoop.fs.Path(stateDir(outDir))
    val fs = st.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(st))
      require(fs.delete(st, true), s"could not clear previous state at $st")
    centroids.write.mode("overwrite").parquet(centroidsPath(stateDir(outDir)))
    val cnt = edges.count()
    commitEpoch(spark, sigs, edges,
      Meta(bits = 0, tables = 0, k, maxId(sigs), epoch = 0,
        method = "ivf", nprobe = nprobe, token = newToken(),
        edgeCount = cnt, vecCount = nVecs),
      outDir, assignShard = Some(assign))
    cnt
  }

  /** The candidate-structure method ("lsh" | "ivf") the persisted state
    * was built with — lets a maintainer (IndexSync) route deltas without
    * knowing how the state was bootstrapped.
    */
  def methodOf(spark: SparkSession, outDir: String): String =
    readMeta(spark, stateDir(outDir)).method

  /** The pinned coarse quantizer of an IVF-method state. */
  def readCentroids(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(centroidsPath(stateDir(outDir)))

  /** The build-lineage token of the persisted state ([[Meta.token]]) —
    * what a derived artifact records beside [[epochOf]] so a full
    * out-of-band rebuild is detectable even when the new chain's epoch
    * numbering catches up to the recorded one. 0 for pre-token states.
    */
  def tokenOf(spark: SparkSession, outDir: String): Long =
    readMeta(spark, stateDir(outDir)).token

  /** (committed epoch, lineage token) from ONE meta read — the staleness
    * probe's shape ([[GraphServing.isFresh]]/refresh compare both):
    * separate epochOf + tokenOf calls would pay the committed-epoch
    * listing twice per probe and could even observe two different
    * commits.
    */
  def lineageOf(spark: SparkSession, outDir: String): (Int, Long) = {
    val m = readMeta(spark, stateDir(outDir))
    (m.epoch, m.token)
  }

  /** The full committed meta from ONE read — for a derived artifact that
    * needs lineage AND the tracked counts in the same probe
    * ([[GraphServing.refresh]] reads epoch, token, and vecCount together;
    * separate accessors would triple the committed-epoch listing).
    */
  private[queries] def graphMeta(spark: SparkSession, outDir: String): Meta =
    readMeta(spark, stateDir(outDir))

  /** The committed epoch of the persisted graph state — what a DERIVED
    * artifact ([[GraphServing]]'s pack) records at build time so its
    * staleness against the live graph is checkable.
    */
  def epochOf(spark: SparkSession, outDir: String): Int =
    currentEpoch(spark, stateDir(outDir))

  /** The committed epoch's directed edge list, unranked (a_id, b_id,
    * cos_r) — the raw frame [[readGraph]] ranks. Derived-state builders
    * ([[GraphServing]]) read THIS: they re-shape the edges anyway, so
    * the catalog's rank window would be a wasted corpus-sized shuffle.
    */
  def readEdges(spark: SparkSession, outDir: String): DataFrame = {
    val st = stateDir(outDir)
    servedEdges(spark, st, readMeta(spark, st))
  }

  /** The committed edge view: the full base alone when no shards exist
    * (plan-identical to the pre-shard read), else base + change shards
    * resolved per src — an a_id's list comes from the newest epoch whose
    * `eclaims` list claims it (a deleted src: claimed, zero rows). The
    * claim map is bounded by the churn absorbed since the last fold and
    * BROADCASTS, so the merge adds no shuffle; [[EdgeFoldEvery]] bounds
    * the union width.
    */
  private def servedEdges(spark: SparkSession, st: String,
      meta: Meta): DataFrame = {
    if (meta.epoch == meta.edgesBase)
      spark.read.parquet(edgesPath(st, meta.edgesBase))
    else {
      val shardEpochs = (meta.edgesBase + 1) to meta.epoch
      val claims = shardEpochs.map(i =>
          spark.read.parquet(claimsPath(st, i)).withColumn("__ce", lit(i)))
        .reduce(_ unionByName _)
        .groupBy("a_id").agg(max("__ce").as("__ce"))
      (Seq(meta.edgesBase) ++ shardEpochs).map(i =>
          spark.read.parquet(edgesPath(st, i)).withColumn("__e", lit(i)))
        .reduce(_ unionByName _)
        .join(broadcast(claims), Seq("a_id"), "left")
        .filter(col("__e") === coalesce(col("__ce"), lit(meta.edgesBase)))
        .drop("__e", "__ce")
    }
  }

  /** Ids churned by every epoch AFTER `sinceEpoch` up to the committed
    * one — insertions from those epochs' signature shards, deletions
    * from their tombstones (an upsert = delete + re-insert appears once
    * via distinct). This is the change feed a derived artifact built at
    * `sinceEpoch` reconciles against ([[GraphServing.refresh]]); it is
    * change-proportional by construction — each epoch's shard holds only
    * that delta's rows, never the corpus.
    */
  def changedSince(spark: SparkSession, outDir: String,
      sinceEpoch: Int): DataFrame = {
    val st = stateDir(outDir)
    val meta = readMeta(spark, st)
    require(sinceEpoch <= meta.epoch,
      s"sinceEpoch $sinceEpoch is ahead of the committed epoch ${meta.epoch}")
    val conf = spark.sparkContext.hadoopConfiguration
    // sigs and tombs carry different schemas — read per dir, union ids
    val dirs = ((sinceEpoch + 1) to meta.epoch).flatMap(i =>
      Seq(s"$st/sigs/e$i", s"$st/tombs/e$i")).filter { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).exists(hp)
    }
    if (dirs.isEmpty)
      spark.range(0).select(col("id").as("vec_id"))
    else dirs.map(p => spark.read.parquet(p).select("vec_id"))
      .reduce(_ unionByName _).distinct()
  }

  /** The persisted-build face of [[VectorQueries.knnGraphAuto]]'s
    * crossover: LSH while the adaptive bit width has headroom, IVF past
    * the clamp (recall-first constant — GraphAutoIvfThreshold's scaladoc
    * has the two-sided measurement). The chosen method is pinned in the
    * state's meta, so subsequent deltas route through the matching
    * delta()/deltaIvf() — the method guards make a mismatch loud.
    * Returns the directed edge count, like both underlying builds.
    */
  def buildAuto(spark: SparkSession, embeddings: DataFrame, outDir: String,
      k: Int = 5, tables: Int = 6,
      nprobe: Int = VectorQueries.GraphAutoIvfNprobe,
      thresholdOverride: Long = 0L): Long = {
    val threshold =
      if (thresholdOverride > 0) thresholdOverride
      else VectorQueries.GraphAutoIvfThreshold
    val e = embeddings.select("vec_id", "embedding")
    if (e.count() > threshold) buildIvf(spark, e, outDir, k, nprobe)
    else build(spark, e, outDir, k, tables)
  }

  /** `df` rows whose `key` appears in `ids` (a single-column bounded
    * frame). Small id sets collect to an `isin` filter — the predicate
    * reaches the parquet scans of the shard union, so row-group min/max
    * pruning applies (the edge BASE is a_id-range-sorted at build/fold
    * exactly so these stats bite — see [[commitEpoch]]); larger sets
    * fall back to a broadcast left-semi (the scan streams and drops
    * rows map-side — still never a corpus-sized materialization). Both
    * forms replace the r15 pattern of localCheckpointing the FULL live
    * signature frame (embedding arrays included) per verb just to slice
    * a churn-bounded subset out of it — the read-side twin of the
    * change-proportional shard writes.
    */
  private[queries] def restrictByKey(df: DataFrame, ids: DataFrame, key: String,
      cap: Int = 65536): DataFrame = {
    val idCol = ids.columns.head
    val some = ids.select(idCol).distinct().limit(cap + 1)
      .collect().map(_.getLong(0))
    if (some.isEmpty) df.limit(0)
    else if (some.length <= cap)
      df.filter(col(key).isin(some.map(x => x: Any): _*))
    else df.join(broadcast(ids.select(col(idCol).as(key)).distinct()),
      Seq(key), "left_semi")
  }

  private def restrictByIds(df: DataFrame, ids: DataFrame,
      cap: Int = 65536): DataFrame =
    restrictByKey(df, ids.select("vec_id"), "vec_id", cap)

  /** The served directed edge count without a merge scan when the meta
    * tracks it; the one-time upgrade count for pre-tracking states.
    */
  private def servedCount(spark: SparkSession, st: String,
      meta: Meta): Long =
    if (meta.edgeCount >= 0) meta.edgeCount
    else servedEdges(spark, st, meta).count()

  /** The live vertex count without a scan when the meta tracks it; the
    * one-time upgrade count (scalar vec_id column over the live shard
    * view — arrays pruned) for pre-tracking states.
    */
  private def liveVecCount(spark: SparkSession, st: String,
      meta: Meta): Long =
    if (meta.vecCount >= 0) meta.vecCount
    else liveShards(spark, st, "sigs", meta.epoch).select("vec_id").count()

  /** IVF incremental build: absorb `newVecs` under the STORED quantizer —
    * no old-old re-scoring, no retraining. New-vs-new candidates pair
    * within shared cells among the delta's assignments; new-vs-old from
    * joining the delta's assignments against the STORED assignment shards
    * (cell co-residence is symmetric, so the delta side of the join covers
    * every cross pair). Merge = stored directed top-k ∪ new edges through
    * the same TopKPerKey — row-identical to a full [[buildIvf]] under the
    * same centroids (KnnGraphBuildIvfSpec), by the same dominance argument
    * as the LSH delta. O(old) work in this delta is ONE join of stored
    * (vec_id, cell) rows against the delta's cells — never a re-assign
    * pass, never an old-old score.
    */
  def deltaIvf(spark: SparkSession, newVecs: DataFrame, outDir: String): Long = {
    val st = stateDir(outDir)
    val meta = readMeta(spark, st)
    require(meta.method == "ivf",
      s"state at $outDir was built with method=${meta.method}; use delta()")
    val e = newVecs.select("vec_id", "embedding")
    val minRow = e.agg(min("vec_id")).head
    if (minRow.isNullAt(0))
      return servedCount(spark, st, meta) // empty delta — no scan at all
    val centroids = readCentroids(spark, outDir)
    val oldSigs = liveShards(spark, st, "sigs", meta.epoch)
    val oldAssign = liveShards(spark, st, "assign", meta.epoch)
    requireNotLive(e, oldSigs, meta)
    val newSigs = VectorQueries.nrmFrame(e).localCheckpoint()
    val newAssign = VectorQueries.ivfAssign(newSigs, centroids, meta.nprobe)
      .localCheckpoint()
    val newNew = VectorQueries.ivfCellCandidates(newAssign)
    // cross pairs oriented (a = old, b = new) — a<b holds by the id
    // contract. The assignment join reads SCALAR (vec_id, cell) shards
    // only; the candidate set is bounded by nprobe · cell occupancy
    val cross = oldAssign.select(col("vec_id").as("a_id"), col("cell"))
      .join(newAssign.select(col("vec_id").as("b_id"), col("cell").as("b_cell")),
        col("cell") === col("b_cell"))
      .select("a_id", "b_id")
      .distinct().localCheckpoint()
    // the cross pairs' old endpoints are the only STORED vectors scoring
    // needs — restrict the array-carrying sig read to them (isin →
    // row-group pruning) instead of the r15 full-live-frame checkpoint
    val oldSigsNeeded = restrictByIds(oldSigs,
      cross.select(col("a_id").as("vec_id"))).localCheckpoint()
    val scored = VectorQueries.scorePairs(newNew, newSigs, newSigs)
      .union(VectorQueries.scorePairs(cross, oldSigsNeeded, newSigs))
    val newEdges = VectorQueries.topKEdges(scored, meta.k)
    // the same change-proportional shard commit as [[delta]] — the
    // claimed-list dominance argument and the changed-only except are
    // method-independent
    val served = servedEdges(spark, st, meta)
    val affected = newEdges.select("a_id").distinct().localCheckpoint()
    // one PRUNED read materializes the candidates' stored lists (the
    // a_id-sorted base answers the bounded slice without a full pass);
    // every later consumer (heap input, except, removed-count) reads the
    // bounded checkpoint, never the store again
    val prevRows = restrictByKey(served, affected, "a_id")
      .select("a_id", "b_id", "cos_r").localCheckpoint()
    val newLists = graft.plans.TopKPerKey(
      prevRows.unionByName(newEdges),
      Seq(col("a_id")), Seq(col("cos_r").desc, col("b_id").asc), meta.k)
      .localCheckpoint()
    val changedA = newLists.except(prevRows).select("a_id").distinct()
      .localCheckpoint()
    val shardLists = newLists.join(broadcast(changedA), "a_id")
      .select("a_id", "b_id", "cos_r").localCheckpoint()
    // arithmetic count maintenance: rows under re-claimed lists out,
    // shard rows in — the returned merge count without a merge scan
    val cnt = servedCount(spark, st, meta) -
      prevRows.join(broadcast(changedA), Seq("a_id"), "left_semi").count() +
      shardLists.count()
    val (edgeFrame, eclaims, m2) = edgeCommitPlan(served, changedA, shardLists,
      meta.copy(maxVecId = math.max(meta.maxVecId, maxId(newSigs)),
        epoch = meta.epoch + 1, edgeCount = cnt,
        // every delta id is net-new by the NOT-LIVE contract
        vecCount = liveVecCount(spark, st, meta) + newSigs.count()))
    commitEpoch(spark, newSigs, edgeFrame.localCheckpoint(), m2, outDir,
      assignShard = Some(newAssign), edgeClaims = eclaims)
    cnt
  }

  /** Incremental build: absorb `newVecs` without re-scoring old-old pairs.
    * No-op on an empty delta. Returns the merged directed edge count.
    */
  def delta(spark: SparkSession, newVecs: DataFrame, outDir: String): Long = {
    val st = stateDir(outDir)
    val meta = readMeta(spark, st)
    require(meta.method == "lsh",
      s"state at $outDir was built with method=${meta.method}; use deltaIvf()")
    val e = newVecs.select("vec_id", "embedding")
    val minRow = e.agg(min("vec_id")).head
    if (minRow.isNullAt(0))
      return servedCount(spark, st, meta) // empty delta — no scan at all
    // the STORED signature function — adaptive sizing would change the
    // signatures and break both exactness and the stored buckets.
    // The live frame stays LAZY: the bucket join below reads its SCALAR
    // columns (column pruning drops the arrays), and the array-carrying
    // rows are read only for the bounded cross-candidate endpoints —
    // the r15 form localCheckpointed the whole live frame per delta
    val oldSigs = liveShards(spark, st, "sigs", meta.epoch)
    requireNotLive(e, oldSigs, meta)
    val newSigs = VectorQueries.sigFrame(e, meta.bits, meta.tables)
      .localCheckpoint()
    val newBuckets = VectorQueries.bucketsOf(newSigs)
    val oldBuckets = VectorQueries.bucketsOf(oldSigs)
    val newNew = VectorQueries.selfCandidates(newBuckets, meta.bits)
    // cross pairs oriented (a = old, b = new) — a<b holds by the id
    // contract, matching the self-join's orientation
    val cross = VectorQueries.probesOf(newBuckets, meta.bits).as("bn")
      .join(oldBuckets.as("bo"),
        col("bn.tbl") === col("bo.tbl") && col("bn.bucket") === col("bo.bucket"))
      .select(col("bo.vec_id").as("a_id"), col("bn.vec_id").as("b_id"))
      .distinct().localCheckpoint()
    val oldSigsNeeded = restrictByIds(oldSigs,
      cross.select(col("a_id").as("vec_id"))).localCheckpoint()
    val scored = VectorQueries.scorePairs(newNew, newSigs, newSigs)
      .union(VectorQueries.scorePairs(cross, oldSigsNeeded, newSigs))
    val newEdges = VectorQueries.topKEdges(scored, meta.k)
    val served = servedEdges(spark, st, meta)
    // CHANGE-PROPORTIONAL: a list can change only if it gained a
    // candidate edge — every such a_id appears in newEdges (the
    // dominance argument: an unclaimed stored list is still its true
    // top-k), so the heap runs over candidate lists ∪ their new edges,
    // never the corpus. The candidate set is bucket-coresidence-sized;
    // the SHARD then keeps only the lists that actually changed (the
    // bounded except below — a candidate whose new edges all lost the
    // heap reproduces its stored rows bit-for-bit and drops out), so
    // rows written track the true churn, not the candidate fan-out.
    // Stored edges are already directed (a_id = query vertex).
    val affected = newEdges.select("a_id").distinct().localCheckpoint()
    // one PRUNED read materializes the candidates' stored lists (the
    // a_id-sorted base answers the bounded slice without a full pass);
    // the heap input, the except, and the removed-count all read the
    // bounded checkpoint instead of re-touching the store
    val prevRows = restrictByKey(served, affected, "a_id")
      .select("a_id", "b_id", "cos_r").localCheckpoint()
    val newLists = graft.plans.TopKPerKey(
      prevRows.unionByName(newEdges),
      Seq(col("a_id")), Seq(col("cos_r").desc, col("b_id").asc), meta.k)
      .localCheckpoint()
    val changedA = newLists.except(prevRows).select("a_id").distinct()
      .localCheckpoint()
    val shardLists = newLists.join(broadcast(changedA), "a_id")
      .select("a_id", "b_id", "cos_r").localCheckpoint()
    // arithmetic count maintenance — the returned merge count without a
    // merge scan (Meta.edgeCount scaladoc)
    val cnt = servedCount(spark, st, meta) -
      prevRows.join(broadcast(changedA), Seq("a_id"), "left_semi").count() +
      shardLists.count()
    val (edgeFrame, eclaims, m2) = edgeCommitPlan(served, changedA, shardLists,
      meta.copy(maxVecId = math.max(meta.maxVecId, maxId(newSigs)),
        epoch = meta.epoch + 1, edgeCount = cnt,
        // every delta id is net-new by the NOT-LIVE contract
        vecCount = liveVecCount(spark, st, meta) + newSigs.count()))
    commitEpoch(spark, newSigs, edgeFrame.localCheckpoint(), m2, outDir,
      edgeClaims = eclaims)
    cnt
  }

  /** Drop state superseded by the committed epoch: edge bases/shards and
    * claim lists BELOW THE EDGES BASE (live shards sit in
    * (edgesBase, epoch] and must survive the read-side merge), meta dirs
    * below the committed epoch. Signature/assignment SHARDS and
    * TOMBSTONES are kept — each epoch's shard is a live slice of the
    * full signature frame that every future delta reads, and tombstones
    * are the liveness filter over those immutable shards. Returns the
    * number of directories removed.
    */
  def vacuum(spark: SparkSession, outDir: String): Int = {
    val st = stateDir(outDir)
    val meta = readMeta(spark, st)
    val conf = spark.sparkContext.hadoopConfiguration
    def dropBelow(path: Int => String, below: Int): Int =
      (0 until below).count { e =>
        val p = new org.apache.hadoop.fs.Path(path(e))
        val fs = p.getFileSystem(conf)
        fs.exists(p) && {
          require(fs.delete(p, true), s"could not vacuum $p")
          true
        }
      }
    dropBelow(edgesPath(st, _), meta.edgesBase) +
      dropBelow(claimsPath(st, _), meta.edgesBase) +
      dropBelow(e => s"$st/meta/e$e", meta.epoch)
  }

  /** The graph in the q_sim_knn_graph row shape, from the current epoch. */
  def readGraph(spark: SparkSession, outDir: String): DataFrame = {
    val st = stateDir(outDir)
    val meta = readMeta(spark, st)
    VectorQueries.rankGraph(servedEdges(spark, st, meta))
  }

  /** Tombstone DELETE for the persisted graph — the missing half of the
    * pipeline's upsert+delete contract (A14 delete-bypass,
    * debounce.go:104-121): drop the dead vectors and leave the graph
    * row-identical to a rebuild over the SURVIVORS, without an old-old
    * re-score.
    *
    * Exactness argument, the dual of the delta's dominance argument:
    *   - a survivor whose stored top-k referenced no dead vector keeps a
    *     list that is still its true top-k — deleting vectors only REMOVES
    *     candidates, and every removed candidate was already dominated;
    *   - a survivor that LOST an edge (a "victim") gets its list rebuilt
    *     from scratch by re-probing its stored signature/assignment into
    *     the live structure — the same symmetric co-residence conditions
    *     the build used, so the regenerated candidate set IS the rebuild's
    *     candidate set over survivors (KnnGraphDeleteSpec pins both
    *     methods bit-for-bit).
    * Victim count is bounded by k·|dead| — delete cost scales with the
    * delta, never the corpus. Dead ids land as per-epoch tombstones
    * (`tombs/e<N>`, as_of = N); signature/assignment shards are immutable,
    * so liveness is resolved at read: a shard row survives unless a LATER
    * tombstone names its id — which is also what lets a tombstoned id be
    * RE-INSERTED by a later delta (upsert = delete + insert) without its
    * stale shard rows resurrecting. Deleting an id that is not live is a
    * harmless no-op (CDC replays never fail here). Returns the merged
    * directed edge count.
    */
  def deleteVecs(spark: SparkSession, ids: DataFrame, outDir: String): Long = {
    val st = stateDir(outDir)
    val meta = readMeta(spark, st)
    val dead = ids.select("vec_id").distinct().localCheckpoint()
    if (dead.isEmpty)
      return servedCount(spark, st, meta)
    val served = servedEdges(spark, st, meta)
    // victims: survivors whose stored top-k lost an edge to a dead vector —
    // bounded by k·|dead| rows by construction
    val victims = served
      .join(dead.select(col("vec_id").as("b_id")), Seq("b_id"), "left_semi")
      .join(dead.select(col("vec_id").as("a_id")), Seq("a_id"), "left_anti")
      .select("a_id").distinct().localCheckpoint()
    // LAZY live view — the candidate derivation reads its scalar columns
    // (bucket/assignment joins, arrays pruned); the array-carrying rows
    // are read only for the bounded scoring endpoints below
    val liveS = liveShards(spark, st, "sigs", meta.epoch)
      .join(dead, Seq("vec_id"), "left_anti")
    val victimSigs = restrictByIds(liveS,
      victims.select(col("a_id").as("vec_id")))
    val cand = (meta.method match {
      case "ivf" =>
        val liveA = liveShards(spark, st, "assign", meta.epoch)
          .join(dead, Seq("vec_id"), "left_anti")
        val vA = liveA.join(victims.select(col("a_id").as("vec_id")),
          Seq("vec_id"), "left_semi")
        vA.select(col("vec_id").as("a_id"), col("cell"))
          .join(liveA.select(col("vec_id").as("b_id"), col("cell").as("b_cell")),
            col("cell") === col("b_cell") && col("a_id") =!= col("b_id"))
          .select("a_id", "b_id").distinct()
      case _ =>
        val lb = VectorQueries.bucketsOf(liveS)
        VectorQueries.probesOf(VectorQueries.bucketsOf(victimSigs), meta.bits)
          .as("bv")
          .join(lb.as("bl"),
            col("bv.tbl") === col("bl.tbl") &&
              col("bv.bucket") === col("bl.bucket") &&
              col("bv.vec_id") =!= col("bl.vec_id"))
          .select(col("bv.vec_id").as("a_id"), col("bl.vec_id").as("b_id"))
          .distinct()
    }).localCheckpoint()
    // scoring touches exactly the candidate endpoints' vectors
    val liveSNeeded = restrictByIds(liveS,
      cand.select(col("a_id").as("vec_id"))
        .unionByName(cand.select(col("b_id").as("vec_id"))))
      .localCheckpoint()
    // directed edges for the victims only — no mirror: the other endpoint's
    // list did not lose anything
    val victimEdges = graft.plans.TopKPerKey(
      VectorQueries.scorePairs(cand, liveSNeeded, liveSNeeded),
      Seq(col("a_id")), Seq(col("cos_r").desc, col("b_id").asc), meta.k)
      .select("a_id", "b_id", "cos_r").localCheckpoint()
    // claimed lists = the victims' rebuilds + the dead srcs (claimed with
    // ZERO rows — the read-side tombstone); every other list is untouched
    // (any b_id-dead edge lives under a victim or dead a_id), so the
    // shard is k·|dead|-bounded, never corpus-sized
    val claims = victims.select("a_id")
      .unionByName(dead.select(col("vec_id").as("a_id")))
      .distinct().localCheckpoint()
    // arithmetic count maintenance: every served row under a claimed
    // a_id leaves, the victims' rebuilt rows land (a bounded pruned read
    // against the sorted base, not a merge scan)
    val cnt = servedCount(spark, st, meta) -
      restrictByKey(served, claims, "a_id").count() +
      victimEdges.count()
    // only dead ids that were actually LIVE leave the vertex count —
    // deleting a not-live id is a documented no-op (CDC replays), and a
    // replayed delete must not double-subtract. One bounded semi-count
    // over the scalar live view (arrays pruned).
    val deadLive = restrictByKey(
      liveShards(spark, st, "sigs", meta.epoch).select("vec_id"),
      dead, "vec_id").count()
    val (edgeFrame, eclaims, m2) = edgeCommitPlan(served, claims,
      victimEdges, meta.copy(epoch = meta.epoch + 1, edgeCount = cnt,
        vecCount = liveVecCount(spark, st, meta) - deadLive))
    commitEpoch(spark, liveS.limit(0), edgeFrame.localCheckpoint(), m2, outDir,
      assignShard =
        if (meta.method == "ivf")
          Some(liveShards(spark, st, "assign", meta.epoch).limit(0))
        else None,
      tombShard = Some(dead),
      edgeClaims = eclaims)
    cnt
  }

  /** Store-level statistics — metadata plus per-epoch dir counts, one
    * listing pass, no data read (the [[IndexedLayout.describe]] /
    * [[GraphServing.describe]] introspection contract on the graph
    * state itself): the committed epoch, where the full edge base sits
    * and how many change shards ride above it, the candidate method and
    * its pinned k, the id high-water mark, and how many live signature
    * shards / tombstone epochs future deltas will read.
    */
  final case class GraphStats(epoch: Int, edgesBase: Int, edgeShards: Int,
      method: String, k: Int, maxVecId: Long, sigShards: Int,
      tombEpochs: Int, edges: Long, vertices: Long = -1L)

  def describe(spark: SparkSession, outDir: String): GraphStats = {
    val st = stateDir(outDir)
    val meta = readMeta(spark, st)
    val conf = spark.sparkContext.hadoopConfiguration
    def epochDirs(sub: String): Int = {
      val p = new org.apache.hadoop.fs.Path(s"$st/$sub")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 0
      else fs.listStatus(p)
        .count(s => EpochStore.dirEpoch(s.getPath.getName).isDefined)
    }
    GraphStats(meta.epoch, meta.edgesBase, meta.epoch - meta.edgesBase,
      meta.method, meta.k, meta.maxVecId, epochDirs("sigs"),
      epochDirs("tombs"),
      // the arithmetically-maintained served counts ([[Meta.edgeCount]] /
      // [[Meta.vecCount]]); −1 on a pre-tracking state — describe stays
      // a pure listing, the next verb upgrades them
      meta.edgeCount, meta.vecCount)
  }

  /** The delta id contract, relaxed from append-only to NOT-LIVE: ids past
    * the high-water mark are trivially new (the O(1) fast path — no join
    * runs); ids at or below it are legal only if tombstoned (the upsert
    * path: deleteVecs first, then re-insert). A LIVE id in a delta would
    * double its vertex and break the dominance argument, so it fails
    * loudly — the semi-join only runs on the reuse path and rides the same
    * stored-sigs read the delta performs anyway.
    */
  private def requireNotLive(e: DataFrame, oldSigs: DataFrame,
      meta: Meta): Unit = {
    val reused = e.select("vec_id").filter(col("vec_id") <= meta.maxVecId)
    if (!reused.isEmpty) {
      val clash = reused.join(oldSigs.select("vec_id"), Seq("vec_id"),
        "left_semi").limit(1).count()
      require(clash == 0,
        s"delta vec_ids must not be LIVE in the graph: ids at or below the " +
          s"stored max ${meta.maxVecId} are only legal after deleteVecs " +
          "tombstoned them (upsert = delete + re-insert)")
    }
  }

  /** Shard union with tombstones resolved: a row of shard e<i> is live
    * unless a tombstone for its id carries as_of > i. The no-tombstone
    * fast path is the original multi-path read, plan-identical.
    */
  private def liveShards(spark: SparkSession, st: String, sub: String,
      epoch: Int): DataFrame = {
    val paths = (0 to epoch).map(i => s"$st/$sub/e$i")
    tombsOf(spark, st, epoch) match {
      case None => spark.read.parquet(paths: _*)
      case Some(t) =>
        paths.zipWithIndex
          .map { case (p, i) =>
            spark.read.parquet(p).withColumn("__shard", lit(i)) }
          .reduce(_ unionByName _)
          .join(t, Seq("vec_id"), "left")
          .filter(col("as_of").isNull || col("__shard") >= col("as_of"))
          .drop("as_of", "__shard")
    }
  }

  /** (vec_id → latest as_of) over every committed tombstone epoch, or None
    * when the state has never seen a delete.
    */
  private def tombsOf(spark: SparkSession, st: String,
      epoch: Int): Option[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dirs = (1 to epoch).map(i => s"$st/tombs/e$i").filter { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).exists(hp)
    }
    if (dirs.isEmpty) None
    else Some(spark.read.parquet(dirs: _*)
      .groupBy("vec_id").agg(max("as_of").as("as_of")))
  }

  private def edgesPath(st: String, epoch: Int) = s"$st/edges/e$epoch"

  private def claimsPath(st: String, epoch: Int) = s"$st/eclaims/e$epoch"

  /** Shard-or-fold decision for an edge-changing verb. `meta` already
    * carries the NEW epoch; `claims` are the a_ids whose lists this
    * epoch rewrote (churn-bounded), `newLists` their full rebuilt lists.
    * Below the fold bound the shard is written as-is (rows written =
    * the churn); at the bound the change merges into a fresh full base
    * (`served` minus claimed ∪ rebuilt) and `edgesBase` advances —
    * amortized O(n·k) every [[EdgeFoldEvery]] epochs instead of every
    * epoch. Exactness either way: unclaimed lists cannot have changed
    * (delta: no new candidate edge names them; delete: no lost edge —
    * every b_id-dead edge lives under a victim or dead a_id).
    */
  private def edgeCommitPlan(served: DataFrame, claims: DataFrame,
      newLists: DataFrame, meta: Meta)
      : (DataFrame, Option[DataFrame], Meta) =
    if (meta.epoch - meta.edgesBase >= EdgeFoldEvery) {
      val full = served.join(broadcast(claims), Seq("a_id"), "left_anti")
        .select("a_id", "b_id", "cos_r")
        .unionByName(newLists.select("a_id", "b_id", "cos_r"))
      (full, None, meta.copy(edgesBase = meta.epoch))
    } else (newLists.select("a_id", "b_id", "cos_r"), Some(claims), meta)

  private def assignPath(st: String, epoch: Int) = s"$st/assign/e$epoch"

  private def centroidsPath(st: String) = s"$st/centroids"

  private def maxId(sigs: DataFrame): Long = {
    val r = sigs.agg(max("vec_id")).head
    if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
  }

  /** The commit-point marker, written by this class itself AFTER the meta
    * parquet lands — deliberately NOT parquet's `_SUCCESS`, which a common
    * production setting (mapreduce.fileoutputcommitter.marksuccessfuljobs
    * = false) disables; the protocol must not depend on a committer knob.
    */
  private val CommitMarker = "_graft_committed"

  /** Write this epoch's shard dirs, then flip the commit point (the
    * [[CommitMarker]] in the meta epoch dir, which is what [[currentEpoch]]
    * resolves). Every path is a FRESH directory — a crashed attempt is
    * retried by rewriting the same epoch dirs, never by appending in place.
    */
  private def commitEpoch(spark: SparkSession, sigShard: DataFrame,
      edges: DataFrame, meta: Meta, outDir: String,
      assignShard: Option[DataFrame] = None,
      tombShard: Option[DataFrame] = None,
      edgeClaims: Option[DataFrame] = None): Unit = {
    import spark.implicits._
    val st = stateDir(outDir)
    sigShard.write.mode("overwrite").parquet(s"$st/sigs/e${meta.epoch}")
    // IVF states also shard the (vec_id, cell) assignments per epoch: a
    // live slice every future delta's cross-join reads — like sigs, never
    // vacuumed
    assignShard.foreach(_.write.mode("overwrite")
      .parquet(assignPath(st, meta.epoch)))
    // delete epochs shard their dead ids (as_of = this epoch) — liveness
    // filter state for every future shard read; like sigs, never vacuumed
    tombShard.foreach(_.select("vec_id")
      .withColumn("as_of", lit(meta.epoch))
      .coalesce(1).write.mode("overwrite").parquet(s"$st/tombs/e${meta.epoch}"))
    // shard epochs land their claim list beside the changed lists — the
    // per-a_id liveness authority of the read-side merge
    edgeClaims.foreach(_.select("a_id")
      .coalesce(1).write.mode("overwrite").parquet(claimsPath(st, meta.epoch)))
    // a full BASE lands a_id-range-partitioned and a_id-sorted: parquet
    // row-group min/max stats then turn a bounded a_id read (the delta's
    // prevRows slice, the delete's claim scan, a point lookup) into a
    // pruned read instead of a full pass — the pack's src-sorted-file
    // discipline applied to the graph's own store (metered in
    // KnnGraphBuildSpec). Change SHARDS stay as-written: churn-sized, and
    // a range shuffle per delta would tax the hot maintenance path to
    // sort what a scan swallows in one gulp anyway.
    // the EXPLICIT partition count matters: a number-less range
    // repartition is AQE-coalesceable, and coalescing tiny fixtures into
    // one file would erase the very min/max boundaries the pruning needs
    // (a production deployment sizes shuffle.partitions to the cluster,
    // which sizes these files with it)
    val edgesOut =
      if (meta.epoch == meta.edgesBase)
        edges.repartitionByRange(
            spark.sessionState.conf.numShufflePartitions, col("a_id"))
          .sortWithinPartitions("a_id", "b_id")
      else edges
    edgesOut.write.mode("overwrite").parquet(edgesPath(st, meta.epoch))
    val metaPath = s"$st/meta/e${meta.epoch}"
    // driver-side single-row write (MetaIO): no Spark job per verb
    MetaIO.writeRow(spark, metaPath, "bits" -> meta.bits,
      "tables" -> meta.tables, "k" -> meta.k, "max_vec_id" -> meta.maxVecId,
      "epoch" -> meta.epoch, "method" -> meta.method,
      "nprobe" -> meta.nprobe, "edges_base" -> meta.edgesBase,
      "token" -> meta.token, "edge_count" -> meta.edgeCount,
      "vec_count" -> meta.vecCount)
    val marker = new org.apache.hadoop.fs.Path(metaPath, CommitMarker)
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(marker, true).close()
  }

  /** Highest epoch whose meta committed ([[CommitMarker]] present). */
  private def currentEpoch(spark: SparkSession, st: String): Int = {
    val metaDir = new org.apache.hadoop.fs.Path(s"$st/meta")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(metaDir), s"no graph state at $st — run build() first")
    val epochs = fs.listStatus(metaDir).map(_.getPath)
      .filter(p => p.getName.startsWith("e") &&
        fs.exists(new org.apache.hadoop.fs.Path(p, CommitMarker)))
      .map(_.getName.drop(1).toInt)
    require(epochs.nonEmpty, s"no committed epoch under $st/meta")
    epochs.max
  }

  private def readMeta(spark: SparkSession, st: String): Meta = {
    val e = currentEpoch(spark, st)
    // driver-side read (MetaIO): no Spark job on this every-verb hot path
    val r = MetaIO.readHead(spark, s"$st/meta/e$e")
    // states persisted before the IVF build existed carry no method/nprobe
    // columns — they are LSH by construction (the only build there was);
    // reading them must keep working, not demand a rebuild.
    // Likewise states persisted before the edge shards: they wrote the
    // full list EVERY epoch, so the committed epoch is its own base.
    // Pre-token states read 0 (lineage checks degrade to epoch order);
    // pre-tracking states read −1 (the next verb counts once).
    Meta(r.getInt("bits"), r.getInt("tables"), r.getInt("k"),
      r.getLong("max_vec_id"), e,
      if (r.has("method")) r.getString("method") else "lsh",
      if (r.has("method")) r.getInt("nprobe") else 0,
      if (r.has("edges_base")) r.getInt("edges_base") else e,
      if (r.has("token")) r.getLong("token") else 0L,
      if (r.has("edge_count")) r.getLong("edge_count") else -1L,
      if (r.has("vec_count")) r.getLong("vec_count") else -1L)
  }

  /** `runMain graft.queries.KnnGraphBuild [outDir]` over SPARK_GRAFT_SF_DIR;
    * prints one JSON summary line.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_knn").toString)
    val spark = graft.GraftSession.local(32)
    try {
      val n = build(spark,
        graft.Tables.embeddings(spark, sfDir).select("vec_id", "embedding"),
        outDir)
      println(s"""{"graph":"$outDir","directed_edges":$n}""")
    } finally spark.stop()
  }
}
