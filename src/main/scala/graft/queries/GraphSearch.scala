package graft.queries

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** GRAPH-TRAVERSAL ANN search — the HNSW/DiskANN-family serving path over
  * the engine's persisted k-NN graph ([[KnnGraphBuild]]): queries walk
  * the neighborhood structure instead of scanning cells. The honest cost
  * model has TWO terms, and they scale differently:
  *
  *   - per-query SCORINGS: beam × degree × iters — polylogarithmic in
  *     corpus size, because holding a recall floor requires beam and
  *     rounds to grow with the graph's diameter (~log n, the HNSW ef/hop
  *     rule; [[adaptiveWalkParams]] has the measured operating points);
  *   - per-round I/O: THIS frame-based form joins the frontier into the
  *     caller's in-memory adjacency and vector frames, and its one-shot
  *     setup (undirected closure + norms + count) is corpus-sized — fine
  *     for a single catalog query, WRONG for a serving deployment
  *     (BENCH_scale measured the per-call form near-linear, exponent
  *     0.86 at ×5). [[GraphServing]] is the index-regime fix: the
  *     closure/norms/seeds/params are PERSISTED once per graph epoch,
  *     and each round's reads prune to the frontier's hash buckets at
  *     planning time — the [[InvertedIndex]] posting-bucket discipline
  *     on the adjacency.
  *
  * This is the third search regime beside the brute broadcast scan
  * (q_sim_topk) and the IVF pruned scan (prunedTopK).
  *
  * The walk is the standard greedy beam search, batched across queries:
  * each round the current beam joins the adjacency on the vertex key in
  * one Spark job, the candidates get scored against their query, and
  * the driver keeps the top-`beam` survivors per query as the next
  * frontier. A (query, vertex) score is kept ONCE — the driver's scored
  * set is carried across rounds, never recomputed. Entry points default
  * to the `entrySeeds` lowest vec_ids (deterministic, but
  * GEOMETRY-FREE: on a clustered corpus where id order correlates with
  * content locality — at 100 TB the lowest ids are one ingest shard —
  * they can all land in one cluster, and a walk can only find vertices
  * connected to its seeds); pass [[centroidSeeds]] to
  * spread the entries by the quantizer's own geometry instead, one seed
  * per centroid (the kmeansCentroids seeding lesson applied to serving).
  * The graph is made UNDIRECTED for navigability
  * (k-NN edges alone are poorly navigable out-of-neighborhood; the
  * reverse edges are the cheap half of HNSW's bidirectional linking).
  *
  * Determinism: ranking keys are (round(cos, 6) desc, vec_id) at every
  * stage, so the walk — and therefore the result — is reproducible
  * across runs and partitionings. Approximate by construction (the walk
  * can only find vertices connected to the seeds); recall floors are
  * measured and asserted in GraphSearchSpec, the rows-only contract of
  * the other ANN sketches.
  */
object GraphSearch {

  /** Walk parameters that HOLD a recall floor as the corpus grows —
    * fixed (beam, rounds) do not: the walk must cross the graph's
    * diameter (~log n) and carry enough frontier width to survive the
    * per-round truncation. Measured on the ×2 ScaleProbe corpus (LSH
    * graph, its own edge recall ≈ 0.95 the ceiling): at n = 4,000 the
    * old fixed (32, 4) held only 0.609 recall@5 where (64, 6) holds
    * 0.945 ≈ the ceiling; at n = 500 (32, 4) held 0.990. Both points pin
    * the O(log n) rule below — per-query scoring work stays
    * polylogarithmic, the honest price of a constant recall target
    * (exactly LSH's n^ρ lesson, but logarithmic). The rule DELIBERATELY
    * overshoots at small n — at n = 500 it returns (40, 5) where the
    * measured (32, 4) already sufficed: the fitted line passes through
    * the ×2 failure point, and below ~n = 2,000 the extra ~25 % scoring
    * work is the safe direction (recall can only gain), so the floors
    * are not tuned down to graze the small-n measurement.
    */
  def adaptiveWalkParams(n: Long): (Int, Int) = {
    if (n <= 1) (32, 4)
    else {
      val lg = math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt
      (math.max(32, 8 * lg - 32), math.max(4, math.ceil(lg / 2.0).toInt))
    }
  }

  /** Beam-search top-`k` over a RANKED adjacency frame (the
    * (q_id, rnk, vec_id, cos) shape of [[KnnGraphBuild.readGraph]] /
    * the q_sim_knn_graph pipeline). `embeddings` supplies the vectors to
    * score; `queries` is (q_id, q_emb), broadcast-contract small.
    * `seeds` (optional, a vec_id frame — [[centroidSeeds]] is the
    * principled choice) overrides the id-ordered default entry points.
    * `beam`/`iters` default to -1 = [[adaptiveWalkParams]] at the
    * corpus's count (one bounded count job against the pinned frame);
    * pass explicit values to pin a cost envelope instead.
    */
  def beamTopK(spark: SparkSession, rankedGraph: DataFrame,
      embeddings: DataFrame, queries: DataFrame, k: Int,
      beam: Int = -1, iters: Int = -1, entrySeeds: Int = 16,
      seeds: DataFrame = null): DataFrame = {
    val adj = rankedGraph
      .select(col("q_id").as("src"), col("vec_id").as("dst"))
      .unionByName(rankedGraph
        .select(col("vec_id").as("src"), col("q_id").as("dst")))
      .distinct().localCheckpoint() // consumed every round
    val e = VectorQueries.nrmFrame(embeddings.select("vec_id", "embedding"))
      .localCheckpoint()
    val (beamN, itersN) =
      if (beam > 0 && iters >= 0) (beam, iters)
      else {
        val (ab, ai) = adaptiveWalkParams(e.count())
        (if (beam > 0) beam else ab, if (iters >= 0) iters else ai)
      }
    val q = broadcast(queries
      .select(col("q_id"), col("q_emb"), l2Norm(col("q_emb")).as("q_n")))
    // the candidate frame is QUERY-BOUNDED by construction (≤ queries ×
    // beam × degree rows/round), so it broadcasts into the corpus-sized
    // vector join — the corpus streams map-side, never shuffles
    def score(cand: DataFrame): DataFrame = // (q_id, vec_id) → + cos_r
      broadcast(cand).join(e, "vec_id").join(q, "q_id")
        .withColumn("cos_r", round(cosineWithNorms(
          col("q_emb"), col("embedding"), col("q_n"), col("nrm")), 6))
        .select("q_id", "vec_id", "cos_r")
    // all queries start at the same deterministic seed set
    val seedFrame =
      if (seeds != null) seeds.select("vec_id")
      else e.orderBy("vec_id").limit(entrySeeds).select("vec_id")
    def neighbors(frontier: Seq[(Long, Long)]): DataFrame = {
      import spark.implicits._
      // the beam-bounded driver frontier broadcasts into the adjacency
      // scan; repeated candidates dedup on the driver (see walk)
      broadcast(frontier.toDF("q_id", "src")).join(adj, "src")
        .select(col("q_id"), col("dst").as("vec_id"))
    }
    walk(score(q.select("q_id").crossJoin(seedFrame)),
      neighbors, score, beamN, itersN, k)
  }

  /** The beam-walk round structure, shared by the frame-based
    * [[beamTopK]] and the index-regime [[GraphServing.Handle.topK]] — one
    * copy of the frontier/dedup/truncation logic, so the two serving
    * forms cannot drift. `seedScored` is the round-0 (q_id, vec_id,
    * cos_r) frame; `neighbors` expands the frontier's (q_id, vec_id)
    * rows to their out-edge candidates; `score` scores a candidate frame
    * to (q_id, vec_id, cos_r).
    *
    * The walk state lives on the DRIVER, like the in-memory candidate
    * list of a DiskANN searcher (Subramanya et al., NeurIPS 2019): it is
    * queries × beam × degree × rounds-bounded. The scored map q_id →
    * (vec_id → cos_r) is the dedup authority: a pair collected again in
    * a later round is dropped, and duplicates within one round (one per
    * frontier vertex naming the candidate, or a q_id carried twice in
    * the batch) keep the max cos_r. Each round's frontier (the beam) is
    * the top `beamN` of a query's scored map under [[rankOrder]]. Only
    * the adjacency read and the scoring run in Spark: one collected job
    * per round.
    *
    * `resultFilter` (the filtered-walk hook, [[GraphServing.Handle]]'s
    * allowlist form) restricts RESULT SELECTION only: it receives the
    * full scored set as a local relation, so a sparse predicate still
    * fills k from everything the walk scored — while EXPANSION stays
    * unfiltered (filtered-out vertices remain navigable connectivity;
    * filtering them out of the walk itself craters recall,
    * filtered-DiskANN's lesson). `None` ranks the final beam.
    *
    * The result is a local relation in (q_id, rnk) order, self-matches
    * excluded, with `cos` = [[graft.Canon.r4]] applied as a Column — bit
    * for bit what a Spark-side ranking of the same scores reports.
    */
  private[queries] def walk(seedScored: DataFrame,
      neighbors: Seq[(Long, Long)] => DataFrame,
      score: DataFrame => DataFrame, beamN: Int, itersN: Int, k: Int,
      resultFilter: Option[DataFrame => DataFrame] = None): DataFrame = {
    val spark = seedScored.sparkSession
    import spark.implicits._
    type Scores = mutable.HashMap[Long, java.lang.Double] // vec_id → cos_r
    val scored = mutable.HashMap.empty[Long, Scores]
    def absorb(round: DataFrame): Unit = {
      val fresh = round.select("q_id", "vec_id", "cos_r")
        .as[(Long, Long, java.lang.Double)].collect()
        .filterNot { case (q, v, _) => scored.get(q).exists(_.contains(v)) }
      fresh.foreach { case (q, v, c) =>
        val m = scored.getOrElseUpdate(q, new Scores)
        if (m.get(v).forall(o => rankOrder.gt((v, o), (v, c)))) m(v) = c
      }
    }
    def beam(m: Scores): Seq[Scored] = m.toSeq.sorted(rankOrder).take(beamN)
    absorb(seedScored)
    for (_ <- 1 to itersN)
      absorb(score(neighbors(scored.toSeq.sortBy(_._1)
        .flatMap { case (q, m) => beam(m).map(c => (q, c._1)) })))
    val pool: Iterable[(Long, Seq[Scored])] = resultFilter match {
      case None => scored.map { case (q, m) => q -> beam(m) }
      case Some(f) => // full scored set ∩ predicate: the k results must
        // come from everything scored, not the k-bounded beam, or a sparse
        // allowlist silently under-fills k
        f(scored.toSeq.flatMap { case (q, m) => m.map(p => (q, p._1, p._2)) }
            .toDF("q_id", "vec_id", "cos_r"))
          .select("q_id", "vec_id", "cos_r")
          .as[(Long, Long, java.lang.Double)].collect().toSeq
          .groupMap(_._1)(r => (r._2, r._3))
          .map { case (q, cs) => q -> cs.sorted(rankOrder) }
    }
    pool.toSeq.sortBy(_._1)
      .flatMap { case (q, cands) =>
        cands.filter(_._1 != q).take(k).zipWithIndex
          .map { case ((v, c), i) => (q, i + 1, v, c) }
      }
      .toDF("q_id", "rnk", "vec_id", "cos_r")
      .select(col("q_id"), col("rnk"), col("vec_id"),
        graft.Canon.r4(col("cos_r")).as("cos"))
  }

  /** A scored candidate on the driver: (vec_id, cos_r), SQL null as null. */
  private type Scored = (Long, java.lang.Double)

  /** The Spark window keys `(cos_r desc, vec_id asc)` on the driver: NaN
    * above every number and -0.0 = 0.0 (`SQLOrderingUtil.compareDoubles`,
    * Spark's own double ordering), nulls last, then vec_id ascending.
    */
  private val rankOrder: Ordering[Scored] = (a, b) => {
    val byCos = (a._2, b._2) match {
      case (null, null) => 0
      case (null, _) => 1
      case (_, null) => -1
      case (x, y) => SQLOrderingUtil.compareDoubles(y, x)
    }
    if (byCos != 0) byCos else java.lang.Long.compare(a._1, b._1)
  }

  /** The persisted-graph form: search [[KnnGraphBuild]] state on disk —
    * the serving call of the IndexSync-maintained graph.
    */
  def beamTopK(spark: SparkSession, graphDir: String,
      embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame =
    beamTopK(spark, KnnGraphBuild.readGraph(spark, graphDir),
      embeddings, queries, k)

  /** Centroid-spread entry seeds: the nearest live vector to each
    * quantizer centroid — one bounded assign pass (the broadcast-centroid
    * [[VectorQueries.ivfAssign]]) plus a |centroids|-group argmax, so the
    * cost class is the quantizer's own. On a clustered corpus id-ordered
    * seeds can all land in one cluster and strand the walk there (a walk
    * only reaches vertices CONNECTED to its seeds); centroids sit one per
    * discovered cluster by construction, so every cluster gets an entry
    * point. Deterministic: ties break on (round-6 sim desc, vec_id asc).
    * Pass the PERSISTED quantizer ([[IndexedLayout.readCentroids]]) when
    * a layout exists — the seeds are then pinned index state, free at
    * serving time.
    */
  def centroidSeeds(spark: SparkSession, centroids: DataFrame,
      embeddings: DataFrame): DataFrame = {
    val sigs = VectorQueries.nrmFrame(embeddings.select("vec_id", "embedding"))
    centroidWinners(sigs, centroids).select("vec_id")
  }

  /** Per-cell winner (vec_id, cell) under pinned centroids — the ONE copy
    * of the seed-selection keys (nprobe-1 assignment; round-6 sim desc,
    * vec_id asc), shared by [[centroidSeeds]] and
    * [[GraphServing.seedRows]] so the incremental seed maintenance and
    * the full recompute cannot drift.
    */
  private[queries] def centroidWinners(cands: DataFrame,
      centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy("cell")
      .orderBy(round(col("sim"), 6).desc, col("vec_id").asc)
    VectorQueries.ivfAssign(cands, centroids, nprobe = 1)
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1).select("vec_id", "cell")
  }

  /** Train-and-spread convenience when no quantizer is persisted: kmeans
    * at `nSeeds` cells over the (budget-capped) training sample, then one
    * seed per centroid.
    */
  def centroidSeeds(spark: SparkSession, embeddings: DataFrame,
      nSeeds: Int): DataFrame = {
    import graft.functions.VectorIndex
    val sigs = VectorQueries.nrmFrame(embeddings.select("vec_id", "embedding"))
      .localCheckpoint()
    val cents = VectorIndex.kmeansCentroids(spark,
      VectorQueries.trainFrame(sigs, sigs.count(), nSeeds), nSeeds, iters = 2)
    centroidSeeds(spark, cents, sigs)
  }

  /** One shortlist candidate row for the MMR re-rank. */
  final case class MmrCand(q_id: Long, vec_id: Long, cos_r: Double,
      embedding: Seq[Float])

  /** MAXIMAL MARGINAL RELEVANCE re-rank (Carbonell & Goldstein, SIGIR'98):
    * from a per-query shortlist, greedily select `k` results maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) — relevance traded
    * against redundancy, the diversity re-rank a production retrieval
    * stack runs after ANN. The shortlist arrives as (q_id, vec_id,
    * cos_r, embedding) rows, `shortK`-bounded per query by contract.
    *
    * The greedy argmax with set-valued state is run per query group in a
    * typed flatMapGroups — the documented last-rung case: ≤ shortK rows
    * per group, an inherently ITERATIVE selection no relational operator
    * expresses, executed on executors with one shuffle on q_id (group
    * count = queries, never corpus-scale). All similarities round to 6
    * before comparison and ties break on vec_id, so the selection is
    * deterministic — MmrSpec pins it against an independent plain-Scala
    * recompute, exactly.
    */
  def mmrRerank(spark: SparkSession, shortlist: DataFrame, k: Int,
      lambda: Double = 0.7): DataFrame = {
    import spark.implicits._
    shortlist.as[MmrCand].groupByKey(_.q_id)
      .flatMapGroups { (q, it) =>
        val cands = it.toArray.sortBy(c => (-c.cos_r, c.vec_id))
        mmrSelect(cands, k, lambda).zipWithIndex.map { case ((c, s), i) =>
          (q, i + 1, c.vec_id, math.rint(s * 10000.0) / 10000.0)
        }
      }
      .toDF("q_id", "rnk", "vec_id", "mmr")
      .orderBy("q_id", "rnk")
  }

  /** MMR over the PHYSICAL index: the shortlist comes from
    * [[IndexedLayout.prunedTopK]] (planning-time cell pruning) instead of
    * the brute broadcast scan, so the diversity re-rank demonstrably
    * rides the layout — at 100 TB the shortlist read touches nprobe cells
    * and the greedy selection's input stays shortK-bounded per query
    * exactly as in the brute form. Embeddings for the redundancy term
    * join back from the layout's own live corpus (vec_id-keyed,
    * shortlist-sized left side). With nprobe = all cells the shortlist is
    * exact and the result equals the brute-shortlist MMR row for row
    * (MmrSpec's parity case).
    */
  def mmrOverPruned(spark: SparkSession, layoutDir: String,
      queries: DataFrame, k: Int, shortK: Int, nprobe: Int,
      lambda: Double = 0.7): DataFrame = {
    val short = IndexedLayout.prunedTopK(spark, layoutDir, queries,
      shortK, nprobe)
    val emb = IndexedLayout.readCorpus(spark, layoutDir)
      .select("vec_id", "embedding")
    val shortlist = short.join(emb, "vec_id")
      .select(col("q_id"), col("vec_id"), col("cos").as("cos_r"),
        col("embedding"))
    mmrRerank(spark, shortlist, k, lambda)
  }

  /** MMR over the GRAPH-WALK regime: the shortlist comes from a warm
    * [[GraphServing.Handle]] (pruned pack reads at the pinned operating
    * point) instead of the brute scan or the IVF layout — the diversity
    * re-rank composed onto the third serving regime, completing the
    * re-rank × regimes matrix ([[mmrOverPruned]] is the IVF twin). The
    * walk returns scored ids only (the pack collocates NEIGHBOR vectors
    * on edges, deliberately not a per-id vector store), so the
    * redundancy term's embeddings join back from the caller's corpus —
    * shortK-bounded left side broadcast, the corpus streams map-side,
    * exactly the q_sim_mmr join-back discipline.
    */
  def mmrOverWalk(spark: SparkSession, handle: GraphServing.Handle,
      embeddings: DataFrame, queries: DataFrame, k: Int, shortK: Int,
      lambda: Double = 0.7): DataFrame = {
    val short = handle.topK(queries, shortK)
    val shortlist = broadcast(
        short.select(col("q_id"), col("vec_id"), col("cos").as("cos_r")))
      .join(embeddings.select("vec_id", "embedding"), "vec_id")
      .select("q_id", "vec_id", "cos_r", "embedding")
    mmrRerank(spark, shortlist, k, lambda)
  }

  /** The greedy selection itself — shared verbatim with MmrSpec's
    * independent recompute so the spec checks the DISTRIBUTED plumbing
    * against the algorithm, and the algorithm against hand-computable
    * cases.
    */
  private[queries] def mmrSelect(cands: Array[MmrCand], k: Int,
      lambda: Double): Seq[(MmrCand, Double)] = {
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var (dot, na, nb) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < a.length) {
        val (x, y) = (a(i).toDouble, b(i).toDouble)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      val c = if (den == 0.0) 0.0 else dot / den
      math.rint(c * 1e6) / 1e6 // the catalog's round-6 determinism rule
    }
    val selected = scala.collection.mutable.ArrayBuffer[(MmrCand, Double)]()
    val remaining = scala.collection.mutable.ArrayBuffer(cands.toIndexedSeq: _*)
    while (selected.size < k && remaining.nonEmpty) {
      val scored = remaining.map { c =>
        val redundancy =
          if (selected.isEmpty) 0.0
          else selected.map(s => cos(c.embedding, s._1.embedding)).max
        val s = math.rint((lambda * c.cos_r -
          (1.0 - lambda) * redundancy) * 1e6) / 1e6
        (c, s)
      }
      val best = scored.minBy { case (c, s) => (-s, c.vec_id) }
      selected += best
      remaining -= best._1
    }
    selected.toSeq
  }
}
