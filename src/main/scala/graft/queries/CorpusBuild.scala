package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The runnable corpus build — the training-data twin of the sync side's
  * `GraftSync`: compose the catalog's operators into one end-to-end job
  * that takes a raw document table and writes the training corpus.
  *
  *   1. near-dup removal: banded MinHash pairs → large-star/small-star
  *      components → every non-keeper dropped (q_dedup_minhash_pairs +
  *      q_dedup_clusters semantics);
  *   2. deterministic split: the md5 80/10/10 assignment
  *      (q_sample_stratified) — reproducible on any cluster;
  *   3. sequence packing: 512-token budget chunk ids per (lang, split)
  *      stream (q_pack_chunks semantics, keyed by the output partition);
  *   4. layout: Hive-partitioned parquet by (lang, split) so a training
  *      reader's `lang=en/split=train` scan is partition-pruned I/O.
  *
  * Every stage is the already-oracle-checked operator — this class only
  * composes them; CorpusBuildSpec ties the written output back to the
  * q_corpus_final manifest counts.
  *
  * == Incremental (delta) mode ==
  *
  * The reference's resync (A19) re-lists *everything*; a real corpus
  * pipeline re-runs on append-only deltas. Each build persists its working
  * state under `outDir/_graft_state/`: the MinHash signatures of EVERY doc
  * seen (`sigs` — kept AND dropped: a delta doc whose nearest duplicate was
  * itself dropped must still join that doc's component, or near-dups of
  * dropped docs would leak in), the per-(lang, split) token totals
  * (`totals`), and the max doc_id seen (`meta`). [[runDelta]] then takes
  * ONLY the new documents: they are deduped against the stored signatures
  * (plus each other) without touching the existing corpus text, chunk ids
  * continue from the stored totals (the blocked prefix sum is a natural
  * continuation — new rows' `tokens_before` = stored total + prefix among
  * the delta), and only the new rows are appended to the partitioned
  * layout.
  *
  * Delta contract (append-only): new doc_ids must sort after every id the
  * build has seen (validated against `meta`, loudly), and previously-kept
  * docs are never evicted. Under that contract delta output ≡ a full
  * rebuild on base ∪ delta (CorpusBuildSpec proves it on the real corpus),
  * with one documented divergence: a new doc near-dup-similar to TWO
  * previously-distinct kept docs merges their clusters in a full rebuild
  * (evicting one) but evicts neither here — the append-only reading, which
  * is also the one a served training corpus wants (published data does not
  * retroactively vanish because a later near-duplicate bridged two
  * clusters).
  *
  * Delivery: the delta's writes (meta → corpus append → totals → sigs
  * append) are not one atomic transaction; the high-water mark is written
  * FIRST so a crash mid-delta fails CLOSED — re-running the same delta is
  * rejected by the append-only guard (inspect and rebuild) instead of
  * silently double-appending rows whose first append did land. And because
  * a LATER delta with higher ids would sail past that guard against state
  * missing the crashed batch, meta also records the signature-row count
  * the state must hold (`n_sigs`), verified by every delta before trusting
  * the stored frames — with the gated sigs append deliberately LAST, so a
  * complete sigs frame certifies every earlier write (corpus, totals)
  * completed too: partial state is loud no matter which delta comes next.
  */
object CorpusBuild {

  private def stateDir(outDir: String) = s"$outDir/_graft_state"

  /** Run the full build; returns per-(lang, split) kept-document counts. */
  def run(spark: SparkSession, sfDir: String, outDir: String): Map[(String, String), Long] =
    build(spark, Tables.documents(spark, sfDir), outDir)

  /** Full build over an arbitrary document frame (doc_id, lang, text, ...). */
  def build(spark: SparkSession, docs: DataFrame, outDir: String): Map[(String, String), Long] = {
    // signatures materialized once: they feed the pair self-join AND the
    // persisted dedup state (the frame the next delta joins against)
    val sigs = TextQueries.minhashSigs(docs).localCheckpoint()
    val edges = TextQueries.sigPairs(sigs, sigs, self = true).select("a_id", "b_id")
    writeKept(spark, docs, sigs, edges, outDir,
      baseTotals = Map.empty, baseMaxId = None, baseNSigs = 0L)
  }

  /** Incremental build: dedup `newDocs` against the stored kept signatures
    * (and each other), continue chunk ids from the stored totals, append
    * only the new rows. Output ≡ full rebuild on base ∪ delta under the
    * append-only contract (class scaladoc).
    */
  def runDelta(spark: SparkSession, newDocs: DataFrame, outDir: String): Map[(String, String), Long] = {
    val st = stateDir(outDir)
    val (baseTotals, baseMaxId, baseNSigs) = readState(spark, st)
    val minRow = newDocs.agg(min("doc_id")).head
    if (minRow.isNullAt(0)) return readCounts(spark, outDir) // empty delta: no-op
    val minNew = minRow.getLong(0)
    require(minNew > baseMaxId,
      s"delta doc_ids must sort after every id the build has seen " +
        s"(append-only contract): new min $minNew <= stored max $baseMaxId")
    val seenSigs = spark.read.parquet(s"$st/sigs")
    // state-integrity gate: the mark-first delivery rejects a RETRY of a
    // crashed delta, but a LATER delta with higher ids would sail past the
    // high-water guard against state silently missing the crashed batch's
    // rows — so meta records how many signature rows must exist, and every
    // delta proves the stored frame matches before trusting it
    val actualSigs = seenSigs.count()
    require(actualSigs == baseNSigs,
      s"state integrity: stored signature count $actualSigs != expected " +
        s"$baseNSigs — a previous delta crashed mid-write; rebuild from " +
        s"scratch (full build) before applying further deltas")
    val sigs = TextQueries.minhashSigs(newDocs).localCheckpoint()
    // new-vs-new self pairs ∪ new-vs-seen cross pairs: the stored side
    // anchors components at its (smaller) ids, so any new doc joining a
    // previously-seen doc's component — kept OR dropped — is a non-keeper,
    // exactly the full-rebuild outcome
    val edges = TextQueries.sigPairs(sigs, sigs, self = true).select("a_id", "b_id")
      .union(TextQueries.sigPairs(sigs, seenSigs, self = false).select("a_id", "b_id"))
    writeKept(spark, newDocs, sigs, edges, outDir,
      baseTotals = baseTotals, baseMaxId = Some(baseMaxId),
      baseNSigs = baseNSigs)
  }

  /** Shared tail of both modes: drop non-keepers, split, chunk (continuing
    * from `baseTotals`), write the layout + the state a future delta needs.
    * `baseMaxId = None` ⇒ full build (overwrite); Some ⇒ delta (append).
    */
  private def writeKept(
      spark: SparkSession, docs: DataFrame, sigs: DataFrame, edges: DataFrame,
      outDir: String, baseTotals: Map[(String, String), Long],
      baseMaxId: Option[Long], baseNSigs: Long): Map[(String, String), Long] = {
    val append = baseMaxId.isDefined
    val mode = if (append) "append" else "overwrite"
    val drops = CorpusQueries.connectedComponents(edges)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    // no broadcast hint: the drop set scales with the corpus's duplicate
    // mass, not with cluster count — let the planner (AQE) pick shuffle vs
    // broadcast from its actual size. Chunk ids come from the two-phase
    // blocked prefix sum (CorpusQueries.withTokensBefore) keyed by the
    // output partition — never one window task per (lang, split). The
    // helper localCheckpoints its input, so it gets only the NARROW
    // (doc_id, lang, split, n_tokens) projection — materializing the full
    // text column a second time would roughly double the job's I/O at the
    // design scale — and the chunk ids join back on doc_id.
    val enriched = docs
      .join(drops, Seq("doc_id"), "left_anti")
      .withColumn("split", CorpusQueries.splitCol)
      .withColumn("n_tokens", size(tokens(col("text"))))
    val wtb = CorpusQueries.withTokensBefore(
      enriched.select("doc_id", "lang", "split", "n_tokens"),
      Seq("lang", "split"))
    // chunk-id continuation: tokens_before among the delta + the stored
    // per-(lang, split) total — for a full build the offset map is empty.
    // The offset table is partitions-sized (langs × 3), a plan literal.
    val offsetCol = baseTotals.foldLeft(lit(0L)) { case (acc, ((l, sp), t)) =>
      when(col("lang") === l && col("split") === sp, lit(t)).otherwise(acc)
    }
    val chunked = wtb
      .withColumn("tokens_before", col("tokens_before") + offsetCol)
      .withColumn("chunk_id", floor(col("tokens_before") / 512.0))
      .localCheckpoint()
    // the helper's checkpoint already holds (doc_id, split, n_tokens), so
    // the write joins RAW docs against it — re-joining `enriched` would
    // re-run the anti-join and re-tokenize the whole corpus a second
    // time; chunked's doc_id set IS the kept set, so the inner join also
    // re-applies the drop filter for free
    // In a DELTA the high-water mark goes FIRST (class scaladoc delivery
    // note): a crash between here and the last write leaves a mark that
    // makes a retry of the same delta fail the append-only guard — loud and
    // safe — instead of double-appending the rows that did land. A FULL
    // build cannot do that: its corpus overwrite clears outDir wholesale,
    // _graft_state included, so there the state follows the corpus write.
    // Covers ALL docs seen (kept or dropped): a dropped id must not be
    // accepted again.
    val st = stateDir(outDir)
    val maxRow = docs.agg(max("doc_id")).head
    val maxId = math.max(
      if (maxRow.isNullAt(0)) Long.MinValue else maxRow.getLong(0),
      baseMaxId.getOrElse(Long.MinValue))
    import spark.implicits._
    // n_sigs: the cumulative signature-row count the state MUST hold after
    // this batch lands — the integrity expectation runDelta verifies (sigs
    // is checkpointed, so the count is a cache scan)
    val nSigs = baseNSigs + sigs.count()
    def writeMeta(): Unit = MetaIO.writeRow(spark, s"$st/meta",
      "max_doc_id" -> maxId, "n_sigs" -> nSigs)
    if (append) writeMeta()

    val kept = docs.join(
      chunked.select("doc_id", "split", "n_tokens", "chunk_id"), "doc_id")
    kept.write.mode(mode).partitionBy("lang", "split").parquet(outDir)
    if (!append) writeMeta()

    // ---- persist the rest of the state the next delta needs --------------
    // totals FIRST, signatures LAST: the n_sigs gate verifies only the sigs
    // frame, so the gated write must be the final one — sigs complete
    // implies every earlier write (corpus, totals) completed too, and a
    // crash anywhere before it leaves a sigs count short of meta's
    // expectation, which the next delta rejects loudly
    val deltaTotals = chunked.groupBy("lang", "split")
      .agg(sum("n_tokens").as("t")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val totals = (baseTotals.keySet ++ deltaTotals.keySet).map { k =>
      k -> (baseTotals.getOrElse(k, 0L) + deltaTotals.getOrElse(k, 0L))
    }.toSeq
    totals.map { case ((l, sp), t) => (l, sp, t) }
      .toDF("lang", "split", "total_tokens")
      .coalesce(1).write.mode("overwrite").parquet(s"$st/totals")
    // ALL of this batch's signatures, dropped docs included (class scaladoc:
    // a later near-dup of a dropped doc must still find its component)
    sigs.write.mode(mode).parquet(s"$st/sigs")
    readCounts(spark, outDir)
  }

  /** Per-(lang, split) row counts by re-READING the written layout (proving
    * the write, not the plan); an all-empty corpus writes no partition
    * directories, which parquet cannot infer a schema from — that IS the
    * empty manifest.
    */
  private def readCounts(spark: SparkSession, outDir: String): Map[(String, String), Long] =
    try
      spark.read.parquet(outDir)
        .groupBy("lang", "split").agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") =>
        Map.empty
    }

  /** (per-(lang, split) totals, max doc_id, expected signature rows) from a
    * previous build's state.
    */
  private def readState(spark: SparkSession, st: String): (Map[(String, String), Long], Long, Long) = {
    val totals = spark.read.parquet(s"$st/totals").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val meta = MetaIO.readHead(spark, s"$st/meta")
    require(meta.has("n_sigs"),
      s"state at $st was written by an older build (meta lacks n_sigs) — " +
        "re-run a full build before applying deltas")
    (totals, meta.getLong("max_doc_id"), meta.getLong("n_sigs"))
  }

  /** `runMain graft.queries.CorpusBuild [outDir]` over SPARK_GRAFT_SF_DIR;
    * prints one JSON summary line.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_corpus").toString)
    val spark = graft.GraftSession.local(32)
    try {
      val counts = run(spark, sfDir, outDir)
      val parts = counts.toSeq.sortBy(_._1)
        .map { case ((l, s), n) => s""""$l/$s":$n""" }.mkString("{", ",", "}")
      println(s"""{"corpus":"$outDir","kept":${counts.values.sum},"partitions":$parts}""")
    } finally spark.stop()
  }
}
