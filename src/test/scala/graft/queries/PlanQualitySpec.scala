package graft.queries

import graft.SparkSpec

/** Plan-shape regression guard: the properties that make these queries
  * scale — filters reaching the parquet scan, column pruning, dims
  * broadcast, top-k as TakeOrderedAndProject — asserted on the executed
  * plan so a refactor can't silently trade them away.
  */
class PlanQualitySpec extends SparkSpec {

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf001)
      .queryExecution.executedPlan.toString

  test("q_filter_complex pushes predicates into the parquet scan") {
    val p = plan("q_filter_complex")
    assert(p.contains("PushedFilters: ["), p)
    // at least one real pushed predicate, not an empty list
    assert(!p.contains("PushedFilters: []"), p)
  }

  test("q_proj_net prunes the lineitem scan to the projected columns") {
    val p = plan("q_proj_net")
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    // the 16-column table must not be read wholesale
    assert(read.nonEmpty, p)
    assert(!read.contains("l_comment"), read)
    assert(!read.contains("l_shipmode"), read)
  }

  test("q_join_star broadcasts the dimension tables") {
    val p = plan("q_join_star")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q_sort_topk plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q_sort_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_join_merge keeps the large-large join on the merge path") {
    val p = plan("q_join_merge")
    assert(p.contains("SortMergeJoin"), p)
  }

  test("q_sim_topk broadcasts the query side (one corpus pass)") {
    val p = plan("q_sim_topk")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_agg_pricing aggregates partial then final (map-side combine)") {
    val p = plan("q_agg_pricing")
    assert(p.contains("partial_"), p) // HashAggregate(..., functions=[partial_sum...])
  }

  test("the banded pair queries never plan a cartesian product") {
    // the whole point of banding: bucket-bounded equi-joins, not corpus²
    for (q <- Seq("q_dedup_simhash_pairs", "q_dedup_minhash_pairs")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("q_sim_topk_pq joins the compressed corpus against broadcast artifacts") {
    val p = plan("q_sim_topk_pq")
    assert(p.contains("BroadcastHashJoin"), p) // LUT + codebooks broadcast
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dedup_jaccard computes its prefix with the kernel, not a window") {
    val p = plan("q_dedup_jaccard")
    // the TokenPrefix kernel replaced the explode → df-join → double-window
    // prefix stage: the plan must carry the kernel and ZERO window operators
    // (the old form shuffled + sorted the whole token stream per doc)
    assert(p.contains("token_prefix"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("q_win_gaps and q_scd2 reuse one user_id exchange for all their windows") {
    // both windows + the rollup partition on user_id — a second Exchange
    // would mean the shared-partitioning claim silently broke
    for (q <- Seq("q_win_gaps", "q_scd2")) {
      val p = plan(q)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 1, s"$q has $exchanges hash exchanges:\n$p")
    }
  }

  test("q_agg_unpivot melts through Expand, not a join or union of scans") {
    val p = plan("q_agg_unpivot")
    assert(p.contains("Expand"), p)
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"reads $scans scans:\n$p")
  }

  test("q_events_funnel never windows the raw stream") {
    // funnel = keyed pre-aggregations + joins; a Window over raw events
    // would sort every user's full history instead of aggregating it
    val p = plan("q_events_funnel")
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_min") || p.contains("partial_"), p)
  }

  test("q_sim_knn_class broadcasts the query side; the vote never reshuffles the corpus") {
    val p = plan("q_sim_knn_class")
    // same one-pass shape as q_sim_topk: queries ride a broadcast...
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    // ...and no cartesian product sneaks in via the vote aggregation
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_events_retention pre-aggregates both sides on user_id, no raw-events join") {
    val p = plan("q_events_retention")
    // both join inputs are aggregates (cohort min, distinct weeks) — the
    // events-scale rows never meet the join un-reduced
    assert(p.contains("partial_min") || p.contains("partial_first"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_events_resample reduces events before the grid join; no cartesian") {
    val p = plan("q_events_resample")
    // the grid side explodes from a per-user 2-column span — both join
    // inputs are user_id-keyed aggregates of the single events scan, so
    // event-volume rows never cross a second shuffle un-reduced
    assert(p.contains("Generate explode"), p)
    assert(p.contains("partial_max_by") || p.contains("partial_min"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_sample_temperature broadcasts the quota table; no cartesian") {
    val p = plan("q_sample_temperature")
    // the |langs|-row quota frame rides a broadcast onto the ranked docs —
    // the data-scale side shuffles once (the per-lang rank), never for the
    // quota join
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_hybrid_rrf joins postings through an inverted index; no cartesian") {
    val p = plan("q_hybrid_rrf")
    // the query-token and vector-query sides ride broadcasts; candidates
    // come from the token equi-join, never an all-pairs product
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_rank_bm25 rides the inverted-index equi-join; stats broadcast; no cartesian") {
    val p = plan("q_rank_bm25")
    // candidates come from the token equi-join (the posting list), the
    // 1-row corpus stats ride a broadcast, and nothing plans all-pairs
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_sim_topk_diverse broadcasts the query side; the global rank runs on capped survivors") {
    val p = plan("q_sim_topk_diverse")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the (q, facet) cap must run before the global rank. Its physical
    // form depends on which rules are active in the shared session: as
    // the frnk row_number window, or — when TopKRewrite is registered —
    // rewritten into the custom TopKPerKey operator (the rank-dropped
    // idiom; the upgrade is exactly what the rule is for)
    assert(p.contains("frnk") || p.contains("TopKPerKey"), p)
    assert(p.contains("rnk#"), p)
  }

  test("q_sim_topk_sq scores in the compressed domain; full floats only after the shortlist") {
    val p = plan("q_sim_topk_sq")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the shortlist cap must exist — as the srnk row_number window, or
    // rewritten into TopKPerKey when the TopKRewrite rule is active in
    // the shared session (the rank-dropped idiom); either way the exact
    // cosine projection sits ABOVE the cap, touching only survivors
    assert(p.contains("srnk") || p.contains("TopKPerKey"), p)
  }

  test("q_events_anomaly joins hourly aggregates, never raw events; stats broadcast") {
    val p = plan("q_events_anomaly")
    // both sides of the stats join are aggregates of the single events
    // scan — raw event rows reduce before any join
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_graph_pagerank plans its driver-ranked top-20 as a local relation") {
    val p = plan("q_graph_pagerank")
    // the Pregel rounds ran on the driver-held rank vector while the row
    // was built (GraphRoundsSpec pins one job per round); the catalog
    // plan is only the top-20 the driver ranked
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_graph_components plans its label groups as a local relation") {
    val p = plan("q_graph_components")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dedup_minhash signs with minhash_sig, never transform over md5") {
    val p = plan("q_dedup_minhash")
    assert(p.contains("minhash_sig("), p)
    assert(!p.contains("transform("), p)
    assert(!p.contains("md5("), p)
  }

  test("q_text_pii, q_emb_project, q_pack_overlap, q_mm_audio stay single-scan and narrow") {
    for (q <- Seq("q_text_pii", "q_emb_project", "q_pack_overlap", "q_mm_audio")) {
      val p = plan(q)
      val scans = "FileScan parquet".r.findAllIn(p).length
      assert(scans == 1, s"$q reads $scans scans:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
        s"$q should be join-free:\n$p")
    }
  }

  test("MatView.serve reads only delta partials — never the base table — with map-side combine") {
    import org.apache.spark.sql.functions.col
    val orders = graft.Tables.orders(spark, sf001)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val d = java.nio.file.Files.createTempDirectory("mv_plan").toString
    try {
      MatView.bootstrap(spark, orders, Seq("o_custkey"), Seq("o_totalprice"), d)
      MatView.refresh(spark, d, orders.limit(0),
        orders.filter(col("o_orderkey") % 10 === 3))
      val p = MatView.serve(spark, d).queryExecution.executedPlan.toString
      // serving merges the bounded partial-aggregate log, not the base:
      // the 100 TB original must not appear in the plan
      assert(!p.contains("orders.parquet"), p)
      assert(p.contains(d), p)
      assert(p.contains("partial_"), p) // partial→final merge of partials
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(d))
  }

  test("q_text_phrase joins term-frequency-sized sides; one corpus scan, no cartesian") {
    val p = plan("q_text_phrase")
    val scans = "FileScan parquet".r.findAllIn(p).length
    // the pinned term-filtered frame feeds both position sides: the text
    // column is scanned once, and both sides appear as RDD re-reads
    assert(scans <= 1, s"q_text_phrase reads $scans file scans:\n${p.take(2000)}")
    assert(p.contains("Scan ExistingRDD"), p.take(2000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q_sim_mmr and q_sim_topk_diverse rank on SCALARS — no window operator sees the embedding arrays") {
    // the shortlist/facet ranks run over (q_id, vec_id, cos_r[, lang])
    // projections; the 64-float arrays join back only for the bounded
    // survivors (mmr) or never (diverse). A window whose input carries
    // `embedding` means the corpus-sized pre-rank exchange shuffles
    // arrays again — the measured ×5 exponent-0.65 regression this
    // projection discipline fixed.
    def rankers(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val self = p.getClass.getSimpleName match {
        case n if n.contains("Window") || n.contains("TopKPerKey") => Seq(p)
        case _ => Seq.empty
      }
      self ++ p.children.flatMap(rankers) ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          rankers(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          rankers(s.plan)
        case _ => Seq.empty
      })
    }
    for (q <- Seq("q_sim_mmr", "q_sim_topk_diverse")) {
      val exec = graft.SparkEntry.queries(q)(spark, sf001)
        .queryExecution.executedPlan
      val rs = rankers(exec)
      assert(rs.nonEmpty, s"$q: no rank operator found:\n${exec.toString.take(2000)}")
      rs.foreach { r =>
        assert(!r.children.exists(_.output.exists(_.name == "embedding")),
          s"$q: a rank operator's input carries the embedding array:\n$r")
      }
    }
  }

  test("the z-ordered layout's serving scan carries the 2-D box as pushed filters") {
    // (q_layout_zorder itself returns a pinned checkpoint, so the guard
    // drives the layout directly — same read path as the catalog row)
    import org.apache.spark.sql.functions.col
    val li = graft.Tables.lineitem(spark, sf001)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_quantity")
    val d = java.nio.file.Files.createTempDirectory("zorder_plan").toString
    try {
      ZOrderLayout.write(spark, li, d, "l_extendedprice", "l_orderkey")
      val qe = spark.read.parquet(d)
        .filter(col("l_extendedprice").between(10000, 20000) &&
          col("l_orderkey") <= 300)
        .queryExecution.executedPlan
      // both dimensions of the box must reach the parquet reader —
      // row-group skipping off the z-ordered stats is what the layout
      // exists for. Read the scan's metadata, not the plan STRING: the
      // rendered PushedFilters list truncates with "…" past a few entries
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scansOf)
      }
      val pushed = scansOf(qe).map(_.metadata("PushedFilters")).mkString("\n")
      assert(pushed.contains("GreaterThanOrEqual(l_extendedprice,10000.0)"), pushed)
      assert(pushed.contains("LessThanOrEqual(l_extendedprice,20000.0)"), pushed)
      assert(pushed.contains("LessThanOrEqual(l_orderkey,300)"), pushed)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(d))
  }
}
