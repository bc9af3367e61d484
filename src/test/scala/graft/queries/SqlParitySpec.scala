package graft.queries

import graft.{SparkSpec, SparkEntry, Tables}

/** SQL-front-end parity: every SQL-expressible relational catalog query must
  * produce the same result when run as `spark.sql` TEXT over temp views as
  * its DataFrame form does — a user of a Spark-native analytics engine
  * writes SQL first, so the catalog's semantics cannot be DataFrame-only.
  *
  * The SQL source is the query's own DuckDB oracle string wherever that
  * dialect is also valid Spark SQL (`verbatim` — the shared-ANSI core:
  * projections, joins, aggregation, windows, sets). Where DuckDB spells a
  * function differently (strpos/string_split/strftime/...), `translated`
  * carries the same semantics in Spark's dialect — the point is that the
  * semantics round-trip through SQL text, not that Spark parses DuckDB.
  * Queries that CANNOT round-trip (custom UDAF / kernel-typed results with
  * no registered SQL twin) are listed in COVERAGE.md, not silently skipped.
  *
  * Both sides run in the same session at sf0.001; results compare as
  * (column-name-sorted, row-sorted, 4-decimal-canonical) multisets — the
  * driver's own compare discipline.
  */
class SqlParitySpec extends SparkSpec {

  private val dir = sf001

  private def registerViews(): Unit =
    Tables.names.foreach(t =>
      Tables.table(spark, dir, t).createOrReplaceTempView(t))

  /** Canonical cell: numbers to 4-decimal plain strings (int 5, long 5,
    * double 5.0 and decimal 5.0000 all → "5"), containers recursively.
    */
  private def canonCell(v: Any): String = v match {
    case null => "∅"
    case n @ (_: java.lang.Double | _: java.lang.Float | _: java.math.BigDecimal |
        _: scala.math.BigDecimal | _: java.lang.Long | _: java.lang.Integer |
        _: java.lang.Short | _: java.lang.Byte) =>
      new java.math.BigDecimal(n.toString)
        .setScale(4, java.math.RoundingMode.HALF_UP)
        .stripTrailingZeros.toPlainString
    case s: Seq[_] => s.map(canonCell).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.map { case (k, mv) => s"$k:${canonCell(mv)}" }.toSeq.sorted
        .mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => r.toSeq.map(canonCell).mkString("(", ",", ")")
    case b: Array[Byte] => java.util.Arrays.toString(b)
    case x => x.toString
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toSeq.map(canonCell).mkString("|")).toSeq.sorted
  }

  /** Queries whose DuckDB oracle text is valid Spark SQL as-is. */
  private val verbatim = Seq(
    "q_scan_count", "q_proj_net", "q_filter_complex", "q_filter_allowblock",
    "q_join_inner", "q_join_outer", "q_join_full", "q_join_semi",
    "q_join_anti", "q_join_merge", "q_join_cross", "q_join_star",
    "q_sort_global", "q_sort_within", "q_sort_topk",
    "q_agg_pricing", "q_agg_distinct", "q_agg_rollup", "q_agg_cube",
    "q_agg_gsets", "q_agg_filtered", "q_agg_minmaxby", "q_agg_histogram",
    "q_agg_salted",
    "q_win_rank", "q_win_dist", "q_win_topk",
    "q_set_union", "q_set_intersect", "q_set_except", "q_set_exceptall",
    "q_dedup_exact",
    "q_fn_math", "q_fn_conditional", "q_fn_map", "q_fn_json",
    "q_agg_pivot", "q_agg_unpivot",
    "q_text_stats", "q_kube_annotations", "q_sync_diff",
    "q_graph_components",
    // round 12: the IVM view and the z-order layout row — plain ANSI
    // aggregation over the base table (the layouts exist UNDER the query,
    // not in its text)
    "q_matview_refresh", "q_layout_zorder")

  /** Queries whose oracle text differs from Spark SQL only by these
    * mechanical dialect spellings (regex → replacement, applied in order) —
    * the SQL source is the oracle text with the rewrites applied, so the
    * two stay in sync by construction.
    */
  private val dialectRewrites: Seq[(String, String)] = SqlParityRewrites.rules

  private val translated: Seq[String] = Seq(
    "q_join_range", "q_join_asof", "q_win_lag", "q_win_frames", "q_win_gaps",
    "q_dedup_latest", "q_events_funnel", "q_scd2", "q_sync_merge",
    "q_sample_stratified",
    "q_agg_collect", "q_agg_quantile", "q_fn_string", "q_fn_datetime",
    "q_fn_array", "q_fn_generator",
    "q_token_count", "q_token_bpe", "q_pack_chunks_bpe", "q_kube_id",
    "q_pack_overlap", "q_text_entropy",
    "q_text_quality", "q_text_fingerprint", "q_corpus_datasheet",
    "q_pack_chunks", "q_text_langid", "q_text_boilerplate",
    // round 8: the previously uncovered 38 minus the two recursive-CTE
    // queries (q_dedup_clusters, q_corpus_final) — their DuckDB oracles
    // iterate via recursive UNION (distinct), which Spark 4.1 does not yet
    // support inside recursive CTEs (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE),
    // and a UNION ALL rewrite would not converge. Documented in COVERAGE.md.
    "q_agg_weighted", "q_corpus_budget", "q_corpus_decontam",
    "q_dedup_embcos", "q_dedup_jaccard", "q_dedup_minhash",
    "q_dedup_minhash_pairs", "q_dedup_semantic", "q_dedup_simhash",
    "q_dedup_simhash_pairs", "q_emb_centroid", "q_emb_project", "q_emb_quant",
    "q_lm_score", "q_mm_audio", "q_mm_decode", "q_mm_frames", "q_mm_meta",
    "q_mm_resize", "q_sample_weighted",
    // round 19: the core-scaling probe row (same mh dialect spellings as
    // q_dedup_minhash, so the existing rewrites carry it)
    "q_scale_cpu",
    "q_sim_pairs", "q_sim_range",
    "q_sim_topk", "q_sim_knn_class", "q_events_retention",
    "q_events_resample", "q_index_fresh", "q_sample_temperature",
    "q_hybrid_rrf", "q_sim_topk_filtered",
    "q_sim_topk_ivf", "q_src_csv", "q_src_dsv2", "q_src_jsonl", "q_src_orc",
    "q_stream_session", "q_stream_sliding", "q_stream_tumbling", "q_text_pii",
    "q_text_repetition", "q_text_tfidf", "q_text_tokens", "q_win_topk_native",
    "q_win_topk_rule",
    // round 12 additions
    "q_rank_bm25", "q_rank_bm25_idx", "q_sim_topk_diverse", "q_sim_topk_sq",
    "q_events_anomaly", "q_graph_pagerank", "q_index_asof",
    // round 12: the CDF row (1-based embedding[..] indexing rewrite)
    "q_index_cdf",
    // round 12: phrase search (split/filter/sequence/1-based rewrites)
    "q_text_phrase",
    // round 13: the hybrid served from the persisted indexes — same
    // oracle text as q_hybrid_rrf by construction
    "q_hybrid_rrf_idx")

  /** The two oracle-backed queries that CANNOT round-trip through Spark
    * SQL text: their DuckDB oracles iterate via recursive UNION
    * (distinct), which Spark 4.1 rejects inside recursive CTEs
    * (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), and a UNION ALL rewrite
    * would not converge. Documented in COVERAGE.md.
    */
  private val sparkSqlExcluded = Set("q_dedup_clusters", "q_corpus_final")

  test("every oracle-backed catalog query is parity-covered or explicitly excluded") {
    // a new catalog row must land in `verbatim` or `translated` (or the
    // documented exclusion set) — silent parity gaps are how SQL-surface
    // coverage rots
    val covered = verbatim.toSet ++ translated.toSet ++ sparkSqlExcluded
    val missing = SparkEntry.oracleSql.keySet -- covered
    assert(missing.isEmpty,
      s"oracle-backed queries absent from SQL parity: ${missing.toSeq.sorted.mkString(", ")}")
    val stale = (verbatim.toSet ++ translated.toSet) -- SparkEntry.oracleSql.keySet
    assert(stale.isEmpty,
      s"parity lists name queries with no oracle: ${stale.toSeq.sorted.mkString(", ")}")
    // the catalog's headline counts, pinned HERE so the docs that quote
    // them (COVERAGE.md, the verify skill) cannot silently drift — a new
    // row must bump this assertion alongside the docs (VERDICT r14 #5)
    assert(SparkEntry.queries.size == 139,
      s"catalog is ${SparkEntry.queries.size} queries — update this pin AND the counts in COVERAGE.md / .claude/skills/verify/SKILL.md")
    assert(SparkEntry.oracleSql.size == 129,
      s"oracle-backed count is ${SparkEntry.oracleSql.size} — update this pin AND the quoted docs")
  }

  test("verbatim oracle SQL ≡ DataFrame form, query by query") {
    registerViews()
    val failures = verbatim.flatMap { name =>
      val oracle = SparkEntry.oracleSql(name)
      try {
        val sqlRows = canon(spark.sql(oracle))
        val dfRows = canon(SparkEntry.queries(name)(spark, dir))
        if (sqlRows == dfRows) None
        else Some(s"$name: MISMATCH sql=${sqlRows.size} rows df=${dfRows.size} " +
          s"firstDiff=${sqlRows.zip(dfRows).find(p => p._1 != p._2)
            .orElse(Some((sqlRows.headOption.getOrElse(""), dfRows.headOption.getOrElse(""))))}")
      } catch {
        case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    assert(failures.isEmpty, s"\n${failures.mkString("\n")}")
  }

  test("dialect-rewritten oracle SQL ≡ DataFrame form, query by query") {
    registerViews()
    graft.functions.SqlCompat.register(spark)
    // DuckDB string literals are raw; match that for the SQL texts so the
    // oracle's regex literals ('\s+') survive the Spark parser unchanged
    val escConf = "spark.sql.parser.escapedStringLiterals"
    val prev = spark.conf.get(escConf)
    spark.conf.set(escConf, "true")
    val failures =
      try translated.flatMap { name =>
        val text = dialectRewrites.foldLeft(SparkEntry.oracleSql(name)) {
          case (s, (from, to)) => s.replaceAll(from, to)
        }
        try {
          val sqlRows = canon(spark.sql(text))
          val dfRows = canon(SparkEntry.queries(name)(spark, dir))
          if (sqlRows == dfRows) None
          else Some(s"$name: MISMATCH sql=${sqlRows.size} rows df=${dfRows.size}")
        } catch {
          case e: Throwable =>
            Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
      } finally spark.conf.set(escConf, prev)
    assert(failures.isEmpty, s"\n${failures.mkString("\n")}")
  }
}
