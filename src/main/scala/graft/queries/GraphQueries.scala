package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Graph analytics over relationship structure hiding in the relational
  * tables — the family q_dedup_clusters (connected components) opened,
  * extended here with iterative rank propagation. Iterative graph
  * algorithms on Spark are driver-unrolled loops of joins (the Pregel
  * shape: ranks ⨝ edges on src, aggregate on dst, join back to nodes);
  * the reused edge/node frames are materialized once and each round's
  * rank vector materializes so its broadcast builds from a computed
  * frame. Determinism across engines follows the catalog
  * contract: per-edge contributions are a fixed double expression tree
  * (IEEE ops on identical inputs → identical bits), pre-rounded and
  * summed in exact DECIMAL so accumulation order can't flip a rank.
  */
object GraphQueries {

  /** The customer–supplier fulfillment graph, undirected: an edge links a
    * customer to every supplier that shipped one of its orders (orders ⨝
    * lineitem, distinct pairs), node ids arithmetically disambiguated
    * (cust → 2k, supp → 2k+1) so the shuffle path carries no strings.
    * Materialized once per query — every iterative round consumes it.
    */
  private[graft] def fulfillmentEdges(s: org.apache.spark.sql.SparkSession,
      dir: String,
      edgePred: org.apache.spark.sql.Column = lit(true),
      wide: Boolean = true): org.apache.spark.sql.DataFrame = {
    val eo = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, dir).filter(edgePred)
      .select("l_orderkey", "l_suppkey")
    // DEDUP the FORWARD pairs, then mirror by explode (r19; r18 mirrored
    // before the distinct). The mirror map is injective and cust ids are
    // even / supplier ids odd, so a mirrored pair can never collide with
    // a forward pair: distinct∘mirror ≡ mirror∘distinct — same multiset —
    // and deduping first HALVES the bytes through the distinct's exchange
    // (the join's raw pair stream, the dominant shuffle of both graph
    // queries). The explode runs above the distinct's reduce side, so the
    // mirrored rows never cross the network at all. As in r18:
    //   - one pass, no self-union (Catalyst does not CSE across union
    //     branches — the r17 form re-executed the join+distinct per
    //     branch);
    //   - the explicit repartition(n, c, sn) immediately below the
    //     distinct satisfies its ClusteredDistribution, so the plan
    //     carries ONE exchange whose width is user-pinned (not
    //     AQE-coalescible) and the checkpointed edges come out
    //     cluster-wide for every Pregel round (AQE coalesced the few-MB
    //     edge frame to ~5 partitions and every round replayed its map
    //     side over exactly those — measured 5-task rounds at 650-950 ms).
    // `wide = false` (the components call: a highly selective edgePred)
    // keeps the plain AQE-coalesced distinct — for a subgraph of a few
    // thousand edges the pinned width is pure task overhead (measured
    // +0.5 s over 8 round-jobs), and AQE's size-derived coalesce IS the
    // scale-adaptive choice for whatever the predicate leaves.
    val fwd = li
      .join(eo, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("c"),
        (col("l_suppkey").cast("long") * 2 + 1).as("sn"))
    (if (wide)
      fwd.repartition(
        s.sparkContext.defaultParallelism, col("c"), col("sn"))
     else fwd)
      .distinct()
      .select(explode(array(
        struct(col("c").as("src"), col("sn").as("dst")),
        struct(col("sn").as("src"), col("c").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint()
  }

  /** PageRank d = 0.85 over an undirected edge frame — the body of
    * q_graph_pagerank. Every node has out-degree ≥ 1 by the
    * undirected construction, so no dangling-mass correction is needed.
    */
  private[graft] def pageRank(s: org.apache.spark.sql.SparkSession,
      edges: org.apache.spark.sql.DataFrame,
      iters: Int = 3): org.apache.spark.sql.DataFrame = {
    val nodes = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
      .localCheckpoint() // the census feeds every round's left join
    // the node COUNT is a bounded driver scalar (the probe-cell /
    // quota-table class): hoisting it to a literal removes a broadcast
    // stage from every round — the teleport term is the same double
    val nn = nodes.count()
    if (nn == 0) {
      // zero-row contract (EmptyInputSpec): an empty graph ranks
      // nothing — and guards the 1/N teleport against ANSI ÷0
      import s.implicits._
      Seq.empty[(Long, String, Long, Double)]
        .toDF("node", "kind", "key", "rank")
    } else {
      // the rank and contribution vectors are NODE-CENSUS-sized — the
      // dimension class (customer + supplier key spaces), orders of
      // magnitude under the edge set — so they ride BROADCASTS into
      // the edge join and the census join: each round is one map-side
      // pass over the cached edges plus a partial-aggregated 16k-row
      // shuffle, no edge-set sort. (A graph whose census outgrows the
      // broadcast budget swaps these hints for co-partitioned SMJs —
      // the shape is otherwise identical.) Rounds MATERIALIZE
      // (localCheckpoint): r19 A/B'd the lazy form — each round consumed
      // once by the next round's broadcast build, 3 fewer jobs — and it
      // measured SLOWER at matched windows (3.66-3.97 s vs 3.16-3.32 s
      // subset pairs): the nested broadcast-build cascade executes the
      // round chain less efficiently than three small materialized
      // actions. Measured, kept the checkpoint.
      //
      // The per-edge contribution sums in LONG, not DECIMAL (r19):
      // round(r/deg, 12) is an exact ≤12-decimal value d ≤ 1, so d·1e12
      // is an exact integer ≤ 1e12 (recovered by one more scale-0 round —
      // the double product sits within ~1e-4 of it), and Σd ≤ Σ r(u) = 1
      // bounds the per-dst long sum at ~1e12, 6 orders under overflow.
      // Bit-identical to the DECIMAL(28,12) sum it replaces: both sum the
      // same exact integers (scaled), and long→double is exact below 2^53
      // with IEEE division by 1e12 correctly rounding to the same double
      // the decimal cast produced. What it buys: the hot per-round edge
      // pass aggregates machine longs in codegen instead of allocating a
      // BigDecimal per edge (the pass was ~30 µs/row in ProfileJobs).
      var ranks = nodes
        .select(col("node"), col("deg"),
          round(lit(1.0) / lit(nn), 12).as("r"))
      for (_ <- 1 to iters) {
        val contrib = broadcast(ranks)
          .join(edges, col("node") === col("src"))
          .withColumn("cb",
            round(round(col("r") / col("deg"), 12) * 1e12).cast("long"))
          .groupBy("dst").agg(sum("cb").as("s"))
        ranks = nodes
          .join(broadcast(contrib), col("node") === col("dst"), "left")
          .select(col("node"), col("deg"),
            round(lit(0.15) / lit(nn) + lit(0.85) *
              coalesce(col("s").cast("double") / 1e12, lit(0.0)), 12).as("r"))
          .localCheckpoint()
      }
      ranks.orderBy(col("r").desc, col("node").asc).limit(20)
        .select(col("node"),
          when(col("node") % 2 === 0, lit("cust"))
            .otherwise(lit("supp")).as("kind"),
          expr("node DIV 2").as("key"),
          round(col("r"), 8).as("rank"))
    }
  }

  val qs: Seq[GQuery] = Seq(
    GQuery(
      "q_graph_pagerank",
      (s, dir) => {
        // PAGERANK (damping 0.85, 3 unrolled iterations) over the
        // customer–supplier fulfillment graph: an undirected edge links a
        // customer to every supplier that shipped one of its orders
        // (orders ⨝ lineitem, distinct pairs). Node ids disambiguate the
        // two key spaces arithmetically (cust → 2k, supp → 2k+1), so the
        // graph needs no string keys on the shuffle path. Per iteration
        // r'(v) = 0.15/N + 0.85 · Σ_{u→v} r(u)/deg(u), with the
        // contribution rounded to 12 and summed in DECIMAL(28,12); the
        // teleport term keeps the recurrence a fixed two-term double
        // expression. Undirected edges mean no dangling-mass correction
        // is needed — every node has out-degree ≥ 1 by construction.
        // Fixed iteration count (not convergence-tested) keeps the result
        // closed-form checkable; at 100 TB each iteration is one shuffle
        // pair on the node key and the edge frame is reused from cache.
        // Census-sized broadcasts, materialized rounds, and the empty-
        // graph contract live in [[pageRank]].
        pageRank(s, fulfillmentEdges(s, dir))
      },
      Some("""WITH cs AS (
                SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sn
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              edges AS (
                SELECT c AS src, sn AS dst FROM cs
                UNION ALL
                SELECT sn AS src, c AS dst FROM cs),
              nodes AS (SELECT src AS node, count(*) AS deg
                FROM edges GROUP BY 1),
              stats AS (SELECT count(*) AS nn FROM nodes),
              r0 AS (SELECT node, deg,
                round(CAST(1.0 AS DOUBLE) / (SELECT nn FROM stats), 12) AS r
                FROM nodes),
              r1 AS (
                SELECT n.node, n.deg,
                  round(CAST(0.15 AS DOUBLE) / (SELECT nn FROM stats) +
                    CAST(0.85 AS DOUBLE) * coalesce(CAST(c.s AS DOUBLE), 0.0),
                    12) AS r
                FROM nodes n LEFT JOIN (
                  SELECT e.dst,
                    sum(CAST(round(p.r / p.deg, 12) AS DECIMAL(28,12))) AS s
                  FROM r0 p JOIN edges e ON p.node = e.src GROUP BY e.dst) c
                ON n.node = c.dst),
              r2 AS (
                SELECT n.node, n.deg,
                  round(CAST(0.15 AS DOUBLE) / (SELECT nn FROM stats) +
                    CAST(0.85 AS DOUBLE) * coalesce(CAST(c.s AS DOUBLE), 0.0),
                    12) AS r
                FROM nodes n LEFT JOIN (
                  SELECT e.dst,
                    sum(CAST(round(p.r / p.deg, 12) AS DECIMAL(28,12))) AS s
                  FROM r1 p JOIN edges e ON p.node = e.src GROUP BY e.dst) c
                ON n.node = c.dst),
              r3 AS (
                SELECT n.node, n.deg,
                  round(CAST(0.15 AS DOUBLE) / (SELECT nn FROM stats) +
                    CAST(0.85 AS DOUBLE) * coalesce(CAST(c.s AS DOUBLE), 0.0),
                    12) AS r
                FROM nodes n LEFT JOIN (
                  SELECT e.dst,
                    sum(CAST(round(p.r / p.deg, 12) AS DECIMAL(28,12))) AS s
                  FROM r2 p JOIN edges e ON p.node = e.src GROUP BY e.dst) c
                ON n.node = c.dst)
              SELECT node,
                CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'supp' END AS kind,
                node // 2 AS key, round(r, 8) AS rank
              FROM r3 ORDER BY r DESC, node ASC LIMIT 20""")),

    GQuery(
      "q_graph_components",
      (s, dir) => {
        // MIN-LABEL PROPAGATION (3 synchronous rounds) over the same
        // fulfillment graph — the Pregel min-aggregation variant beside
        // pagerank's sum: every node starts labeled with its own id and
        // each round takes the min of its label and its neighbors' — after
        // T rounds a node's label is the smallest id within T hops, the
        // bounded-round prefix of connected components (the UNBOUNDED
        // iteration lives in q_dedup_clusters' large-star/small-star).
        // The graph is the HIGH-DISCOUNT SMALL-LOT procurement subgraph
        // (lineitems with quantity ≤ 2 at > 8 % discount) — sparse enough
        // that real component structure survives the supplier hubs that
        // make the full fulfillment graph one blob in two hops.
        // Integer-only arithmetic, so the row is oracle-exact with zero
        // float ceremony; the label census (≤ nodes rows) rides
        // broadcasts exactly like the rank vector. Output: the 20 largest
        // label groups after round 3.
        val edges = fulfillmentEdges(s, dir,
          edgePred = col("l_quantity") <= 2 && col("l_discount") > 0.08,
          wide = false)
        val nodes = edges.select(col("src").as("node")).distinct()
          .localCheckpoint()
        var labels = nodes.select(col("node"), col("node").as("label"))
        for (_ <- 1 to 3) {
          val inc = broadcast(labels)
            .join(edges, col("node") === col("src"))
            .groupBy("dst").agg(min("label").as("ml"))
          labels = labels
            .join(broadcast(inc), col("node") === col("dst"), "left")
            .select(col("node"),
              least(col("label"), coalesce(col("ml"), col("label"))).as("label"))
            .localCheckpoint()
        }
        labels.groupBy("label").agg(count(lit(1)).as("members"))
          .orderBy(col("members").desc, col("label").asc).limit(20)
      },
      Some("""WITH cs AS (
                SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sn
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE l_quantity <= 2 AND l_discount > 0.08),
              edges AS (
                SELECT c AS src, sn AS dst FROM cs
                UNION ALL
                SELECT sn AS src, c AS dst FROM cs),
              l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
              l1 AS (
                SELECT n.node,
                  least(n.label, coalesce(m.ml, n.label)) AS label
                FROM l0 n LEFT JOIN (
                  SELECT e.dst, min(p.label) AS ml
                  FROM l0 p JOIN edges e ON p.node = e.src GROUP BY e.dst) m
                ON n.node = m.dst),
              l2 AS (
                SELECT n.node,
                  least(n.label, coalesce(m.ml, n.label)) AS label
                FROM l1 n LEFT JOIN (
                  SELECT e.dst, min(p.label) AS ml
                  FROM l1 p JOIN edges e ON p.node = e.src GROUP BY e.dst) m
                ON n.node = m.dst),
              l3 AS (
                SELECT n.node,
                  least(n.label, coalesce(m.ml, n.label)) AS label
                FROM l2 n LEFT JOIN (
                  SELECT e.dst, min(p.label) AS ml
                  FROM l2 p JOIN edges e ON p.node = e.src GROUP BY e.dst) m
                ON n.node = m.dst)
              SELECT label, count(*) AS members FROM l3
              GROUP BY 1 ORDER BY members DESC, label ASC LIMIT 20"""))
  )
}
