package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._

/** Graph analytics over relationship structure hiding in the relational
  * tables — the family q_dedup_clusters (connected components) opened,
  * extended here with iterative rank propagation. Both rows run the
  * Pregel shape (each vertex sends a message along its out-edges, each
  * destination combines what it receives) with the VERTEX STATE ON THE
  * DRIVER: the label or rank vector is census-sized (customer + supplier
  * key spaces, orders of magnitude under the edge set), so it ships to
  * every round as one broadcast variable, and each round is exactly one
  * Spark job over the checkpointed edge frame ([[pregelRound]]). The
  * driver derives the next vector and the final top-20 itself. The edge
  * frame is built and materialized once per query.
  *
  * Determinism across engines follows the catalog contract: per-edge
  * contributions are a fixed double expression tree (IEEE ops on
  * identical inputs → identical bits), pre-rounded and summed as exact
  * scaled integers so accumulation order can't flip a rank; the rounding
  * is Spark's own, evaluated as Columns over a local relation.
  */
object GraphQueries {

  /** The customer–supplier fulfillment graph, undirected: an edge links a
    * customer to every supplier that shipped one of its orders (orders ⨝
    * lineitem, distinct pairs), node ids arithmetically disambiguated
    * (cust → 2k, supp → 2k+1) so the shuffle path carries no strings.
    * Every pair appears in both directions, so a vertex's in- and
    * out-edges match one to one. Materialized once per query — every
    * iterative round consumes it.
    */
  private[graft] def fulfillmentEdges(s: SparkSession,
      dir: String,
      edgePred: Column = lit(true),
      wide: Boolean = true): DataFrame = {
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

  /** A driver-held vertex vector: `ids` ascending, `vals(i)` the value of
    * vertex `ids(i)`.
    */
  private final class VertexVec(val ids: Array[Long], val vals: Array[Long])
      extends Serializable {
    def apply(v: Long): Long = vals(java.util.Arrays.binarySearch(ids, v))
    def get(v: Long): Option[Long] = {
      val i = java.util.Arrays.binarySearch(ids, v)
      if (i >= 0) Some(vals(i)) else None
    }
  }

  private object VertexVec {
    val empty = new VertexVec(Array.empty, Array.empty)
    def apply(pairs: Array[(Long, Long)]): VertexVec = {
      val sorted = pairs.sortBy(_._1)
      new VertexVec(sorted.map(_._1), sorted.map(_._2))
    }
  }

  /** One Pregel round: every edge u→v sends `msg(state, u)` to v, and each
    * destination's messages combine under `merge` (associative and
    * commutative). `state` ships as a broadcast variable, which runs no
    * job; the round itself is exactly ONE Spark job over the checkpointed
    * edge frame — a map-side-combined reduceByKey, so the partials merge
    * on the executors and the driver receives at most one row per vertex,
    * the census-sized envelope the vector itself already has.
    */
  private def pregelRound(edges: DataFrame, state: VertexVec,
      msg: (VertexVec, Long) => Long,
      merge: (Long, Long) => Long): VertexVec = {
    val b = edges.sparkSession.sparkContext.broadcast(state)
    try VertexVec(edges.select("src", "dst").queryExecution.toRdd
        .map(r => (r.getLong(1), msg(b.value, r.getLong(0))))
        .reduceByKey(merge)
        .collect())
    finally b.destroy()
  }

  /** PageRank d = 0.85 over an undirected edge frame — the body of
    * q_graph_pagerank. Every node has out-degree ≥ 1 by the undirected
    * construction, so no dangling-mass correction is needed. Jobs: the
    * degree census, then one per round ([[pregelRound]]); the rank
    * arithmetic runs on the driver.
    */
  private[graft] def pageRank(s: SparkSession, edges: DataFrame,
      iters: Int = 3): DataFrame = {
    import s.implicits._
    // in-degree = out-degree on the mirrored edge frame, so the census
    // counts each destination's messages
    val deg = pregelRound(edges, VertexVec.empty, (_, _) => 1L, _ + _)
    val nn = deg.ids.length.toLong
    if (nn == 0)
      // zero-row contract (EmptyInputSpec): an empty graph ranks
      // nothing — and guards the 1/N teleport against ANSI ÷0
      return Seq.empty[(Long, String, Long, Double)]
        .toDF("node", "kind", "key", "rank")
    // The per-edge contribution is a LONG, not a DECIMAL (r19):
    // round(r/deg, 12) is an exact ≤12-decimal value d ≤ 1, so d·1e12 is
    // an exact integer ≤ 1e12 (recovered by one more scale-0 round — the
    // double product sits within ~1e-4 of it), and Σd ≤ Σ r(u) = 1 bounds
    // the per-dst long sum at ~1e12, 6 orders under overflow.
    // Bit-identical to the oracle's DECIMAL(28,12) sum: both sum the same
    // exact integers (scaled), and long→double is exact below 2^53 with
    // IEEE division by 1e12 correctly rounding to the same double the
    // decimal cast produced. The contribution depends on the source
    // alone, so it is the vector a round ships; the executors only add.
    val contrib = round(round(col("r") / col("deg"), 12) * 1e12).cast("long")
    // Each step's rank and contribution are these Spark Columns evaluated
    // over a local relation of the census: the optimizer folds a
    // projection of a local relation on the driver (no job), with Spark's
    // own round() semantics, and the relation keeps its row order.
    def step(r: Column, sums: VertexVec): (Array[Double], VertexVec) = {
      val out = deg.ids.indices
        .map(i => (deg.vals(i), sums.get(deg.ids(i)).map(Long.box).orNull))
        .toDF("deg", "s")
        .select(col("deg"), r.as("r"))
        .select(col("r"), contrib)
        .as[(Double, Long)].collect()
      (out.map(_._1), new VertexVec(deg.ids, out.map(_._2)))
    }
    val rank = round(lit(0.15) / lit(nn) + lit(0.85) *
      coalesce(col("s").cast("double") / 1e12, lit(0.0)), 12)
    val (ranks, _) = (1 to iters).foldLeft(
        step(round(lit(1.0) / lit(nn), 12), VertexVec.empty)) {
      case ((_, cb), _) =>
        step(rank, pregelRound(edges, cb, (c, u) => c(u), Math.addExact(_, _)))
    }
    // top-20 by (rank desc, node asc) under Spark's double ordering
    val byRank: Ordering[Int] = (a, b) => {
      val c = SQLOrderingUtil.compareDoubles(ranks(b), ranks(a))
      if (c != 0) c else java.lang.Long.compare(deg.ids(a), deg.ids(b))
    }
    deg.ids.indices.sorted(byRank).take(20)
      .map(i => (deg.ids(i), ranks(i))).toDF("node", "r")
      .select(col("node"),
        when(col("node") % 2 === 0, lit("cust"))
          .otherwise(lit("supp")).as("kind"),
        expr("node DIV 2").as("key"),
        round(col("r"), 8).as("rank"))
  }

  /** Min-label propagation — the body of q_graph_components: every node
    * starts labeled with its own id and each round takes the min of its
    * label and its neighbors'. Jobs: one per round ([[pregelRound]]).
    * Output: the 20 largest label groups, (members desc, label asc).
    */
  private[graft] def labelComponents(s: SparkSession, edges: DataFrame,
      rounds: Int = 3): DataFrame = {
    import s.implicits._
    require(rounds >= 1, s"label propagation needs a round, got $rounds")
    // a node absent from the vector still carries its own id, so round 1
    // ships an empty vector; on the mirrored edge frame every node is
    // some edge's destination, so round 1's partials are the node census
    var labels = VertexVec.empty
    for (_ <- 1 to rounds) {
      val ml = pregelRound(edges, labels,
        (l, u) => l.get(u).getOrElse(u), math.min(_, _))
      labels = new VertexVec(ml.ids, ml.ids.indices.map { i =>
        val v = ml.ids(i)
        math.min(labels.get(v).getOrElse(v), ml.vals(i))
      }.toArray)
    }
    labels.vals.toSeq.groupMapReduce(identity)(_ => 1L)(_ + _).toSeq
      .sortBy { case (label, members) => (-members, label) }.take(20)
      .toDF("label", "members")
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
        // contribution rounded to 12 and summed exactly (the oracle in
        // DECIMAL(28,12), the engine as scaled longs); the teleport term
        // keeps the recurrence a fixed two-term double expression.
        // Undirected edges mean no dangling-mass correction is needed —
        // every node has out-degree ≥ 1 by construction. Fixed iteration
        // count (not convergence-tested) keeps the result closed-form
        // checkable. The driver-held rank vector, the one-job rounds and
        // the empty-graph contract live in [[pageRank]].
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
        // float ceremony; the label vector is driver-held exactly like
        // the rank vector ([[labelComponents]]). Output: the 20 largest
        // label groups after round 3.
        labelComponents(s, fulfillmentEdges(s, dir,
          edgePred = col("l_quantity") <= 2 && col("l_discount") > 0.08,
          wide = false))
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
