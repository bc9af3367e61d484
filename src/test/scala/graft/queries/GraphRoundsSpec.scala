package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The driver-held Pregel rounds of [[GraphQueries]]: each round of
  * PageRank or min-label propagation is exactly one Spark job, and the
  * results are bit-identical to the join-per-round DataFrame form the
  * rounds replaced (kept below as the reference), on two data scales.
  */
class GraphRoundsSpec extends SparkSpec {

  private def edges(dir: String): DataFrame =
    GraphQueries.fulfillmentEdges(spark, dir)

  private def subgraph(dir: String): DataFrame =
    GraphQueries.fulfillmentEdges(spark, dir,
      edgePred = col("l_quantity") <= 2 && col("l_discount") > 0.08,
      wide = false)

  /** PageRank as broadcast join + aggregate + join back per round. */
  private def refPageRank(e: DataFrame, iters: Int): DataFrame = {
    val nodes = e.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg")).localCheckpoint()
    val nn = nodes.count()
    var ranks = nodes
      .select(col("node"), col("deg"), round(lit(1.0) / lit(nn), 12).as("r"))
    for (_ <- 1 to iters) {
      val contrib = broadcast(ranks)
        .join(e, col("node") === col("src"))
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

  /** Min-label propagation as broadcast join + aggregate per round. */
  private def refComponents(e: DataFrame, rounds: Int): DataFrame = {
    var labels = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      val inc = broadcast(labels)
        .join(e, col("node") === col("src"))
        .groupBy("dst").agg(min("label").as("ml"))
      labels = labels
        .join(broadcast(inc), col("node") === col("dst"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("ml"), col("label"))).as("label"))
        .localCheckpoint()
    }
    labels.groupBy("label").agg(count(lit(1)).as("members"))
      .orderBy(col("members").desc, col("label").asc).limit(20)
  }

  /** Rows in order, with the schema's column names and types. */
  private def exact(df: DataFrame): (Seq[(String, String)], Seq[Seq[Any]]) =
    (df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq,
      df.collect().map(_.toSeq).toSeq)

  test("one more PageRank round costs exactly one more Spark job") {
    val e = edges(sf001)
    GraphQueries.pageRank(spark, e, 1).collect() // warm
    val j = (1 to 3).map(n =>
      jobsRun(GraphQueries.pageRank(spark, e, n).collect()))
    info(s"pageRank jobs for 1, 2, 3 rounds: ${j.mkString(", ")}")
    // the degree census, then one job per round; the driver's rank
    // arithmetic and the top-20 run no job
    assert(j == Seq(2, 3, 4), s"jobs per iteration count: $j")
  }

  test("one more label-propagation round costs exactly one more Spark job") {
    val e = subgraph(sf001)
    GraphQueries.labelComponents(spark, e, 1).collect() // warm
    val j = (1 to 3).map(n =>
      jobsRun(GraphQueries.labelComponents(spark, e, n).collect()))
    info(s"labelComponents jobs for 1, 2, 3 rounds: ${j.mkString(", ")}")
    assert(j == Seq(1, 2, 3), s"jobs per round count: $j")
  }

  test("PageRank is bit-identical to the join-per-round form") {
    for (dir <- Seq(sf001, "/root/testdata/sf0.01"); iters <- Seq(1, 3)) {
      val e = edges(dir)
      assert(exact(GraphQueries.pageRank(spark, e, iters)) ==
        exact(refPageRank(e, iters)), s"$dir, $iters rounds")
    }
  }

  test("label propagation is bit-identical to the join-per-round form") {
    for (dir <- Seq(sf001, "/root/testdata/sf0.01"); rounds <- Seq(1, 3)) {
      val e = subgraph(dir)
      assert(exact(GraphQueries.labelComponents(spark, e, rounds)) ==
        exact(refComponents(e, rounds)), s"$dir, $rounds rounds")
    }
    // the full fulfillment graph collapses into few, large groups
    val e = edges(sf001)
    assert(exact(GraphQueries.labelComponents(spark, e, 2)) ==
      exact(refComponents(e, 2)))
  }

  test("an empty edge frame ranks and labels nothing") {
    val e = edges(sf001).limit(0).localCheckpoint()
    val pr = GraphQueries.pageRank(spark, e)
    assert(pr.columns.toSeq == Seq("node", "kind", "key", "rank"))
    assert(pr.collect().isEmpty)
    val cc = GraphQueries.labelComponents(spark, e)
    assert(cc.columns.toSeq == Seq("label", "members"))
    assert(cc.collect().isEmpty)
  }
}
