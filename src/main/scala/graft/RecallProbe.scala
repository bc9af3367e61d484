package graft

/** ANN tuning probe: recall@k of each approximate similarity query vs the
  * exact ranking, with wall-clock, at an arbitrary sf-dir — the measurement
  * loop behind the QualityChecksSpec/KnnGraphSpec floors (the specs pin
  * sf0.001; the floors are tuned so sf0.1 clears them too). All recall math
  * goes through [[Recall]] — the same code path the specs assert against.
  * `runMain graft.RecallProbe [sfDir]`.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(32)

    def run(name: String): (Array[org.apache.spark.sql.Row], Double) = {
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, sfDir).collect()
      (rows, (System.nanoTime() - t0) / 1e9)
    }

    // warm once so JIT/codegen doesn't pollute the comparison
    Seq("q_sim_topk", "q_sim_topk_lsh", "q_sim_ivf_kmeans", "q_sim_topk_pq",
      "q_sim_knn_graph")
      .foreach(n => SparkEntry.queries(n)(spark, sfDir).count())

    // one exact run serves both cut-offs — rnk<=3 is a filter of rnk<=5
    val (exactRows, tExact) = run("q_sim_topk")
    val exact5 = Recall.pairs(exactRows, 5)
    val e3 = Recall.pairs(exactRows, 3)
    val results = Seq(
      ("q_sim_topk_lsh", 5, exact5), ("q_sim_ivf_kmeans", 3, e3),
      ("q_sim_topk_pq", 5, exact5)).map { case (name, k, exact) =>
      val (rows, secs) = run(name)
      val recall = Recall.of(exact, Recall.pairs(rows, k))
      f""""$name":{"recall@$k":$recall%.3f,"sec":$secs%.2f}"""
    }
    // the graph query's oracle is the full brute-force graph, not the
    // 10-query exact run — every vector is a query
    val knn = {
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries("q_sim_knn_graph")(spark, sfDir).collect()
      val secs = (System.nanoTime() - t0) / 1e9
      val exact = Recall.pairs(
        graft.queries.VectorQueries.bruteKnnGraph(spark, sfDir, 5).collect(), 5)
      val recall = Recall.of(exact, Recall.pairs(rows, 5))
      f""""q_sim_knn_graph":{"recall@5":$recall%.3f,"sec":$secs%.2f}"""
    }
    println(s"""{"sf":"$sfDir","exact_sec":$tExact,${(results :+ knn).mkString(",")}}""")
    spark.stop()
  }
}
