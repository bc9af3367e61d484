package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The driver-held walk state of [[GraphSearch.walk]]: a batch costs a
  * fixed number of Spark jobs per round whatever its size (no per-round
  * shuffle or checkpoint), ties and duplicates rank by the Spark window
  * keys (cos_r desc, vec_id asc), a q_id carried twice keeps the max
  * score, and the pack's walk stays row-identical to the frame-based
  * [[GraphSearch.beamTopK]] under the pack's seeds.
  */
class GraphWalkStateSpec extends SparkSpec {

  private val kk = 5

  private def emb = graft.Tables.embeddings(spark, sf001)
    .select("vec_id", "embedding")

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def tmp(p: String) = {
    val d = java.nio.file.Files.createTempDirectory(p).toString
    sys.addShutdownHook(org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(d)))
    d
  }

  /** (graph dir, pack dir) over `corpus`. */
  private def pack(corpus: DataFrame, name: String): (String, String) = {
    val gd = tmp(s"${name}_graph")
    val pd = tmp(s"${name}_pack")
    KnnGraphBuild.build(spark, corpus, gd, k = kk)
    GraphServing.build(spark, gd, corpus, pd)
    (gd, pd)
  }

  /** The frame-based walk under the pack's persisted seeds — same n, so
    * its adaptive (beam, iters) resolve to the pack's pinned ones.
    */
  private def frameWalk(corpus: DataFrame, gd: String, pd: String,
      q: DataFrame): DataFrame =
    GraphSearch.beamTopK(spark, KnnGraphBuild.readGraph(spark, gd), corpus,
      q, kk, seeds = GraphServing.readSeeds(spark, pd))

  /** Brute round-6 cosine for every (q_id, vec_id) pair, max over a
    * q_id's embeddings — the score the walk ranks by — beside its
    * round-4 `cos` as the walk reports it.
    */
  private def bruteCos(corpus: DataFrame,
      q: DataFrame): Map[(Long, Long), (Double, Double)] = {
    import graft.functions.VectorFunctions._
    q.withColumn("q_n", l2Norm(col("q_emb")))
      .crossJoin(corpus.withColumn("nrm", l2Norm(col("embedding"))))
      .withColumn("cos_r", round(cosineWithNorms(col("q_emb"),
        col("embedding"), col("q_n"), col("nrm")), 6))
      .groupBy("q_id", "vec_id").agg(max("cos_r").as("cos_r"))
      .select(col("q_id"), col("vec_id"), col("cos_r"),
        graft.Canon.r4(col("cos_r")))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
  }

  test("one topK costs a fixed job count per round, the same for a 1-query and a 100-query batch") {
    val (_, pd) = pack(emb, "gws_jobs")
    val h = GraphServing.open(spark, pd)
    def batch(n: Int) = emb.orderBy("vec_id").limit(n)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .localCheckpoint()
    val (q1, q100) = (batch(1), batch(100))
    h.topK(q1, kk).collect() // warm: the adjacency reader's first listing
    val j1 = jobsRun(h.topK(q1, kk).collect())
    val j100 = jobsRun(h.topK(q100, kk).collect())
    val iters = h.meta.iters
    info(s"jobs per topK: 1 query = $j1, 100 queries = $j100 ($iters rounds)")
    // measured: one job collects the query batch (a checkpointed frame —
    // a local relation, as WalkServe passes, needs none), one scores the
    // seeds, then ONE adjacency-read-and-score job per round: 7 for the
    // fixture's 5 rounds. A per-round shuffle, window, checkpoint or
    // broadcast would add jobs here
    assert(j1 == j100, s"job count grew with the batch: $j1 vs $j100")
    assert(j1 <= iters + 2, s"$j1 jobs for $iters rounds")
  }

  test("exact-duplicate vectors rank (cos desc, vec_id asc), never the query itself, and match the frame-based walk") {
    // every base vector carried three times: ids v, v + 100000, v + 200000
    // hold the SAME embedding, so each query's nearest results tie exactly
    val base = emb.orderBy("vec_id").limit(120)
    val corpus = base
      .unionByName(base.withColumn("vec_id", col("vec_id") + 100000L))
      .unionByName(base.withColumn("vec_id", col("vec_id") + 200000L))
      .localCheckpoint()
    val (gd, pd) = pack(corpus, "gws_dups")
    val q = base.orderBy("vec_id").limit(20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .localCheckpoint()
    val got = GraphServing.open(spark, pd).topK(q, kk)
    val rows = got.collect()
    val cos = bruteCos(corpus, q)
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 20 && byQ.values.forall(_.length == kk))
    var ties = 0
    byQ.foreach { case (qid, rs) =>
      val ranked = rs.sortBy(_.getInt(1))
      assert(ranked.map(_.getInt(1)).toSeq == (1 to kk))
      assert(!ranked.exists(_.getLong(2) == qid), s"query $qid returned itself")
      ranked.sliding(2).foreach { case Array(a, b) =>
        val (ca, cb) = (cos((qid, a.getLong(2)))._1, cos((qid, b.getLong(2)))._1)
        assert(ca > cb || (ca == cb && a.getLong(2) < b.getLong(2)),
          s"query $qid ranks ${a.getLong(2)} ($ca) before ${b.getLong(2)} ($cb)")
        if (ca == cb) ties += 1
      }
      ranked.foreach(r => assert(r.getDouble(3) == cos((qid, r.getLong(2)))._2))
    }
    info(s"$ties tied neighbours ranked by vec_id")
    assert(ties > 0, "the fixture must exercise exact ties")
    assert(canon(got) == canon(frameWalk(corpus, gd, pd, q)),
      "index-regime and frame-based walks diverged on duplicates")
  }

  test("a q_id carried twice in one batch ranks by its max score, like the frame-based walk") {
    val (gd, pd) = pack(emb, "gws_dupq")
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // q_id 0 also carries vector 7's embedding
    val twice = q.unionByName(emb.filter(col("vec_id") === 7)
      .select(lit(0L).as("q_id"), col("embedding").as("q_emb")))
      .localCheckpoint()
    val got = GraphServing.open(spark, pd).topK(twice, kk)
    val rows = got.collect()
    val cos = bruteCos(emb, twice)
    val zero = rows.filter(_.getLong(0) == 0L).sortBy(_.getInt(1))
    assert(zero.length == kk && zero.map(_.getLong(2)).distinct.length == kk,
      "a duplicated q_id must answer k distinct ids")
    // each score is the max over both embeddings, ranked on it
    zero.foreach(r => assert(r.getDouble(3) == cos((0L, r.getLong(2)))._2))
    // vector 7 scores 1.0 against its own embedding — the max wins
    assert(zero.head.getLong(2) == 7L && zero.head.getDouble(3) == 1.0)
    assert(canon(got) == canon(frameWalk(emb, gd, pd, twice)))
  }
}
