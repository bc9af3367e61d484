package perfbench

import graft.pipeline.{IndexSync, Metrics, WalkServe}
import graft.pipeline.VectorSync.VecEvent
import graft.queries.{GraphServing, IndexedLayout, KnnGraphBuild}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The `index_serve` workload: vector writes beside reads. Set-up
  * bootstraps an `IndexedLayout`, a `KnnGraphBuild` graph and a
  * `GraphServing` pack from a seeded corpus. Then open-loop vector CDC goes
  * through `IndexSync.start` into the layout (compactEvery = 4) while
  * open-loop query vectors go through `WalkServe.start` over the pack
  * (foldEvery = 4), both from one generator thread, so the write path
  * (apply, compaction) and the serving read path share the cores.
  *
  * The CDC stream maintains the layout only. With the graph and the pack
  * maintained too, one CDC micro-batch takes about 15 s on 4 cores, longer
  * than a whole measured phase; graph and pack are timed in set-up.
  */
object IndexServe {
  val Dim = 64
  val Corpus = 300
  val Clusters = 16
  val CdcEps = 100
  val QueryQps = 30
  val K = 5
  val TailP = 90.0
  val WarmS = 2

  /** Completion time of every micro-batch of the registered queries, with
    * the source rows it consumed, in batch order.
    */
  final class Commits extends StreamingQueryListener {
    val batches = new ConcurrentHashMap[java.util.UUID, mutable.ArrayBuffer[(Long, Double)]]()
    def watch(id: java.util.UUID): Unit = batches.put(id, mutable.ArrayBuffer())
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val b = batches.get(e.progress.id)
      if (b != null) b.synchronized { b += ((e.progress.numInputRows, OpenLoop.nowMs)) }
    }
    /** Rows consumed and commit time of each micro-batch, in order. */
    def commitTimes(id: java.util.UUID): Seq[(Long, Double)] = {
      val b = batches.get(id)
      b.synchronized(b.toList)
    }
    def consumed(id: java.util.UUID): Long = commitTimes(id).map(_._1).sum
  }

  /** Seeded vectors: unit-length points scattered around fixed centroids. */
  final class Vectors(seed: Long) {
    private val rng = new scala.util.Random(seed)
    private val centroids = Array.fill(Clusters)(unit(Array.fill(Dim)(rng.nextGaussian().toFloat)))
    private def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    def next(): Array[Float] = {
      val c = centroids(rng.nextInt(Clusters))
      unit(c.map(_ + 0.35f * rng.nextGaussian().toFloat))
    }
    def nextInt(n: Int): Int = rng.nextInt(n)
    def nextDouble(): Double = rng.nextDouble()
  }

  final case class Stores(layout: String, graph: String, pack: String)

  /** Write the three stores from the corpus; returns them with the seconds
    * each store's build took (layout, graph, pack).
    */
  def bootstrap(spark: SparkSession, ctx: Ctx, corpus: Seq[(Long, Array[Float])],
      rep: Int): (Stores, Seq[Double]) = {
    import spark.implicits._
    val s = Stores(ctx.dir(s"index/layout$rep"), ctx.dir(s"index/graph$rep"),
      ctx.dir(s"index/pack$rep"))
    val emb = corpus.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .localCheckpoint()
    def timed(name: String)(body: => Unit): Double = {
      val t = System.nanoTime()
      ctx.tracer.time(name)(_ => body)
      (System.nanoTime() - t) / 1e9
    }
    val times = Seq(
      timed("index.bootstrap.layout")(IndexedLayout.write(spark, emb, s.layout, kCells = 8)),
      timed("index.bootstrap.graph")(
        KnnGraphBuild.build(spark, emb, s.graph, K, tables = 8, bitsOverride = 6)),
      timed("index.bootstrap.pack")(GraphServing.build(spark, s.graph, emb, s.pack)))
    (s, times)
  }

  def run(ctx: Ctx): Outcome = {
    implicit val spark: SparkSession = ctx.spark
    val tracer = ctx.tracer
    val sentinel = Main.sentinelSeconds()
    val vecs = new Vectors(ctx.seed)
    val corpus = (0 until Corpus).map(i => (i.toLong, vecs.next()))
    val commits = new Commits
    spark.streams.addListener(commits)
    val loops = new LoopListener(tracer)
    spark.streams.addListener(loops)

    // set-up, three times at once on three threads: bootstrap layout, graph
    // and serving pack from the seeded corpus. A bootstrap is mostly cold
    // JIT and per-job overhead: one alone takes about 22 s on 4 cores,
    // three at once about 25 s. The first set of stores serves the run.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val reps = try {
      (0 until 3).map(rep => pool.submit(() => bootstrap(spark, ctx, corpus, rep)))
        .map(_.get)
    } finally pool.shutdown()
    val stores = reps.head._1
    val buildS = reps.map(_._2)
    val repS = buildS.map(_.sum)
    ctx.mark("bootstrap")
    val cdcDir = ctx.dir("index/cdc")
    val qDir = ctx.dir("index/queries")
    val outDir = ctx.dir("index/out")
    val vecEnc = org.apache.spark.sql.Encoders.product[VecEvent]
    val maintainer = IndexSync.start(
      spark.readStream.schema(vecEnc.schema).json(cdcDir).as(vecEnc),
      stores.layout, graphDir = null, ctx.dir("index/ckpt_cdc"), compactEvery = 4)
    val qSchema = "q_id BIGINT, q_emb ARRAY<FLOAT>"
    val serving = WalkServe.start(spark.readStream.schema(qSchema).json(qDir),
      stores.pack, outDir, ctx.dir("index/ckpt_walk"), k = K, foldEvery = 4)
    Seq(maintainer.id -> "index.cdc", serving.query.id -> "walk.serve").foreach {
      case (id, name) => commits.watch(id); loops.register(id, name)
    }

    // the generator: one thread, 100 ms ticks, a CDC file and a query file
    // per tick, each row stamped with its tick's due time
    val live = mutable.LinkedHashSet[Long]() ++ corpus.map(_._1)
    var nextId = 1000000L
    var seq = 0L
    var qid = 0L
    val cdcDue = mutable.ArrayBuffer[Double]()
    val qDue = mutable.ArrayBuffer[Double]()
    val late = mutable.ArrayBuffer[Double]()
    var tick = 0L
    var backlogCdc = 0L
    var backlogQ = 0L
    def write(dir: String, lines: Seq[String]): Unit = {
      tick += 1
      OpenLoop.writeAtomically(dir, f"t$tick%08d.json", lines.mkString("", "\n", "\n"))
    }
    def vec(v: Array[Float]) = v.mkString("[", ",", "]")
    def generate(seconds: Double): Unit = {
      late ++= OpenLoop.run(seconds) { (k, due) =>
        tracer.time("gen.tick") { _ =>
          val cdc = (0 until OpenLoop.dueInTick(CdcEps, k)).map { _ =>
            seq += 1
            val r = vecs.nextDouble()
            val (kind, id) =
              if (r < 0.25 && live.size > Corpus / 2) {
                val id = live.iterator.drop(vecs.nextInt(live.size)).next()
                live -= id; ("DELETE", id)
              } else if (r < 0.5) { nextId += 1; live += nextId; ("ADD", nextId) }
              else {
                val id = live.iterator.drop(vecs.nextInt(live.size)).next()
                ("UPDATE", id)
              }
            val emb = if (kind == "DELETE") "[]" else vec(vecs.next())
            s"""{"event_type":"$kind","event_seq":$seq,"vec_id":$id,"embedding":$emb,"label":0}"""
          }
          if (cdc.nonEmpty) { write(cdcDir, cdc); cdc.foreach(_ => cdcDue += due) }
          val qs = (0 until OpenLoop.dueInTick(QueryQps, k)).map { _ =>
            qid += 1
            s"""{"q_id":$qid,"q_emb":${vec(vecs.next())}}"""
          }
          if (qs.nonEmpty) { write(qDir, qs); qs.foreach(_ => qDue += due) }
        }
        backlogCdc = math.max(backlogCdc, cdcDue.size - commits.consumed(maintainer.id))
        backlogQ = math.max(backlogQ, qDue.size - commits.consumed(serving.query.id))
      }
    }

    // warm phase (part of set-up): both loops run back to back by its end,
    // then the measured phase
    val tw = System.nanoTime()
    generate(WarmS)
    val setupS = ctx.baseSetupS + Stats.median(repS) + (System.nanoTime() - tw) / 1e9
    ctx.mark("warm")
    loops.reset()
    backlogCdc = 0; backlogQ = 0
    val (q0, c0) = (qDue.size, cdcDue.size)
    val lateFrom = late.size
    val jobs = new JobListener
    if (tracer.enabled) spark.sparkContext.addSparkListener(jobs)
    tracer.time("gen.measured")(_ => generate(ctx.seconds))
    val (q1, c1) = (qDue.size, cdcDue.size)
    val lateMeasured = late.slice(lateFrom, late.size).toSeq
    ctx.mark("measured")

    // drain: every query answered and every CDC event committed
    Main.waitFor(90000)(commits.consumed(serving.query.id) >= q1 &&
      commits.consumed(maintainer.id) >= c1)
    val measuredSpark = Seq("spark.cpu_s" -> jobs.sum(_.cpuNs) / 1e9,
      "spark.jobs" -> jobs.sum(_.jobs).toDouble,
      "spark.shuffle_bytes" -> jobs.sum(_.shuffleBytes).toDouble)
    val walkMs = latencies(commits.commitTimes(serving.query.id), qDue.toSeq, q0, q1)
    val freshMs = latencies(commits.commitTimes(maintainer.id), cdcDue.toSeq, c0, c1)
    serving.stop()
    maintainer.stop()
    ctx.mark("drain")

    // correctness: every query answered with k neighbours, and the layout's
    // live corpus equals the model's (bootstrap + adds - deletes)
    val answered = WalkServe.results(spark, outDir).groupBy("q_id").count()
      .filter(col("count") === K).count()
    val liveIds = IndexedLayout.readCorpus(spark, stores.layout).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val wrongIds = (liveIds -- live) ++ (live -- liveIds)
    val unanswered = qDue.size - answered
    ctx.mark("check")
    val notes = mutable.ArrayBuffer[String]()
    val s = Stats.summary(walkMs, TailP)
    notes += s.describe("walk ms (measured)")
    notes += Stats.summary(walkMs, 99.0).describe("walk ms (measured)")
    notes += buildS.map(_.map(t => f"$t%.2f").mkString("/")).mkString(
      "set-up reps, layout/graph/pack (s): ", ", ", "")
    notes += f"index_serve: corpus $Corpus, cdc $CdcEps ev/s, queries $QueryQps q/s, " +
      f"${ctx.seconds} s measured, sentinel_s=$sentinel%.3f"
    if (unanswered > 0) notes += s"UNANSWERED $unanswered of ${qDue.size} queries"
    if (wrongIds.nonEmpty) notes += s"WRONG layout ids: ${wrongIds.take(20).mkString(",")}"

    val layers = mutable.Map[String, Double]()
    if (tracer.enabled) {
      val f = Stats.summary(freshMs, TailP)
      val w99 = Stats.summary(walkMs, 99.0)
      val f99 = Stats.summary(freshMs, 99.0)
      notes += f.describe("fresh ms (measured)")
      notes += f99.describe("fresh ms (measured)")
      layers ++= loops.metrics("index.cdc") ++ loops.metrics("walk.serve") ++ measuredSpark
      layers("index.walk_p50_ms") = s.p50
      layers("index.walk_p99_ms") = w99.tail
      layers("index.fresh_p50_ms") = f.p50
      layers("index.fresh_p99_ms") = f99.tail
      layers("index.backlog_events.max") = backlogCdc.toDouble
      layers("walk.backlog_queries.max") = backlogQ.toDouble
      layers("gen.late_ms.max") = lateMeasured.max
      // store counters over the whole run (warm, measured and drain): the
      // measured phase alone holds too few batches for them
      layers("layout.epochs") = IndexedLayout.describe(spark, stores.layout).epoch.toDouble
      layers("index.compactions") =
        Metrics.global.value("graft_indexsync_compactions_total").toDouble
      Seq("layout", "graph", "pack").zipWithIndex.foreach { case (st, i) =>
        layers(s"index.bootstrap.${st}_s") = Stats.median(buildS.map(_(i)))
      }
      layers("host.sentinel_s") = sentinel
    }
    Outcome(qDue.size + cdcDue.size, unanswered + wrongIds.size,
      Map("setup_s" -> setupS, "p50_ms" -> s.p50, "tail_ms" -> s.tail),
      layers.toMap, notes.toSeq)
  }

  /** Latency (ms) of rows [from, to) of a stream: the commit time of the
    * micro-batch that consumed row i minus row i's due time. Files are
    * consumed in write order, so row i lands in the first batch whose
    * cumulative input count exceeds i.
    */
  def latencies(batches: Seq[(Long, Double)], due: Seq[Double],
      from: Int, to: Int): Seq[Double] = {
    val out = mutable.ArrayBuffer[Double]()
    var consumed = 0L
    batches.foreach { case (n, t) =>
      var i = consumed
      while (i < consumed + n) {
        if (i >= from && i < to) out += t - due(i.toInt)
        i += 1
      }
      consumed += n
    }
    out.toSeq
  }
}
