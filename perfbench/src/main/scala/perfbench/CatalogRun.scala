package perfbench

import graft.queries._
import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** The `catalog` workload: catalog rows executed through the noop sink (so
  * Catalyst cannot prune what a row computes) over the generated tables,
  * in a seed-shuffled order, pass after pass until the run's time is up.
  * Every row's output is fingerprinted once per run, untimed.
  */
object CatalogRun {
  val Modules: Seq[(String, Seq[GQuery])] = Seq(
    "Relational" -> RelationalQueries.qs, "Agg" -> AggQueries.qs,
    "Window" -> WindowQueries.qs, "Set" -> SetQueries.qs,
    "Scalar" -> ScalarQueries.qs, "StreamBatch" -> StreamBatchQueries.qs,
    "Text" -> TextQueries.qs, "Corpus" -> CorpusQueries.qs,
    "Quality" -> QualityQueries.qs, "Vector" -> VectorQueries.qs,
    "Graph" -> GraphQueries.qs, "Source" -> SourceQueries.qs,
    "MatView" -> MatView.qs, "ZOrderLayout" -> ZOrderLayout.qs)

  /** Rows whose results are approximate by design (no exact oracle):
    * fingerprinted by row count only.
    */
  val CountOnly: Set[String] = Set("q_agg_approx", "q_sim_ivf_kmeans",
    "q_sim_knn_graph", "q_sim_knn_graph_ivf", "q_sim_mmr", "q_sim_topk_graph",
    "q_sim_topk_graph_filtered", "q_sim_topk_graph_idx", "q_sim_topk_lsh",
    "q_sim_topk_pq")

  val Heavy: Seq[String] = Seq("q_dedup_minhash", "q_agg_approx",
    "q_events_resample", "q_graph_pagerank", "q_dedup_jaccard",
    "q_corpus_decontam")

  /** The timed subset, one row from each module: three kernel- or
    * iteration-heavy rows (MinHash dedup, benchmark decontamination,
    * connected components; about 1.2-1.4 s each, and slower under noop
    * than under count()), the materialized-view lifecycle and the z-order
    * layout (store writes, about 2 s and 1.5 s), and nine rows dominated
    * by per-job overhead. A warm pass takes about 9.5 s on 4 cores.
    */
  val Timed: Seq[String] = Seq(
    "q_matview_refresh", "q_layout_zorder", "q_dedup_minhash",
    "q_graph_components", "q_corpus_decontam", "q_stream_tumbling",
    "q_sort_topk", "q_agg_unpivot", "q_win_topk_rule", "q_set_exceptall",
    "q_kube_id", "q_mm_resize", "q_pack_overlap", "q_emb_quant")

  /** The five slow rows of the subset, 1-2 s each; the nine others are
    * light (0.1-0.5 s), and the median execution is one of theirs.
    */
  val Slow: Set[String] = Timed.take(5).toSet
  /** Timed passes over the whole subset. */
  val FullPasses = 1
  /** Timed passes a run makes at least. Those after the full one run the
    * light rows only: they cost little, and they put 36 of the 41
    * executions around the median, so that the p50 is not one light row's
    * time but a quantile of many.
    */
  val MinPasses = 4
  /** The p75 of all row executions (41, 10 beyond it), printed beside the
    * result.
    */
  val TailP = 75.0

  final case class Row(q: GQuery, module: String) {
    def name: String = q.name
  }

  def rows: Seq[Row] = Modules.flatMap { case (m, qs) =>
    qs.filter(_.bench).map(Row(_, m))
  }

  def mean(xs: Iterable[Double]): Double = xs.sum / xs.size

  /** Noop-sink execution: every projected column is computed. */
  def execute(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dataDir = ctx.data.toString
    val tracer = ctx.tracer
    val sentinel = Main.sentinelSeconds()
    val all = Timed.flatMap(q => rows.find(_.name == q))
    val rng = new scala.util.Random(ctx.seed)
    val pinned = Pins.load(ctx.work.resolve("fingerprints.json"))

    // set-up: one untimed pass that checks every row's output against its
    // pinned fingerprint. It computes every projected column, as the noop
    // sink does, so it also warms codegen and the JIT for the timed passes
    // (a count() warm-up would leave pruned expressions uncompiled). The
    // rows run on one thread per core, as a cold pass is mostly JIT and
    // per-job overhead; the timed passes run them one at a time. The
    // longest rows come first in Timed, so they start first.
    val tw = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    val fps = try {
      val futures = all.map { r =>
        pool.submit(() => scala.util.Try(Fingerprint.of(r.q.fn(spark, dataDir))))
      }
      all.map(_.name).zip(futures.map(_.get))
    } finally pool.shutdown()
    var threw = fps.collect { case (n, scala.util.Failure(e)) => s"$n: ${e.getMessage}" }.toList
    val mismatched = fps.collect { case (n, scala.util.Success(f)) =>
      val want = pinned.get(n)
      val ok = want.exists { case (rows, h) => rows == f.rows && (CountOnly(n) || h == f.hex) }
      if (ok) None
      else Some(s"$n: got rows=${f.rows} hash=${f.hex}, pinned ${want.getOrElse("none")}")
    }.flatten
    if (sys.env.get("PERFBENCH_PIN").contains("1"))
      Pins.write(ctx.work.resolve("fingerprints.out.json"), fps.collect {
        case (n, scala.util.Success(f)) => n -> (f.rows, if (CountOnly(n)) null else f.hex) })
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = ctx.baseSetupS + warmS
    ctx.mark("fingerprint")
    val jobs = new JobListener
    if (tracer.enabled) spark.sparkContext.addSparkListener(jobs)

    // timed passes
    val opMs = mutable.ArrayBuffer[Double]()
    val runS = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    var passes = 0
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var attempted = 0L
    // no pass starts that would end past the deadline, unless the run
    // still lacks the samples its tail percentile needs
    var lastPass = 0L
    while (passes < MinPasses || System.nanoTime() + lastPass < deadline) {
      val tp = System.nanoTime()
      val pass = if (passes < FullPasses) all else all.filterNot(r => Slow(r.name))
      rng.shuffle(pass).foreach { r =>
        attempted += 1
        spark.sparkContext.setJobGroup(r.name, r.name, interruptOnCancel = false)
        try {
          tracer.time(s"catalog.row.${r.name}") { parent =>
            val t0 = System.nanoTime()
            val df = tracer.time("catalog.build", parent)(_ => r.q.fn(spark, dataDir))
            tracer.time("catalog.run", parent)(_ => execute(df))
            val t2 = System.nanoTime()
            opMs += (t2 - t0) / 1e6
            runS.getOrElseUpdate(r.name, mutable.ArrayBuffer()) += (t2 - t0) / 1e9
          }
        } catch { case e: Throwable => threw ::= s"${r.name}: ${e.getMessage}" }
        finally spark.sparkContext.clearJobGroup()
      }
      passes += 1
      lastPass = System.nanoTime() - tp
    }
    ctx.mark("passes")
    // Spark totals of the timed passes, before the traced run's extra rows
    val timedSpark = Seq("spark.cpu_s" -> jobs.sum(_.cpuNs) / 1e9,
      "spark.jobs" -> jobs.sum(_.jobs).toDouble,
      "spark.shuffle_bytes" -> jobs.sum(_.shuffleBytes).toDouble)

    // p50: the median of all timed executions. tail: the subset's
    // completion time, each row at its mean execution time (a row's
    // executions get faster pass by pass, and the mean weighs that drift
    // the same way in every run, where a median of two or four picks
    // between passes)
    val s = Stats.summary(opMs.toSeq, TailP)
    val subsetMs = runS.values.map(mean).sum * 1000
    val layers = mutable.Map[String, Double]()
    if (tracer.enabled) {
      // the heavy rows outside the timed subset: one warm run, one timed
      rows.filter(r => Heavy.contains(r.name) && !Timed.contains(r.name)).foreach { r =>
        try {
          execute(r.q.fn(spark, dataDir))
          spark.sparkContext.setJobGroup(r.name, r.name, interruptOnCancel = false)
          val t0 = System.nanoTime()
          tracer.time(s"catalog.row.${r.name}")(_ => execute(r.q.fn(spark, dataDir)))
          runS(r.name) = mutable.ArrayBuffer((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable => threw ::= s"${r.name}: ${e.getMessage}" }
        finally spark.sparkContext.clearJobGroup()
      }
      layers ++= traced(ctx, jobs, runS.map { case (k, v) => k -> v.toSeq }.toMap)
      layers ++= timedSpark
      layers("host.sentinel_s") = sentinel
    }
    val notes = Seq(s.describe("catalog row ms (all executions)"),
      f"catalog: subset $subsetMs%.1f ms over ${all.size} rows, $passes passes " +
        s"($FullPasses over all rows), sentinel_s=$sentinel",
      runS.toSeq.sortBy(kv => mean(kv._2)).map { case (q, v) =>
        s"$q " + v.map(x => f"${x * 1000}%.0f").mkString("/") }.mkString("row ms by pass: ", ", ", ""),
      f"setup: session+data ${ctx.baseSetupS}%.2f s, fingerprint pass $warmS%.2f s") ++
      threw.reverse.map("THREW " + _) ++ mismatched.map("MISMATCH " + _)
    Outcome(attempted + all.size, threw.size.toLong + mismatched.size,
      Map("setup_s" -> setupS, "p50_ms" -> s.p50, "tail_ms" -> subsetMs),
      layers.toMap, notes)
  }

  /** Per-layer metrics of the traced run, from the row timings (seconds per
    * execution) and the job listener's per-row job groups.
    */
  private def traced(ctx: Ctx, jobs: JobListener,
      runS: Map[String, Seq[Double]]): Map[String, Double] = {
    val spark = ctx.spark
    val dataDir = ctx.data.toString
    val out = mutable.Map[String, Double]()
    val byName = rows.map(r => r.name -> r).toMap
    def avg(q: String) = runS.get(q).map(mean).getOrElse(0.0)
    /** Job-listener totals per execution of row q. */
    def perRun(q: String, f: jobs.Totals => Long): Double =
      runS.get(q).map(xs => f(jobs.group(q)).toDouble / xs.size).getOrElse(0.0)

    // pruning-gap receipt: each timed row under count() beside its noop mean
    val gaps = runS.keys.toSeq.sorted.map { q =>
      val t0 = System.nanoTime()
      byName(q).q.fn(spark, dataDir).count()
      q -> (avg(q), (System.nanoTime() - t0) / 1e9)
    }
    out("catalog.count_gap_s") = gaps.map { case (_, (n, c)) => n - c }.sum
    gaps.filter { case (_, (n, c)) => n > 1.5 * c + 0.05 }
      .sortBy { case (_, (n, c)) => c - n }.foreach { case (q, (n, c)) =>
        println(f"# count-gap $q%-28s noop=$n%.3f s count=$c%.3f s")
      }
    Modules.foreach { case (m, _) =>
      val qs = runS.keys.filter(byName(_).module == m).toSeq
      out(s"catalog.$m.run_s") = qs.map(avg).sum
      out(s"catalog.$m.jobs") = qs.map(perRun(_, _.jobs)).sum
      out(s"catalog.$m.cpu_s") = qs.map(perRun(_, _.cpuNs)).sum / 1e9
      out(s"catalog.$m.shuffle_bytes") = qs.map(perRun(_, _.shuffleBytes)).sum
    }
    Heavy.foreach(q => out(s"catalog.row.$q.run_s") = avg(q))
    // time inside q.fn per execution, summed over the subset's rows
    val spans = ctx.tracer.all
    val rowOf = spans.collect { case sp if sp.name.startsWith("catalog.row.") =>
      sp.id -> sp.name.stripPrefix("catalog.row.") }.toMap
    out("catalog.build_s") = spans.filter(_.name == "catalog.build")
      .groupBy(sp => rowOf.getOrElse(sp.parent, ""))
      .collect { case (q, ss) if runS.contains(q) => ss.map(_.durNs).sum / 1e9 / runS(q).size }
      .sum
    out("catalog.tasks") = runS.keys.toSeq.map(perRun(_, _.tasks)).sum
    out("catalog.gc_s") = runS.keys.toSeq.map(perRun(_, _.gcMs)).sum / 1e3
    out.toMap
  }
}

/** The pinned fingerprints file: {"q_name": {"rows": n, "hash": "hex"|null}}. */
object Pins {
  private val Entry = """"(q_\w+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"hash"\s*:\s*(null|"[0-9a-f]+")\s*\}""".r

  def load(p: java.nio.file.Path): Map[String, (Long, String)] =
    if (!java.nio.file.Files.exists(p)) Map.empty
    else Entry.findAllMatchIn(java.nio.file.Files.readString(p)).map { m =>
      m.group(1) -> (m.group(2).toLong, m.group(3).stripPrefix("\"").stripSuffix("\""))
    }.toMap

  def write(p: java.nio.file.Path, pins: Seq[(String, (Long, String))]): Unit =
    java.nio.file.Files.writeString(p, pins.sortBy(_._1).map { case (n, (r, h)) =>
      s"""  "$n": {"rows": $r, "hash": ${if (h == null) "null" else "\"" + h + "\""}}"""
    }.mkString("{\n", ",\n", "\n}\n"))
}
