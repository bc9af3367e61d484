package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** What a workload hands back: the operation counts, the end-to-end
  * metrics (untraced run) or per-layer metrics (traced run), and notes
  * printed above the result line (sample counts, failing operations).
  */
final case class Outcome(attempted: Long, failed: Long,
    endToEnd: Map[String, Double], perLayer: Map[String, Double],
    notes: Seq[String])

/** Everything a workload needs from the launcher. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    seconds: Int, work: Path, data: Path, baseSetupS: Double, startNs: Long) {
  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d.toString
  }

  private val marks = scala.collection.mutable.ArrayBuffer[(String, Long)]("start" -> startNs)

  /** Mark the end of a phase of the run, for the wall-time breakdown. */
  def mark(phase: String): Unit = marks.synchronized { marks += phase -> System.nanoTime() }

  def phases: String = marks.synchronized {
    marks.toSeq.sliding(2).collect { case Seq((_, a), (n, b)) => f"$n ${(b - a) / 1e9}%.1f s" }
      .mkString("wall time by phase: ", ", ", "")
  }
}

/** Benchmark entry point; run through perfbench/run.py, which builds the
  * classpath, generates the catalog tables and passes:
  *   --workload sync_stream|catalog|index_serve --seed N --seconds S
  *   --trace 0|1 --work DIR --data DIR --pre-setup-s SECONDS
  *   --benchmark BENCHMARK.json
  * The last stdout line is the JSON result: the end-to-end metrics of
  * BENCHMARK.json (untraced run) or its per-layer metrics (traced run).
  */
object Main {
  /** The metrics BENCHMARK.json declares, in order, with their units. */
  final case class Declared(endToEnd: Seq[(String, String)], perLayer: Seq[(String, String)])

  def declared(path: Path): Declared = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    def list(key: String) = root.get(key).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    Declared(list("end_to_end"), list("per_layer"))
  }

  def main(args: Array[String]): Unit =
    try { run(args); System.exit(0) }
    catch {
      // exit even when a workload left non-daemon threads (receiver, API
      // server) behind; the launcher then reports the missing result
      case e: Throwable => e.printStackTrace(); System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val decl = declared(Paths.get(opts("benchmark")))
    Files.createDirectories(work)
    val spark = session(Runtime.getRuntime.availableProcessors(), work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, new Tracer(trace), opts("seed").toLong,
      opts("seconds").toInt, work, Paths.get(opts.getOrElse("data", work.toString)),
      opts.getOrElse("pre-setup-s", "0").toDouble + sessionS, t0)
    ctx.mark("session")
    val out = workload match {
      case "sync_stream" => SyncStream.run(ctx)
      case "catalog"     => CatalogRun.run(ctx)
      case "index_serve" => IndexServe.run(ctx)
      case other         => sys.error(s"unknown workload $other")
    }
    if (trace) {
      ctx.tracer.write(work.resolve("spans.jsonl"))
      // layer self time: each span minus the union of its children
      Tracer.selfSeconds(ctx.tracer.all).toSeq.sortBy(-_._2).foreach { case (n, v) =>
        println(f"# self time $n%-40s $v%.3f s")
      }
    }
    ctx.mark("report")
    (out.notes :+ ctx.phases).foreach(n => println(s"# $n"))
    val layers = out.perLayer +
      ("error_ratio" -> out.failed.toDouble / math.max(1L, out.attempted))
    // a traced run reports every per-layer metric, 0 where one belongs to
    // another workload
    val metrics =
      if (trace) decl.perLayer.map { case (k, u) => (k, layers.getOrElse(k, 0.0), u) }
      else decl.endToEnd.map { case (k, u) => (k, out.endToEnd(k), u) }
    val undeclared = (if (trace) layers.keySet else out.endToEnd.keySet) --
      metrics.map(_._1)
    undeclared.toSeq.sorted.foreach { k =>
      println(s"# not in BENCHMARK.json: $k = ${layers.getOrElse(k, out.endToEnd.getOrElse(k, 0.0))}")
    }
    // the end-to-end values under tracing, for the tracing overhead
    if (trace) decl.endToEnd.foreach { case (k, u) =>
      println(f"# traced $k ${out.endToEnd(k)} $u")
    }
    metrics.foreach { case (k, v, u) => println(f"# $k%-40s $v%.4f $u") }
    val body = metrics.map { case (k, v, u) =>
      s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
    }.mkString(", ")
    println(s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": {$body}}""")
    System.out.flush()
    spark.stop()
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("ckpt").toString)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(work.resolve("rdd-ckpt").toString)
    s
  }

  /** A fixed in-memory computation timed at run start: a read of how fast
    * the host is right now, independent of the engine.
    */
  def sentinelSeconds(): Double = {
    val t0 = System.nanoTime()
    var h = 0L
    var i = 0L
    while (i < 200000000L) { h = h * 31 + (i ^ (h >>> 7)); i += 1 }
    if (h == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Poll `cond` every 50 ms until it holds or `timeoutMs` passes. */
  def waitFor(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(50)
    cond
  }
}
