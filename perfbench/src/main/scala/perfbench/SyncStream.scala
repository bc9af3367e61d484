package perfbench

import com.sun.net.httpserver.HttpServer
import graft.pipeline.{GraftSync, SyncPipeline}
import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import perfbench.SyncModel.{Delete, Delivery, Event, Upsert}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The `sync_stream` workload: the instance and CRD pipelines wired by
  * `GraftSync.wire` with deployment defaults (except a 1 s debounce window,
  * so a run sees many quiet periods), fed by an open-loop generator that
  * writes JSONL event files into the watch directory, and delivering over
  * real HTTP to an in-process receiver that stamps arrival times.
  */
object SyncStream {
  val WindowMs = 1000L
  val LiveKeys = 2000
  val NominalEps = 1000
  val WarmS = 2
  /** The fixed rate ladder of the traced run, and its delete-latency limit
    * (five flush intervals).
    */
  val Ladder = Seq(2000, 4000, 8000, 16000, 32000)
  val LadderStepS = 3
  val LadderLimitMs = 2500.0
  /** The end-to-end tail percentile. */
  val TailP = 95.0
  /** The per-layer latency percentile (and the ladder's). */
  val LayerP = 99.0

  /** In-process HTTP endpoint standing in for the vector DB's sync API. */
  final case class Receipt(tMs: Double, d: Delivery)

  final class Receiver(tracer: Tracer) {
    val receipts = new ConcurrentLinkedQueue[Receipt]()
    /** Arrival time and id count of every POST. */
    val posts = new ConcurrentLinkedQueue[(Double, Int)]()
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
    Seq("instances" -> false, "capabilities" -> true).foreach { case (path, crd) =>
      server.createContext(s"/$path", ex => {
        val t0 = System.nanoTime()
        val body = ex.getRequestBody.readAllBytes()
        val t = OpenLoop.nowMs
        val tree = mapper.readTree(body)
        var ids = 0
        Option(tree.get("deletes")).foreach(_.elements().asScala.foreach { n =>
          receipts.add(Receipt(t, Delete(n.asText, crd))); ids += 1
        })
        Option(tree.get("upserts")).foreach(_.elements().asScala.foreach { n =>
          val d = if (crd) Upsert(n.asText, "", crd = true)
            else Upsert(n.get("id").asText, n.get("labels").get("v").asText, crd = false)
          receipts.add(Receipt(t, d)); ids += 1
        })
        posts.add((t, ids))
        ex.sendResponseHeaders(200, -1)
        ex.close()
        tracer.record(s"receiver.$path", 0, t0, System.nanoTime())
      })
    }
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(2))
    server.start()
    def url(path: String) = s"http://127.0.0.1:${server.getAddress.getPort}/$path"
    def reset(): Unit = { receipts.clear(); posts.clear() }
    def stop(): Unit = {
      server.stop(0)
      server.getExecutor.asInstanceOf[java.util.concurrent.ExecutorService].shutdownNow()
    }
  }

  /** Open-loop event generator: every 100 ms tick writes the events due in
    * it as one JSONL file (atomically, by rename), each stamped with the
    * tick's due time, whether or not the pipeline keeps up.
    */
  final class Generator(seed: Long, watchDir: String, tracer: Tracer) {
    private val rng = new scala.util.Random(seed)
    private val zipf = OpenLoop.zipfCdf(LiveKeys, 1.0)
    private val slots = Array.fill[String](LiveKeys)(null)
    private val labels = Array.fill[String](LiveKeys)(null)
    private val empty = mutable.Queue[Int]()
    private val crds = mutable.ArrayBuffer[String]()
    private var gen = 0L
    private var seq = 0L
    private var tick = 0L
    val log = mutable.ArrayBuffer[Event]()
    val written = new AtomicLong
    val lateMs = mutable.ArrayBuffer[Double]()
    var onTick: () => Unit = () => ()

    private def next(): Event = {
      seq += 1
      val r = rng.nextDouble()
      if (r < 0.02) {
        if (crds.nonEmpty && r < 0.006) {
          val n = crds.remove(rng.nextInt(crds.size))
          Event("DELETE", seq, 0, n, "", crd = true)
        } else if (crds.nonEmpty && r < 0.01)
          Event("UPDATE", seq, 0, crds(rng.nextInt(crds.size)), "", crd = true)
        else {
          gen += 1
          val n = s"c$gen.bench.example.com"
          crds += n
          Event("ADD", seq, 0, n, "", crd = true)
        }
      } else if (r < 0.17 || (r < 0.32 && empty.isEmpty)) {
        val s = OpenLoop.sample(zipf, rng.nextDouble())
        if (slots(s) == null) add(s)
        else {
          val k = slots(s); slots(s) = null; empty.enqueue(s)
          Event("DELETE", seq, 0, k, "", crd = false)
        }
      } else if (r < 0.32) add(empty.dequeue())
      else {
        val s = OpenLoop.sample(zipf, rng.nextDouble())
        if (slots(s) == null) { empty -= s; add(s) }
        else {
          // one update in ten leaves the synced metadata unchanged
          if (rng.nextDouble() >= 0.1) labels(s) = seq.toString
          Event("UPDATE", seq, 0, slots(s), labels(s), crd = false)
        }
      }
    }

    private def add(s: Int): Event = {
      gen += 1
      slots(s) = s"k$s-g$gen"
      labels(s) = seq.toString
      Event("ADD", seq, 0, slots(s), labels(s), crd = false)
    }

    def fill(): Unit = {
      val at = OpenLoop.nowMs
      write((0 until LiveKeys).map { s => seq += 1; add(s).copy(tMs = at.toLong) })
    }

    /** Run `seconds` of ticks at `eps` events/s on the calling thread. */
    def run(eps: Int, seconds: Double): Unit = {
      lateMs ++= OpenLoop.run(seconds) { (k, due) =>
        tracer.time("gen.tick") { _ =>
          write((0 until OpenLoop.dueInTick(eps, k)).map(_ => next().copy(tMs = due.toLong)))
        }
        onTick()
      }
    }

    private def write(evs: Seq[Event]): Unit = {
      val sb = new StringBuilder
      val ts = java.time.Instant.now().toString
      evs.foreach { e =>
        val (kind, name, apiVersion, group, ns) =
          if (e.crd) ("CustomResourceDefinition", e.key, "apiextensions.k8s.io/v1",
            "apiextensions.k8s.io", "_cluster")
          else ("Deployment", e.key, "apps/v1", "apps", "bench")
        val lbl = if (e.crd) "null" else s"""{"app":"bench","v":"${e.labels}"}"""
        sb.append(s"""{"event_type":"${e.kind}","event_seq":${e.seq},"ts":"$ts",""")
          .append(s""""id":"$ns/$apiVersion/$kind/$name","namespace":"$ns",""")
          .append(s""""name":"$name","kind":"$kind","apiVersion":"$apiVersion",""")
          .append(s""""apiGroup":"$group","labels":$lbl,"annotations":null,""")
          .append(s""""createdAt":"$ts"}""").append('\n')
      }
      log ++= evs
      tick += 1
      OpenLoop.writeAtomically(watchDir, f"t$tick%08d.json", sb.toString)
      written.addAndGet(evs.size)
    }
  }

  /** The id under which the engine delivers an instance key. */
  def instanceId(key: String) = s"bench/apps/v1/Deployment/$key"

  /** One wired pipeline with its own watch dir, generator and checkpoint. */
  final class Rig(ctx: Ctx, rcv: Receiver, loops: LoopListener, rep: Int) {
    val watch = ctx.dir(s"sync/watch$rep")
    val gen = new Generator(ctx.seed, watch, ctx.tracer)
    private val cfg = SyncPipeline.Config.fromEnv(Map(
      "DEBOUNCE_WINDOW_MS" -> WindowMs.toString,
      "INSTANCES_ENDPOINT" -> rcv.url("instances"),
      "CAPABILITIES_ENDPOINT" -> rcv.url("capabilities"),
      "API_BIND_ADDRESS" -> "127.0.0.1:0",
      "CHECKPOINT_DIR" -> ctx.dir(s"sync/ckpt$rep")))
    val running = GraftSync.wire(ctx.spark, cfg, watch)
    loops.register(running.instances.id, "sync.instances")
    running.crds.foreach(q => loops.register(q.id, "sync.crds"))
    def consumed: Long = loops.inputRows(running.instances.id)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val sentinel = Main.sentinelSeconds()
    val loops = new LoopListener(tracer)
    spark.streams.addListener(loops)

    val rcv = new Receiver(tracer)

    // set-up, three times: wire the pipelines on a fresh watch dir and fill
    // the live-key pool; a rep ends when every key's upsert has arrived.
    // The third rig stays up for the measured phases.
    var rig: Rig = null
    val repS = (0 until 3).map { rep =>
      if (rig != null) { rig.running.close(); rcv.reset() }
      val t = System.nanoTime()
      rig = new Rig(ctx, rcv, loops, rep)
      rig.gen.fill()
      Main.waitFor(60000)(rcv.receipts.size >= LiveKeys)
      (System.nanoTime() - t) / 1e9
    }
    val g = rig.gen
    var backlogMax = 0L
    val backlog = mutable.ArrayBuffer[Long]()
    g.onTick = () => {
      val b = g.written.get - rig.consumed
      backlog += b
      backlogMax = math.max(backlogMax, b)
    }
    g.run(NominalEps, WarmS)
    loops.reset()
    backlogMax = 0
    val jobs = new JobListener
    if (tracer.enabled) spark.sparkContext.addSparkListener(jobs)
    val setupS = ctx.baseSetupS + Stats.median(repS) + WarmS
    ctx.mark("setup")

    // measured phase at the nominal rate
    val nomStart = OpenLoop.nowMs
    val lateAtNominal = g.lateMs.size
    tracer.time("gen.nominal")(_ => g.run(NominalEps, ctx.seconds))
    val nomEnd = OpenLoop.nowMs
    val lateNominal = g.lateMs.slice(lateAtNominal, g.lateMs.size).toSeq
    ctx.mark("measured")
    val nominalBacklog = backlogMax
    // batch statistics and Spark totals of the nominal phase, before the ladder
    val nominalLoops = Seq("sync.instances", "sync.crds")
      .flatMap(l => loops.metrics(l) ++ loops.stateMetrics(l))
    val nominalSpark = Seq("spark.cpu_s" -> jobs.sum(_.cpuNs) / 1e9,
      "spark.jobs" -> jobs.sum(_.jobs).toDouble,
      "spark.shuffle_bytes" -> jobs.sum(_.shuffleBytes).toDouble)

    // traced run only: the rate ladder, stopping at the first failing step
    val steps = mutable.ArrayBuffer[(Int, Double, Double, Double, Boolean)]()
    if (tracer.enabled) {
      var ok = true
      Ladder.iterator.takeWhile(_ => ok).foreach { eps =>
        val (w0, s0, t0) = (g.written.get, OpenLoop.nowMs, backlog.size)
        tracer.time(s"gen.ladder.$eps")(_ => g.run(eps, LadderStepS))
        val (w1, s1) = (g.written.get, OpenLoop.nowMs)
        // the backlog rises to a new level in the step's first second, as
        // the batches grow to the rate; past that, a pipeline that keeps up
        // holds it level. The consumed count moves a batch at a time, so
        // each level is the median of a second of ticks, and the step
        // fails when the level rises by more than a quarter of the rate.
        val ticks = backlog.slice(t0, backlog.size).map(_.toDouble).toSeq
        val perS = (1000 / OpenLoop.TickMs).toInt
        val grow = Stats.median(ticks.takeRight(perS)) -
          Stats.median(ticks.slice(perS, 2 * perS))
        val dels = deleteLatencies(g.log, rcv, s0, s1, waitMs = LadderLimitMs.toLong)
        val p = if (dels.isEmpty) Double.PositiveInfinity else Stats.percentile(dels, LayerP)
        ok = grow <= eps / 4 && p <= LadderLimitMs
        steps += ((eps, (w1 - w0) / ((s1 - s0) / 1000.0), grow.toDouble, p, ok))
      }
    }

    // drain: every event consumed, then the receiver converges on the model
    val expected = tracer.time("sync.model")(_ =>
      SyncModel.finalState(SyncModel.replay(g.log.toSeq, WindowMs).map(_._2)))
    def receivedByKey = SyncModel.finalState(rcv.receipts.asScala.map(_.d)).map { case ((c, k), v) =>
      (c, if (c) k else k.stripPrefix(instanceId(""))) -> v
    }
    ctx.mark("ladder")
    Main.waitFor(60000)(rig.consumed >= g.written.get)
    ctx.mark("drain")
    Main.waitFor(15000)(SyncModel.mismatches(expected, receivedByKey).isEmpty)
    val wrong = SyncModel.mismatches(expected, receivedByKey)
    ctx.mark("check")
    rig.running.close()
    ctx.mark("close")

    val del = deleteLatencies(g.log, rcv, nomStart, nomEnd, waitMs = 0)
    val s = Stats.summary(del, TailP)
    val s99 = Stats.summary(del, LayerP)
    val notes = mutable.ArrayBuffer(s.describe("sync delete ms (nominal)"),
      s99.describe("sync delete ms (nominal)"),
      repS.map(r => f"$r%.2f").mkString("set-up reps (s): ", ", ", ""),
      f"sync nominal ${NominalEps} ev/s for ${ctx.seconds} s, live keys $LiveKeys, " +
        f"window $WindowMs ms, events ${g.log.size}, sentinel_s=$sentinel%.3f")
    notes ++= wrong.take(20).map("WRONG " + _)
    if (wrong.size > 20) notes += s"... ${wrong.size - 20} more wrong keys"

    val layers = mutable.Map[String, Double]()
    if (tracer.enabled) {
      val (upLag, crdLat) = upsertLatencies(g.log, rcv, nomStart, nomEnd)
      val su = Stats.summary(upLag, LayerP)
      val sc = Stats.summary(crdLat, LayerP)
      notes += su.describe("sync upsert lag ms past window (nominal)")
      notes += sc.describe("sync crd ms (nominal)")
      steps.foreach { case (eps, got, grow, p, ok) =>
        notes += f"ladder $eps ev/s: wrote $got%.0f ev/s, backlog grew $grow%.0f, delete p99 $p%.0f ms, ${if (ok) "ok" else "FAILED"}"
      }
      layers ++= nominalLoops ++ nominalSpark
      layers("sync.upsert_lag_p50_ms") = su.p50
      layers("sync.upsert_lag_p99_ms") = su.tail
      layers("sync.delete_p50_ms") = s.p50
      layers("sync.delete_p99_ms") = s99.tail
      layers("sync.crd_p50_ms") = sc.p50
      layers("sync.crd_p99_ms") = sc.tail
      layers("sync.max_eps") = steps.filter(_._5).map(_._2).lastOption.getOrElse(0.0)
      // deliveries and POSTs that arrived during the nominal phase, against
      // the events created in it
      def nominal(t: Double) = t >= nomStart && t < nomEnd
      val evs = g.log.filter(e => nominal(e.tMs.toDouble))
      val recs = rcv.receipts.asScala.filter(r => nominal(r.tMs)).toSeq
      val posts = rcv.posts.asScala.filter(p => nominal(p._1)).toSeq
      layers("sync.instances.delivered_per_event") =
        recs.count(!_.d.crd).toDouble / math.max(1, evs.count(!_.crd))
      layers("sync.crds.delivered_per_event") =
        recs.count(_.d.crd).toDouble / math.max(1, evs.count(_.crd))
      layers("restsink.posts") = posts.size.toDouble
      layers("restsink.ids_per_post") = posts.map(_._2).sum.toDouble / math.max(1, posts.size)
      layers("restsink.duplicate_ids") =
        (recs.size - recs.map(r => r.d).distinct.size).toDouble
      layers("gen.late_ms.max") = lateNominal.max
      layers("sync.backlog_events.max") = nominalBacklog.toDouble
      // the single-threaded baseline: the model replaying the same log and
      // building the same payload JSON on this thread
      val t = System.nanoTime()
      val out = SyncModel.replay(g.log.toSeq, WindowMs)
      var bytes = 0L
      out.grouped(64).foreach(b => SyncModel.payloads(b.map(_._2)).foreach(bytes += _.length))
      layers("sync.single_thread_eps") = g.log.size / ((System.nanoTime() - t) / 1e9)
      layers("host.sentinel_s") = sentinel
    }
    rcv.stop()
    val keys = expected.size.toLong
    Outcome(keys, wrong.size.toLong,
      Map("setup_s" -> setupS, "p50_ms" -> s.p50, "tail_ms" -> s.tail),
      layers.toMap, notes.toSeq)
  }

  /** Delete latency samples (ms) for instance deletes created in [from, to);
    * with `waitMs` > 0, after waiting that long, and with each delete not
    * yet received as an infinite sample.
    */
  def deleteLatencies(log: collection.Seq[Event], rcv: Receiver, from: Double, to: Double,
      waitMs: Long): Seq[Double] = {
    val created = log.iterator.filter(e => !e.crd && e.kind == "DELETE" &&
      e.tMs >= from && e.tMs < to).map(e => instanceId(e.key) -> e.tMs).toMap
    if (waitMs > 0) Thread.sleep(waitMs)
    val got = rcv.receipts.asScala.iterator.collect {
      case r if !r.d.crd && r.d.isInstanceOf[Delete] && created.contains(r.d.key) =>
        r.d.key -> (r.tMs - created(r.d.key))
    }.toSeq
    // after a wait, a delete still missing counts as slower than any
    val missing = if (waitMs > 0) created.size - got.map(_._1).distinct.size else 0
    got.map(_._2) ++ Seq.fill(missing)(Double.PositiveInfinity)
  }

  /** Upsert lag past the window and CRD latency samples (ms) for events
    * created in [from, to). An upsert carrying labels v is timed from the
    * newest event of that key with labels v created at least one window
    * before the receipt: any later accepted event would have held it back.
    */
  def upsertLatencies(log: collection.Seq[Event], rcv: Receiver, from: Double, to: Double)
      : (Seq[Double], Seq[Double]) = {
    val byKey = log.filter(e => !e.crd && e.kind != "DELETE")
      .groupBy(e => (instanceId(e.key), e.labels))
      .map { case (k, es) => k -> es.map(_.tMs.toDouble).sorted }
    val crdAdd = log.filter(e => e.crd && e.kind == "ADD").map(e => e.key -> e.tMs).toMap
    val crdDel = log.filter(e => e.crd && e.kind == "DELETE").map(e => e.key -> e.tMs).toMap
    val ups = mutable.ArrayBuffer[Double]()
    val crd = mutable.ArrayBuffer[Double]()
    rcv.receipts.asScala.foreach { r =>
      r.d match {
        case Upsert(k, v, false) =>
          byKey.get((k, v)).flatMap(_.filter(_ <= r.tMs - WindowMs).lastOption)
            .filter(c => c >= from && c < to).foreach(c => ups += r.tMs - c - WindowMs)
        case Upsert(k, _, true) =>
          crdAdd.get(k).filter(c => c >= from && c < to)
            .foreach(c => crd += r.tMs - c - WindowMs)
        case Delete(k, true) =>
          crdDel.get(k).filter(c => c >= from && c < to).foreach(c => crd += r.tMs - c)
        case _ =>
      }
    }
    (ups.toSeq, crd.toSeq)
  }
}
