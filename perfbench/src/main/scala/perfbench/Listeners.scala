package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark job/task totals, attributed to the job group active when each job
  * started (the benchmark sets one group per catalog row). A job run with no
  * group counts under "".
  */
final class JobListener extends SparkListener {
  final class Totals {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleBytes = 0L
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Totals]()

  private def of(group: String) = totals.computeIfAbsent(group, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    val t = of(g)
    t.synchronized { t.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val t = of(stageGroup.getOrDefault(e.stageId, ""))
    t.synchronized {
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def group(g: String): Totals = of(g)

  def sum(f: Totals => Long): Long = totals.values.asScala.map(f).sum
}

/** Per-micro-batch phase durations and state sizes for every streaming query
  * the benchmark starts, keyed by the loop name the benchmark assigns to the
  * query id.
  */
final class LoopListener(tracer: Tracer) extends StreamingQueryListener {
  final class Loop {
    val trigger = mutable.ArrayBuffer[Double]()
    val source = mutable.ArrayBuffer[Double]()
    val sink = mutable.ArrayBuffer[Double]()
    val stateCommit = mutable.ArrayBuffer[Double]()
    var stateRowsMax = 0L
    var stateBytesMax = 0L
  }
  private val names = new ConcurrentHashMap[java.util.UUID, String]()
  private val loops = new ConcurrentHashMap[String, Loop]()
  private val rows = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()

  /** Source rows a query has consumed so far. */
  def inputRows(id: java.util.UUID): Long = rows.getOrDefault(id, 0L)

  /** Forget the batch statistics gathered so far (set-up batches). */
  def reset(): Unit = loops.clear()

  def register(id: java.util.UUID, name: String): Unit = {
    names.put(id, name)
    loops.computeIfAbsent(name, _ => new Loop)
  }

  def loop(name: String): Loop = loops.computeIfAbsent(name, _ => new Loop)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val name = names.get(p.id)
    if (name == null) return
    rows.merge(p.id, p.numInputRows, (a, b) => a + b)
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    def ms(k: String) = d.getOrElse(k, 0L).toDouble
    val l = loop(name)
    l.synchronized {
      l.trigger += ms("triggerExecution")
      l.source += ms("latestOffset") + ms("getBatch")
      l.sink += ms("addBatch")
      p.stateOperators.foreach { s =>
        l.stateRowsMax = math.max(l.stateRowsMax, s.numRowsTotal)
        l.stateBytesMax = math.max(l.stateBytesMax, s.memoryUsedBytes)
        l.stateCommit += s.commitTimeMs.toDouble
      }
    }
    if (tracer.enabled) {
      // the progress event carries durations, not instants: lay the phases
      // end to end under the trigger span, anchored at the event time
      val end = System.nanoTime()
      val start = end - (ms("triggerExecution") * 1e6).toLong
      val root = tracer.record(s"$name.batch", 0, start, end)
      var at = start
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
        "walCommit", "commitOffsets").foreach { k =>
        val n = (ms(k) * 1e6).toLong
        if (n > 0) { tracer.record(s"$name.$k", root, at, at + n); at += n }
      }
    }
  }

  /** The per-batch metrics of a loop. */
  def metrics(name: String): Seq[(String, Double)] = {
    val l = loop(name)
    l.synchronized {
      def p(xs: Seq[Double], q: Double) =
        if (xs.isEmpty) 0.0 else Stats.percentile(xs.toSeq, q)
      Seq(
        s"$name.batches" -> l.trigger.size.toDouble,
        s"$name.trigger_ms.p50" -> p(l.trigger.toSeq, 50),
        s"$name.trigger_ms.p99" -> p(l.trigger.toSeq, 99),
        s"$name.source_ms.p50" -> p(l.source.toSeq, 50),
        s"$name.sink_ms.p50" -> p(l.sink.toSeq, 50),
        s"$name.sink_ms.p99" -> p(l.sink.toSeq, 99))
    }
  }

  /** The state-store metrics of a loop with a stateful operator. */
  def stateMetrics(name: String): Seq[(String, Double)] = {
    val l = loop(name)
    l.synchronized {
      Seq(
        s"$name.state_rows.max" -> l.stateRowsMax.toDouble,
        s"$name.state_bytes.max" -> l.stateBytesMax.toDouble,
        s"$name.state_commit_ms.p50" ->
          (if (l.stateCommit.isEmpty) 0.0
           else Stats.percentile(l.stateCommit.toSeq, 50)))
    }
  }
}
