package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. When disabled every call is a pass-through, so
  * the untraced run pays nothing beyond a branch; spans are written out once
  * when the run ends.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def time[T](name: String, parent: Long = 0)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, parent, name, t0, System.nanoTime()))
    }

  /** Record an interval measured elsewhere; returns its id (0 if off). */
  def record(name: String, parent: Long, startNs: Long, endNs: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, name, startNs, endNs))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Self time per span name, in seconds: each span's duration minus the
    * part of its interval covered by the union of its children.
    */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
        (s.durNs - covered(s.startNs, s.endNs, kids)) / 1e9
      }.sum
    }
  }

  /** Nanoseconds of [lo, hi) covered by the union of the spans. */
  def covered(lo: Long, hi: Long, spans: Seq[Span]): Long = {
    var total = 0L
    var cur = lo
    spans.map(s => (math.max(lo, s.startNs), math.min(hi, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        val from = math.max(a, cur)
        if (b > from) { total += b - from; cur = b }
      }
    total
  }
}

/** Minimal JSON text for the result line and span dump. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
