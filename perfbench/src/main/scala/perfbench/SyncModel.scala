package perfbench

import scala.collection.mutable

/** An independent, single-threaded model of the reference sync semantics
  * (debounce.go / crd_debounce.go), used to compute what the receiver must
  * hold once the pipeline has drained:
  *
  *   - last state wins per key: a pending upsert is replaced by the key's
  *     newer event and flushes once the key has been quiet for the window;
  *   - a DELETE is sent at once and cancels the key's pending upsert;
  *   - an UPDATE whose labels equal the key's last flushed labels is not
  *     sent (no-op suppression; instances only);
  *   - CRD UPDATEs are dropped; CRD ADDs flush by name after the window.
  *
  * Time is the events' creation time, so the replay needs no clock.
  */
object SyncModel {
  /** One generated event. `labels` is the instance's label version (the
    * synced metadata); CRD events leave it empty.
    */
  final case class Event(kind: String, seq: Long, tMs: Long, key: String,
      labels: String, crd: Boolean)

  sealed trait Delivery { def key: String; def crd: Boolean }
  final case class Upsert(key: String, labels: String, crd: Boolean) extends Delivery
  final case class Delete(key: String, crd: Boolean) extends Delivery

  /** Deliveries in the order the model sends them, each with its send time. */
  def replay(events: Seq[Event], windowMs: Long): Seq[(Long, Delivery)] = {
    val out = mutable.ArrayBuffer[(Long, Delivery)]()
    val pending = mutable.Map[(Boolean, String), (Event, Long)]()
    val flushed = mutable.Map[String, String]()
    val timers = mutable.PriorityQueue[(Long, Long, (Boolean, String))]()(
      Ordering.by[(Long, Long, (Boolean, String)), (Long, Long)](t => (-t._1, -t._2)))

    def fireUntil(now: Long): Unit =
      while (timers.nonEmpty && timers.head._1 <= now) {
        val (due, seq, k) = timers.dequeue()
        pending.get(k) match {
          case Some((e, d)) if d == due && e.seq == seq =>
            pending.remove(k)
            if (e.crd) out += due -> Upsert(e.key, "", crd = true)
            else {
              val noop = e.kind == "UPDATE" && flushed.get(e.key).contains(e.labels)
              flushed(e.key) = e.labels
              if (!noop) out += due -> Upsert(e.key, e.labels, crd = false)
            }
          case _ => // superseded timer
        }
      }

    events.sortBy(_.seq).foreach { e =>
      fireUntil(e.tMs)
      val k = (e.crd, e.key)
      e.kind match {
        case "DELETE" =>
          pending.remove(k)
          if (!e.crd) flushed.remove(e.key)
          out += e.tMs -> Delete(e.key, e.crd)
        case "UPDATE" if e.crd => // dropped
        case _ =>
          val due = e.tMs + windowMs
          pending(k) = (e, due)
          timers.enqueue((due, e.seq, k))
      }
    }
    fireUntil(Long.MaxValue)
    out.toSeq
  }

  /** What a receiver holds after applying deliveries in order: per
    * (crd, key), the upserted labels, or None once deleted.
    */
  def finalState(deliveries: Iterable[Delivery]): Map[(Boolean, String), Option[String]] = {
    val m = mutable.Map[(Boolean, String), Option[String]]()
    deliveries.foreach {
      case Upsert(k, l, c) => m((c, k)) = Some(l)
      case Delete(k, c)    => m((c, k)) = None
    }
    m.toMap
  }

  /** Keys whose received state differs from the model's, with both sides. */
  def mismatches(expected: Map[(Boolean, String), Option[String]],
      received: Map[(Boolean, String), Option[String]]): Seq[String] =
    (expected.keySet ++ received.keySet).toSeq.sorted.flatMap { k =>
      val (e, r) = (expected.get(k), received.get(k))
      if (e == r) None
      else Some(s"${if (k._1) "crd" else "instance"} ${k._2}: " +
        s"expected ${e.map(_.getOrElse("deleted")).getOrElse("nothing")}, " +
        s"received ${r.map(_.getOrElse("deleted")).getOrElse("nothing")}")
    }

  /** Payload JSON for a batch of deliveries, as the reference's sink would
    * send it: deletes in one payload, upserts chunked at maxBatch.
    */
  def payloads(batch: Seq[Delivery], maxBatch: Int = 50): Seq[String] = {
    val (dels, ups) = batch.partition(_.isInstanceOf[Delete])
    val d = if (dels.isEmpty) Nil
      else Seq(dels.map(x => Json.str(x.key)).mkString("""{"deletes":[""", ",", "]}"))
    d ++ ups.collect { case u: Upsert => u }.grouped(maxBatch).map { g =>
      g.map { u =>
        if (u.crd) Json.str(u.key)
        else s"""{"id":${Json.str(u.key)},"labels":{"v":${Json.str(u.labels)}}}"""
      }.mkString("""{"upserts":[""", ",", "]}")
    }
  }
}
