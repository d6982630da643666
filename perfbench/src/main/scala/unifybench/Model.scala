package unifybench

import scala.collection.mutable

/** One expected projection: the key, the exact payload the sink must
  * carry, and the arrival time (schedule ms) of the first event of the
  * buffer that produced it. */
final case class Expected(key: String, payload: String, anchorMs: Long)

final case class Outcomes(projected: Long, incompleteDropped: Long,
    duplicatesIgnored: Long, staleFlushes: Long)

/** Sequential model of the reference `OrderProjectionTransformer`,
  * written independently of the program under test: a map of per-key
  * buffers, a deadline fixed at the first arrival, first-wins per
  * type, a 1 s wall-clock punctuation that flushes expired buffers,
  * G7 replacement of a stale buffer by a fresh one, complete-only
  * emission in priority order.
  *
  * `arrivals` are (arrival ms, event) in arrival order. A backlog
  * drain passes every arrival at time 0: all records land in the
  * first micro-batch, so nothing expires before the end. */
object Model {
  private val Priority = Map("created" -> 10, "placed" -> 20, "cancelled" -> 30)
  private final class Buf(val firstMs: Long, val deadline: Long) {
    val events = mutable.LinkedHashMap.empty[String, Ev]
  }

  def run(arrivals: Seq[(Long, Ev)], bufferMillis: Long,
      punctuateMs: Long = 1000L): (Vector[Expected], Outcomes) = {
    val bufs = mutable.HashMap.empty[String, Buf]
    val out = Vector.newBuilder[Expected]
    var projected, incomplete, dups, stale = 0L
    var lastTick = 0L

    def flush(key: String, b: Buf): Unit =
      if (b.events.size == Priority.size) {
        projected += 1
        out += Expected(key, payload(key, b.events.values.toSeq), b.firstMs)
      } else incomplete += 1

    def punctuate(upTo: Long): Unit =
      while (lastTick + punctuateMs <= upTo) {
        lastTick += punctuateMs
        val due = bufs.iterator.filter(_._2.deadline <= lastTick).map(_._1).toVector
        due.sorted.foreach(k => flush(k, bufs.remove(k).get))
      }

    arrivals.foreach { case (t, ev) =>
      punctuate(t)
      bufs.get(ev.orderId) match {
        case Some(b) if t >= b.deadline =>
          stale += 1
          flush(ev.orderId, b)
          bufs(ev.orderId) = fresh(t, bufferMillis, ev)
        case Some(b) =>
          if (b.events.contains(ev.ctype)) dups += 1
          else b.events(ev.ctype) = ev
        case None =>
          bufs(ev.orderId) = fresh(t, bufferMillis, ev)
      }
    }
    bufs.keys.toVector.sorted.foreach(k => flush(k, bufs(k)))
    (out.result(), Outcomes(projected, incomplete, dups, stale))
  }

  private def fresh(t: Long, bufferMillis: Long, ev: Ev): Buf = {
    val b = new Buf(t, t + bufferMillis)
    b.events(ev.ctype) = ev
    b
  }

  /** The projection payload the reference serializes
    * (`OrderProjectionPayload`): events in type-priority order,
    * ISO-8601 instants, `order_details` spliced in as raw JSON. */
  def payload(key: String, events: Seq[Ev]): String =
    events.sortBy(e => Priority(e.ctype)).map { e =>
      val iso = java.time.Instant.ofEpochSecond(Math.floorDiv(e.micros, 1000000L),
        Math.floorMod(e.micros, 1000000L) * 1000L).toString
      s"""{"order-id":"${e.orderId}","type":"${e.ctype}","timestamp":"$iso","order_details":${e.details}}"""
    }.mkString(s"""{"orderId":"$key","events":[""", ",", "]}")
}
