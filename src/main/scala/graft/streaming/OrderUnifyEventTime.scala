package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import OrderUnifyPipeline.{pendingEnc, resultEnc, stringEnc}

/** EVENT-TIME variant of the unify operator. The reference is
  * wall-clock-only (`OrderProjectionTransformer.java:61-68` anchors the
  * deadline at processing time; SURVEY.md §2.6) and [[OrderUnify]] is
  * faithful to that — but at scale with real lateness the Spark-native
  * answer is an event-time buffer with watermarks:
  *
  *  - G1-ET: the buffer's deadline = FIRST event's EVENT time +
  *    window, never extended (the reference's fixed-deadline
  *    discipline transplanted onto the event-time axis).
  *  - MEMBERSHIP IS DETERMINISTIC IN THE DATA: an event joins its
  *    key's open buffer iff its OWN event time is below the deadline —
  *    arrival timing and watermark lag cannot change what unifies,
  *    only when it is emitted. An out-of-order event that arrives
  *    arbitrarily late (but inside the watermark delay) still joins
  *    its lifecycle — the case processing-time semantics cannot
  *    express (under [[OrderUnify]] the wall clock would have expired
  *    the buffer).
  *  - G7-ET: an arrival whose event time is at/after the open
  *    buffer's deadline first flushes it (emit-if-complete, else
  *    drop), then seeds a fresh buffer anchored at its own event time.
  *  - G2/G3/G4/G8/G9 carry over unchanged (first ARRIVAL per type
  *    wins; complete-only; priority order; drop incomplete; emit +
  *    cleanup).
  *  - FLUSH is watermark-driven: the timeout fires once the watermark
  *    passes the deadline (`GroupStateTimeout.EventTimeTimeout`;
  *    timeout timestamps are clamped above the current watermark as
  *    Spark requires, so a buffer born already-stale flushes at the
  *    next watermark advance).
  *
  * Scale: identical shuffle/state shape to [[OrderUnify]] (one
  * exchange on orderId, ≤3 events + deadline per key); the watermark
  * is Spark's global event-time clock — no per-key wall-clock timers,
  * and a backlogged replay of historical data flushes exactly the
  * same projections the live run did (the property wall-clock
  * semantics fundamentally lack). */
object OrderUnifyEventTime {

  /** Process one group's arrivals (arrival order = `seq`). Pure and
    * watermark-free: membership depends only on the events. Each
    * arrival runs [[OrderUnify.onEvents]] with its own event time as
    * the clock, so the G1/G2/G7 branches are the processing-time ones. */
  def onEvents(
      orderId: String,
      arrivals: Seq[OrderEvent],
      prior: Option[PendingOrder],
      windowMillis: Long): (Seq[ProjectionResult], Option[PendingOrder]) =
    arrivals.foldLeft((Seq.empty[ProjectionResult], prior)) {
      case ((emitted, pending), ev) =>
        val (out, next) = OrderUnify.onEvents(orderId, Seq(ev), pending,
          ev.timestampMicros / 1000L, windowMillis)
        (emitted ++ out, next)
    }

  /** The `flatMapGroupsWithState` function (EventTimeTimeout). */
  def stateFunc(windowMillis: Long)(
      orderId: String,
      rows: Iterator[TimedOrderEvent],
      state: GroupState[PendingOrder]): Iterator[ProjectionResult] =
    if (state.hasTimedOut) {
      val out = OrderUnify.onTimeout(orderId, state.getOption)
      state.remove()
      out.iterator
    } else {
      val arrivals = rows.toSeq.sortBy(_.seq).map(_.toOrderEvent)
      val (out, next) = onEvents(orderId, arrivals, state.getOption,
        windowMillis)
      next match {
        case Some(p) =>
          state.update(p)
          // Spark requires the timeout timestamp to be beyond the
          // current watermark; a buffer born already-stale flushes at
          // the next watermark advance
          state.setTimeoutTimestamp(
            math.max(p.deadlineEpochMillis, state.getCurrentWatermarkMs() + 1))
        case None => if (state.exists) state.remove()
      }
      out.iterator
    }

  implicit private val timedEnc: Encoder[TimedOrderEvent] =
    Encoders.product[TimedOrderEvent]

  /** Pipeline adapter: watermark on the parsed event time, then the
    * event-time unify. `watermarkDelay` is the lateness tolerance —
    * events later than it MAY be expired before they arrive (their
    * fresh G7-ET buffer then drops as incomplete), exactly Spark's
    * standard watermark contract.
    *
    * LATE-DATA OBSERVABILITY is wired in — the event-time edition of
    * the reference's "incomplete … dropped" log line. Two signals a
    * production operator watches:
    *
    *  - the `unify_et_arrivals` observe metric counts every arrival
    *    that reaches the operator (it sits ABOVE the stateful node's
    *    watermark filter, so it includes arrivals the watermark then
    *    drops) plus the max arrived event time — the lag gauge;
    *  - events older than the watermark never reach the state
    *    function (Spark filters them at the stateful operator) and are
    *    counted EXACTLY by `numRowsDroppedByWatermark` in each
    *    progress's stateOperators — `OrderUnifyEventTimeSpec`
    *    (ET-DROP) pins the count to the event.
    *
    * The batch-side dead-letter audit of the same phenomenon is
    * [[graft.operators.Unify.lateAudit]] (`q_unify_late_audit`): a
    * watermark simulation over an arrival-ordered log that REPORTS
    * would-be-dropped events instead of silently filtering them. */
  def unify(events: Dataset[OrderEvent],
            windowMillis: Long = OrderUnify.DefaultBufferMillis,
            watermarkDelay: String = "2 seconds"): Dataset[ProjectionResult] =
    events
      .withColumn("eventTime", timestamp_micros(col("timestampMicros")))
      .withWatermark("eventTime", watermarkDelay)
      .observe("unify_et_arrivals",
        count(lit(1)).as("n_arrivals"),
        max(col("eventTime")).as("max_event_time"))
      .as[TimedOrderEvent]
      .groupByKey(_.orderId)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        stateFunc(windowMillis) _)
}

/** [[OrderEvent]] plus the typed event-time column the watermark rides
  * on (Spark needs a timestamp COLUMN for `withWatermark`; the micros
  * long stays the state-store representation). */
final case class TimedOrderEvent(
    orderId: String,
    eventType: String,
    timestampMicros: Long,
    orderDetails: String,
    seq: Long,
    eventTime: java.sql.Timestamp) {
  def toOrderEvent: OrderEvent =
    OrderEvent(orderId, eventType, timestampMicros, orderDetails, seq)
}
