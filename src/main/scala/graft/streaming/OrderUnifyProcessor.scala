package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming._

/** The unify operator's `transformWithState` processor, run by
  * [[OrderUnifyPipeline.unify]]. It delegates to the pure
  * [[OrderUnify]] logic, and maps onto the reference directly:
  *
  *  - the fixed per-order deadline is an EXPLICIT registered timer
  *    (`registerTimer(OrderUnify.timerAt(deadline))`, the documented
  *    slack before the deadline), set once at buffer creation and only
  *    re-registered when a stale buffer is replaced (G7) — no per-batch
  *    re-arming. Spark fires it after the batch's input rows, in the
  *    first batch whose timestamp is at or past it, so a buffer flushes
  *    in the trigger its deadline falls due in and the projections are
  *    the exact-deadline rule's ([[OrderUnify.TimerSlackMillis]]).
  *    Timers that an older checkpoint registered at the deadline itself
  *    still fire and flush;
  *  - the timer firing is the punctuator path
  *    (`OrderProjectionTransformer.java:90-104`), per key instead of a
  *    full-store scan.
  *
  * Requires the RocksDB state-store provider (an OSS `transformWithState`
  * constraint, set by [[graft.Sessions]]) — which is also what the
  * reference uses (`OrderProjectionTopology.java:48-52`).
  */
class OrderUnifyProcessor(bufferMillis: Long)
    extends StatefulProcessor[String, OrderEvent, ProjectionResult] {

  OrderUnify.requireBuffer(bufferMillis)

  @transient private var pending: ValueState[PendingOrder] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    pending = getHandle.getValueState[PendingOrder](
      "pending", Encoders.product[PendingOrder], TTLConfig.NONE)

  override def handleInputRows(
      orderId: String,
      rows: Iterator[OrderEvent],
      timerValues: TimerValues): Iterator[ProjectionResult] = {
    val now = timerValues.getCurrentProcessingTimeInMs()
    val prior = Option(pending.get())
    val arrivals = rows.toSeq.sortBy(_.seq)
    val (out, next) = OrderUnify.onEvents(orderId, arrivals, prior, now, bufferMillis)
    next match {
      case Some(p) =>
        pending.update(p)
        val priorDeadline = prior.map(_.deadlineEpochMillis)
        if (!priorDeadline.contains(p.deadlineEpochMillis)) {
          priorDeadline.foreach(d => getHandle.deleteTimer(OrderUnify.timerAt(d)))
          getHandle.registerTimer(OrderUnify.timerAt(p.deadlineEpochMillis))
        }
      case None => pending.clear()
    }
    out.iterator
  }

  override def handleExpiredTimer(
      orderId: String,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[ProjectionResult] = {
    // a timer may outlive its buffer (G7 replaced it); flush only a
    // buffer that its own timer has made due
    val due = Option(pending.get()).filter(p =>
      OrderUnify.timerAt(p.deadlineEpochMillis) <= expiredTimerInfo.getExpiryTimeInMs())
    val out = OrderUnify.onTimeout(orderId, due)
    if (due.nonEmpty) pending.clear()
    out.iterator
  }
}
