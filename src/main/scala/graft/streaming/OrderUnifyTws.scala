package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** `transformWithState` variant of the unify operator (Spark 4's
  * next-generation stateful API). Semantics are identical to
  * [[OrderUnify.stateFunc]] — both delegate to the same pure logic —
  * but the mapping to the reference is even more direct:
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
  * constraint) — which is also what the reference uses
  * (`OrderProjectionTopology.java:48-52`).
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

  /** Migration seeding ([[OrderUnifyInitProcessor]]): write a carried
    * buffer and re-register its deadline timer, no earlier than
    * `notBefore`. */
  private[streaming] def seed(p: PendingOrder, notBefore: Long): Unit = {
    pending.update(p)
    getHandle.registerTimer(math.max(OrderUnify.timerAt(p.deadlineEpochMillis), notBefore))
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

/** [[OrderUnifyProcessor]] plus the initial-state hook — the landing
  * side of the FMGWS→TWS checkpoint migration
  * ([[StateMigration]]): each migrated key's buffer is written into
  * the TWS value state and its FIXED deadline re-registered as an
  * explicit timer at [[OrderUnify.timerAt]] (clamped one tick ahead if
  * already past, so a stale-at-cutover buffer flushes on the first
  * batch exactly as the old implementation's pending timeout would
  * have). */
class OrderUnifyInitProcessor(bufferMillis: Long)
    extends StatefulProcessorWithInitialState[
      String, OrderEvent, ProjectionResult, PendingOrder] {

  private val inner = new OrderUnifyProcessor(bufferMillis)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    inner.setHandle(getHandle)
    inner.init(outputMode, timeMode)
  }

  override def handleInitialState(orderId: String, initial: PendingOrder,
      timerValues: TimerValues): Unit = {
    inner.seed(initial, timerValues.getCurrentProcessingTimeInMs() + 1L)
  }

  override def handleInputRows(orderId: String, rows: Iterator[OrderEvent],
      timerValues: TimerValues): Iterator[ProjectionResult] =
    inner.handleInputRows(orderId, rows, timerValues)

  override def handleExpiredTimer(orderId: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[ProjectionResult] =
    inner.handleExpiredTimer(orderId, timerValues, expiredTimerInfo)
}

object OrderUnifyTws {
  /** Drop-in alternative to [[OrderUnifyPipeline.unify]]. */
  def unify(events: Dataset[OrderEvent],
            bufferMillis: Long = OrderUnify.DefaultBufferMillis): Dataset[ProjectionResult] = {
    implicit val resultEnc = OrderUnifyPipeline.resultEnc
    events
      .groupByKey(_.orderId)(OrderUnifyPipeline.stringEnc)
      .transformWithState(
        new OrderUnifyProcessor(bufferMillis),
        TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** [[unify]] with migrated initial state (see [[StateMigration]]):
    * `initial` is the (orderId, PendingOrder) set lifted out of a
    * stopped FMGWS checkpoint. */
  def unifyWithInitialState(events: Dataset[OrderEvent],
      initial: Dataset[(String, PendingOrder)],
      bufferMillis: Long = OrderUnify.DefaultBufferMillis)
      : Dataset[ProjectionResult] = {
    implicit val resultEnc = OrderUnifyPipeline.resultEnc
    implicit val pendingEnc = OrderUnifyPipeline.pendingEnc
    implicit val stringEnc = OrderUnifyPipeline.stringEnc
    events
      .groupByKey(_.orderId)(OrderUnifyPipeline.stringEnc)
      .transformWithState(
        new OrderUnifyInitProcessor(bufferMillis),
        TimeMode.ProcessingTime(),
        OutputMode.Append(),
        initial.groupByKey(_._1).mapValues(_._2))
  }
}
