package graft.streaming

import org.apache.spark.sql.streaming.GroupState

import scala.collection.mutable.ListBuffer

/** The stateful buffer/unify operator — Spark re-expression of the
  * reference's `OrderProjectionTransformer` + `OrderProjection`
  * (SURVEY.md §2.4, G1-G9). The logic is pure Scala driven by an
  * explicit `now` so every path is unit-testable; the
  * `transformWithState` adapter is [[OrderUnifyProcessor]], and
  * [[OrderUnify.stateFunc]] is the `flatMapGroupsWithState` function
  * of the pinned comparison path ([[OrderUnifyPipeline.unify]]).
  *
  * Semantics preserved exactly:
  *  - G1: first event for a key creates the buffer with
  *    deadline = now + bufferMillis (`OrderProjectionTransformer.java:61-68`);
  *    later events merge WITHOUT extending the deadline
  *    (`PendingOrder.java:31-36`).
  *  - G2: first arrival per type wins; duplicates ignored
  *    (`OrderProjection.java:55-58`).
  *  - G3: emit only when all of {created, placed, cancelled} buffered
  *    (`OrderProjection.java:19-20,94-96`).
  *  - G4: output events ordered by type priority, not timestamp
  *    (`OrderProjection.java:74-84`).
  *  - G7: an arrival for a key whose deadline already passed (or whose
  *    state is corrupt) first flushes the old buffer
  *    (emit-if-complete/drop), then starts a FRESH buffer seeded with
  *    the new event (`OrderProjectionTransformer.java:49-58`).
  *  - G6: the deadline flush fires in the first micro-batch at or past
  *    [[OrderUnify.timerAt]] — [[OrderUnify.TimerSlackMillis]] before
  *    the stored deadline, so batch-timestamp jitter cannot push it a
  *    trigger late; the projections do not change (derivation there).
  *  - G8/G9: flush emits complete projections and deletes state;
  *    incomplete buffers are dropped silently
  *    (`OrderProjectionTransformer.java:106-124`).
  *  - The per-record path never emits the CURRENT buffer — even a
  *    complete lifecycle waits for its deadline flush
  *    (`OrderProjectionTransformer.java:82` returns null).
  */
object OrderUnify {

  /** Default buffer window (`BUFFER_DURATION = Duration.ofSeconds(5)`,
    * `OrderProjectionTopology.java:29`). */
  val DefaultBufferMillis: Long = 5000L

  /** How long before its deadline a buffer's timer fires: a buffer is
    * due, and flushes, once `deadline - TimerSlackMillis <= now`.
    *
    * Why a slack: `now` is the micro-batch timestamp, which Spark takes
    * a few ms after the trigger tick (after the source's
    * `latestOffset`), and a deadline is the timestamp of the batch that
    * opened the buffer + `bufferMillis`. With a trigger interval that
    * divides `bufferMillis`, the batch one buffer later lands within
    * that jitter of the deadline, so an exact `deadline <= now` rule
    * flushes in it or one trigger later by chance. The slack makes it
    * that batch: it must exceed the timestamp jitter (1-5 ms past the
    * tick with the indexed `FileTopics` source; up to ~75 ms with the
    * old full-log rescan) and stay below the smallest trigger interval
    * in use (100 ms in the suites; 1 s in the reference's
    * punctuation), so 50 ms.
    *
    * Why the output does not change: Spark runs a batch's input rows
    * before its expired timers (TWS `processNewData ++ processTimers`,
    * and FMGWS likewise). A batch whose timestamp falls in
    * `[deadline - slack, deadline)` first merges its own arrivals into
    * the buffer (G7 still compares against the stored deadline), then
    * flushes it; under the exact rule the next batch, more than one
    * trigger interval later, would have flushed the same buffer
    * (timer or G7) before taking any later arrival. So the projections
    * are identical and only a flush that sat on the knife edge moves
    * one trigger earlier. The stored deadline is unchanged, and
    * `bufferMillis` must exceed the slack, or a buffer would be due in
    * the batch that opened it. */
  val TimerSlackMillis: Long = 50L

  /** The time a buffer with this deadline falls due: where its timer is
    * registered, deleted and checked. */
  def timerAt(deadlineEpochMillis: Long): Long =
    deadlineEpochMillis - TimerSlackMillis

  /** Fails unless `bufferMillis` exceeds [[TimerSlackMillis]]. */
  def requireBuffer(bufferMillis: Long): Unit =
    require(bufferMillis > TimerSlackMillis,
      s"bufferMillis must exceed the ${TimerSlackMillis} ms timer slack, got $bufferMillis")

  /** G3+G4+G5: complete-only, priority-ordered projection payload;
    * None = incomplete (dropped, G8). */
  def completeProjection(orderId: String, p: PendingOrder): Option[ProjectionResult] =
    if (OrderEventType.requiredTypes.subsetOf(p.events.keySet)) {
      val ordered = p.events.values.toSeq
        .sortBy(e => (OrderEventType.priority.getOrElse(e.eventType, 1000), e.eventType))
      Some(ProjectionResult(orderId, Json.payload(orderId, ordered)))
    } else None

  /** Corrupt-state guard mirrored from
    * `OrderProjectionTransformer.java:49-52` (null projection /
    * non-positive deadline both count as corrupt). */
  def isCorrupt(p: PendingOrder): Boolean =
    p.events == null || p.deadlineEpochMillis <= 0L

  /** Process one group's new arrivals at processing time `now`.
    * Returns (emitted projections, next state or None-to-delete).
    * `arrivals` must be in arrival order (callers sort by `seq`). */
  def onEvents(
      orderId: String,
      arrivals: Seq[OrderEvent],
      prior: Option[PendingOrder],
      now: Long,
      bufferMillis: Long): (Seq[ProjectionResult], Option[PendingOrder]) = {
    val emitted = ListBuffer.empty[ProjectionResult]
    var pending = prior
    arrivals.foreach { ev =>
      pending match {
        case Some(p) if isCorrupt(p) || now >= p.deadlineEpochMillis =>
          // G7 — stale buffer: flush first, then fresh buffer seeded
          // with the new event.
          if (!isCorrupt(p)) emitted ++= completeProjection(orderId, p)
          pending = Some(PendingOrder(Map(ev.eventType -> ev), now + bufferMillis))
        case Some(p) =>
          // G2 — first-wins: an already-buffered type ignores the event.
          if (!p.events.contains(ev.eventType))
            pending = Some(p.copy(events = p.events + (ev.eventType -> ev)))
        case None =>
          // G1 — new buffer, deadline fixed at first arrival.
          pending = Some(PendingOrder(Map(ev.eventType -> ev), now + bufferMillis))
      }
    }
    (emitted.toSeq, pending)
  }

  /** Deadline flush (G6 timeout path): emit-if-complete, then drop. */
  def onTimeout(orderId: String, prior: Option[PendingOrder]): Seq[ProjectionResult] =
    prior.filterNot(isCorrupt).flatMap(completeProjection(orderId, _)).toSeq

  /** Spark adapter: the `flatMapGroupsWithState` function. Timeout
    * re-arming preserves the FIXED deadline: every invocation re-sets
    * the remaining duration to the stored deadline's [[timerAt]]
    * instead of a fresh full window. A buffer already due after this
    * batch's arrivals flushes at once, as the TWS timer would after
    * the batch's input rows (FMGWS skips the timeout of a key it just
    * updated). Spark times a processing-time timeout out only once the
    * batch timestamp is strictly past it, so otherwise FMGWS flushes
    * 1 ms later than TWS, well inside the slack. */
  def stateFunc(bufferMillis: Long)(
      orderId: String,
      rows: Iterator[OrderEvent],
      state: GroupState[PendingOrder]): Iterator[ProjectionResult] =
    if (state.hasTimedOut) {
      val out = onTimeout(orderId, state.getOption)
      state.remove()
      out.iterator
    } else {
      val now = state.getCurrentProcessingTimeMs()
      val arrivals = rows.toSeq.sortBy(_.seq)
      val (out, next) = onEvents(orderId, arrivals, state.getOption, now, bufferMillis)
      next match {
        case Some(p) if timerAt(p.deadlineEpochMillis) > now =>
          state.update(p)
          state.setTimeoutDuration(timerAt(p.deadlineEpochMillis) - now)
          out.iterator
        case _ =>
          if (state.exists) state.remove()
          (out ++ onTimeout(orderId, next)).iterator
      }
    }
}

/** Deterministic JSON assembly for the projection payload — mirrors the
  * reference's Jackson output shape (`OrderProjectionPayload.java:8-30`,
  * ISO-8601 instants per `serde/JsonSerde.java:13-15`; `order_details`
  * spliced through as raw JSON, `OrderEvent.java:17`). */
object Json {
  def escape(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  def isoInstant(micros: Long): String =
    java.time.Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L),
      Math.floorMod(micros, 1000000L) * 1000L).toString

  def event(e: OrderEvent): String = {
    val details =
      if (e.orderDetails == null || e.orderDetails.isEmpty) "null" else e.orderDetails
    s"""{"order-id":"${escape(e.orderId)}","type":"${escape(e.eventType)}",""" +
      s""""timestamp":"${isoInstant(e.timestampMicros)}","order_details":$details}"""
  }

  def payload(orderId: String, events: Seq[OrderEvent]): String =
    s"""{"orderId":"${escape(orderId)}","events":[${events.map(event).mkString(",")}]}"""
}
