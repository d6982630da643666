package graft.streaming

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, forAllNoShrink}

/** The deadline-timer rule ([[OrderUnify.timerAt]]) against the exact
  * one (`deadline <= now`), through a sequential micro-batch loop that
  * runs a batch's input rows before its expired timers, as
  * `transformWithState` does: per key `onEvents`, timer re-registered
  * when the deadline changes, then every timer at or before the batch
  * timestamp fires and flushes a buffer it has made due.
  *
  * With batches more than slack + jitter apart, both rules emit the
  * same projections and the slack rule never flushes later; a batch
  * that lands a few ms of jitter short of a deadline flushes it. */
object OrderUnifyTimerPropSpec extends Properties("OrderUnifyTimer") {
  private val T0 = 1_000_000L
  /** Batch-timestamp jitter the schedules carry: above the 1-5 ms
    * measured with the indexed `FileTopics` source. */
  private val Jitter = 20L
  private val types = Seq("created", "placed", "cancelled")

  /** One emitted projection: the batch it left in, key, payload. */
  private type Emit = (Int, String, String)

  /** Runs `batches` of (timestamp, arrivals as (key, type)), then
    * empty batches `interval` apart until every buffer has flushed. */
  private def run(batches: Seq[(Long, Seq[(String, String)])], interval: Long,
      buf: Long, due: Long => Long): Vector[Emit] = {
    val state = scala.collection.mutable.Map.empty[String, PendingOrder]
    val timers = scala.collection.mutable.Set.empty[(String, Long)]
    val out = Vector.newBuilder[Emit]
    var seq = 0L
    val lastTs = batches.last._1
    val tail = Iterator.iterate(lastTs + interval)(_ + interval)
      .takeWhile(_ <= lastTs + buf + 2 * interval).map(t => (t, Seq.empty[(String, String)]))
    (batches.iterator ++ tail).zipWithIndex.foreach { case ((ts, arrivals), b) =>
      arrivals.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (key, evs) =>
        val events = evs.map { case (_, t) =>
          seq += 1
          OrderEvent(key, t, seq * 1000L, s"""{"seq":$seq}""", seq)
        }
        val prior = state.get(key)
        val (emitted, next) = OrderUnify.onEvents(key, events, prior, ts, buf)
        emitted.foreach(p => out += ((b, key, p.payloadJson)))
        next match {
          case Some(p) =>
            state(key) = p
            if (!prior.map(_.deadlineEpochMillis).contains(p.deadlineEpochMillis)) {
              prior.foreach(o => timers -= ((key, due(o.deadlineEpochMillis))))
              timers += ((key, due(p.deadlineEpochMillis)))
            }
          case None => state.remove(key)
        }
      }
      timers.filter(_._2 <= ts).toSeq.sortBy(_._2).foreach { case t @ (key, at) =>
        timers -= t
        val flush = state.get(key).filter(p => due(p.deadlineEpochMillis) <= at)
        OrderUnify.onTimeout(key, flush).foreach(p => out += ((b, key, p.payloadJson)))
        if (flush.nonEmpty) state.remove(key)
      }
    }
    assert(state.isEmpty, s"unflushed buffers: $state")
    out.result()
  }

  private val exact: Long => Long = identity
  private val slack: Long => Long = OrderUnify.timerAt

  private val genArrivals: Gen[Seq[(String, String)]] = Gen.frequency(
    1 -> Gen.const(Seq.empty),
    3 -> Gen.listOf(Gen.zip(Gen.oneOf("o1", "o2", "o3"), Gen.oneOf(types))))

  /** Triggers `interval` apart, each batch timestamp up to [[Jitter]]
    * past its tick; the buffer is often a whole number of intervals,
    * as the reference's 5 s buffer is of its 1 s punctuation. */
  private val genSchedule = for {
    interval <- Gen.chooseNum(OrderUnify.TimerSlackMillis + Jitter + 1, 1200L)
    buf <- Gen.oneOf(
      Gen.chooseNum(2, 6).map(_ * interval),
      Gen.chooseNum(OrderUnify.TimerSlackMillis + 1, 6000L))
    n <- Gen.chooseNum(1, 30)
    batches <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, Jitter), genArrivals))
  } yield (interval, buf, batches.zipWithIndex.map { case ((j, a), k) =>
    (T0 + k * interval + j, a)
  })

  property("same projections as the exact-deadline rule, never flushed later") =
    forAll(genSchedule) { case (interval, buf, batches) =>
      val a = run(batches, interval, buf, exact)
      val b = run(batches, interval, buf, slack)
      def byProjection(es: Vector[Emit]) =
        es.groupBy(e => (e._2, e._3)).view.mapValues(_.map(_._1).sorted).toMap
      val (ea, eb) = (byProjection(a), byProjection(b))
      Prop.classify(a.map(_._1).sum > b.map(_._1).sum, "a flush moved earlier") {
        Prop(ea.keySet == eb.keySet &&
          ea.forall { case (k, at) => at.size == eb(k).size &&
            at.zip(eb(k)).forall { case (x, y) => y <= x } }) :|
          s"exact $a\nslack $b"
      }
    }

  property("a batch jitter short of a deadline flushes that buffer") =
    forAllNoShrink(Gen.chooseNum(1L, Jitter), Gen.someOf(types), Gen.chooseNum(2, 6)) {
      (j, late, m) =>
        val interval = 1000L
        val buf = m * interval
        // one lifecycle opens at T0; `late` types arrive in the batch
        // that lands j ms short of its deadline
        val batches = Seq(
          T0 -> types.map(t => ("o1", t)),
          (T0 + buf - j) -> late.toSeq.map(t => ("o1", t)))
        val flushed = run(batches, interval, buf, slack)
        Prop(flushed.map(_._1) == Vector(1)) :| s"flushed in batches ${flushed.map(_._1)}"
    }
}
