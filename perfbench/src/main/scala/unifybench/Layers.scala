package unifybench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

import graft.sources.FileTopics
import graft.streaming.{Json, OrderEvent, OrderUnify, OrderUnifyPipeline, PendingOrder, SourceRecord}

final case class ParseProbe(eventsPerS: Double, jsonParsesPerRecord: Double,
    dropped: Long, records: Long)

final case class UnifyProbe(eventsPerS: Double, payloadPerS: Double,
    mismatches: Int)

/** Isolated layer timings, taken from outside the program through its
  * public calls. */
object Layers {
  private val JsonParseExprs = Set("GetJsonObject", "JsonToStructs", "JsonTuple",
    "ParseJson", "TryParseJson")

  /** `parseAndCanonicalize` on a static frame of the records, executed
    * to completion `reps` times; reports the median rate, the number
    * of JSON-parse expressions in the executed plan, and the
    * `graft_parse` observed counts. */
  def parse(spark: SparkSession, recs: Vector[Rec], reps: Int): ParseProbe = {
    import spark.implicits._
    val src = recs.zipWithIndex.map { case (r, i) => SourceRecord(r.key, r.value, r.topic, i.toLong) }
      .toDS().toDF().localCheckpoint(true)
    var dropped, records = 0L
    var parses = 0
    val rates = (1 to reps).map { _ =>
      val qe = OrderUnifyPipeline.parseAndCanonicalize(src).queryExecution
      val t0 = System.nanoTime()
      SQLExecution.withNewExecutionId(qe, Some("parse-probe"))(qe.toRdd.foreach(_ => ()))
      val dt = (System.nanoTime() - t0) / 1e9
      qe.observedMetrics.get("graft_parse").foreach { row =>
        dropped = row.getAs[Long]("dropped"); records = row.getAs[Long]("records")
      }
      parses = 0
      qe.executedPlan.foreach(_.expressions.foreach(_.foreach { e =>
        if (JsonParseExprs.contains(e.getClass.getSimpleName)) parses += 1
      }))
      recs.size / dt
    }
    ParseProbe(Stats.median(rates), parses.toDouble, dropped, records)
  }

  /** The pure unify logic, single-threaded, over the steady schedule
    * cut into 1 s micro-batches: expired buffers flush through
    * `onTimeout`, arrivals go through `onEvents` per key. Repeats the
    * schedule for at least `seconds`; the first pass's projections are
    * compared with the model's. Then `Json.payload` alone in a loop. */
  def unify(recs: Vector[Rec], expected: Vector[Expected], bufferMs: Long,
      seconds: Double): UnifyProbe = {
    val events = recs.zipWithIndex.flatMap { case (r, i) =>
      r.ev.map(e => (r.sendMs, OrderEvent(e.orderId, e.ctype, e.micros, e.details, i.toLong)))
    }
    val batches = events.groupBy(_._1 / 1000).toVector.sortBy(_._1)
      .map { case (b, evs) => ((b + 1) * 1000, evs.map(_._2).groupBy(_.orderId).toVector) }

    def pass(): Vector[String] = {
      val state = mutable.HashMap.empty[String, PendingOrder]
      val out = Vector.newBuilder[String]
      def expire(now: Long): Unit = {
        val due = state.iterator.filter(_._2.deadlineEpochMillis <= now).map(_._1).toVector
        due.foreach { k => OrderUnify.onTimeout(k, state.remove(k)).foreach(p => out += p.payloadJson) }
      }
      batches.foreach { case (now, byKey) =>
        byKey.foreach { case (k, evs) =>
          val (emitted, next) = OrderUnify.onEvents(k, evs.sortBy(_.seq), state.get(k), now, bufferMs)
          emitted.foreach(p => out += p.payloadJson)
          next match { case Some(p) => state(k) = p; case None => state.remove(k) }
        }
        expire(now)
      }
      expire(Long.MaxValue)
      out.result()
    }

    val first = pass()
    val want = expected.map(_.payload).groupBy(identity).view.mapValues(_.size).toMap
    val got = first.groupBy(identity).view.mapValues(_.size).toMap
    val mismatches = (want.keySet ++ got.keySet).count(k => want.get(k) != got.get(k))
    var n = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) { pass(); n += events.size }
    val logicRate = n / ((System.nanoTime() - t0) / 1e9)

    val groups = expected.map { e =>
      val evs = events.collect { case (_, ev) if ev.orderId == e.key => ev }
      (e.key, evs.groupBy(_.eventType).values.map(_.head).toSeq
        .sortBy(ev => graft.streaming.OrderEventType.priority(ev.eventType)))
    }.take(500)
    var calls = 0L
    val p0 = System.nanoTime()
    while ((System.nanoTime() - p0) / 1e9 < seconds / 2) {
      groups.foreach { case (k, evs) => Json.payload(k, evs) }
      calls += groups.size
    }
    UnifyProbe(logicRate, calls / ((System.nanoTime() - p0) / 1e9), mismatches)
  }

  /** Median of `reps` direct calls to `FileTopics.latestOffsets`. */
  def latestOffsets(root: String, reps: Int): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      FileTopics.latestOffsets(root, Gen.Topics)
      (System.nanoTime() - t0) / 1e6
    })
}
