package unifybench

import java.io.{File, RandomAccessFile}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.sources.FileTopics
import graft.streaming.OrderUnifyPipeline

/** A projection as it landed in the sink log, stamped with the time
  * `sinkBatch` returned for the batch that carried it. */
final case class Delivery(key: String, payload: String, atNs: Long)

/** Outcome of one streaming run, checked against the model. */
final case class StreamResult(
    expected: Int, failed: Int, missing: Int, duplicated: Int, wrong: Int,
    lagsMs: Vector[Double], workS: Double, busyS: Double, inputEvents: Int,
    sinkMs: Vector[Double], generatorLateMs: Vector[Double],
    backlogMax: Long, progress: Vector[StreamingQueryProgress],
    droppedObserved: Long, recordsObserved: Long, writeS: Double)

/** Drives the order-unify pipeline end to end through the checkpointed
  * `FileTopics` source: records go into 3 topics × 3 partitions, the
  * default deployment (parse → unify on the session's state store →
  * 1 s trigger) runs with a fresh checkpoint, and the sink is
  * `FileTopics.sinkBatch` inside `foreachBatch`. The benchmark tails
  * the sink logs itself, so every projection is checked exactly. */
object Stream {
  val SinkTopic = "order-projection"
  val TickMs = 5L

  /** Reads the complete lines appended to the sink logs since the
    * last call. */
  private final class SinkTail(root: String) {
    private val pos = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    def poll(): Vector[(String, String)] = (0 until Gen.Partitions).toVector.flatMap { p =>
      val f = new File(s"$root/$SinkTopic", s"p$p.log")
      if (!f.exists()) Vector.empty
      else {
        val raf = new RandomAccessFile(f, "r")
        try {
          val len = raf.length()
          val from = pos(p)
          val buf = new Array[Byte]((len - from).toInt)
          raf.seek(from); raf.readFully(buf)
          val text = new String(buf, "UTF-8")
          val end = text.lastIndexOf('\n') + 1
          pos(p) = from + text.substring(0, end).getBytes("UTF-8").length
          text.substring(0, end).split('\n').toVector.filter(_.nonEmpty).map { line =>
            val tab = line.indexOf('\t')
            (dec(line.substring(0, tab)), dec(line.substring(tab + 1)))
          }
        } finally raf.close()
      }
    }
    private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
  }

  def write(root: String, recs: Seq[Rec]): Unit =
    recs.groupBy(_.topic).toSeq.sortBy(_._1).foreach { case (t, rs) =>
      FileTopics.append(root, t, Gen.Partitions, rs.map(r => (r.key, r.value)))
    }

  /** One run. `schedule` = records to send open-loop at their
    * `sendMs` once the query is up (steady); `backlog` = records
    * written before the query starts (drain). Every projection is
    * checked, but lags are taken only for lifecycles anchored at or
    * after `measureFromMs` of the schedule, and `busyS` sums the
    * execution time of the triggers that started from then on: the
    * schedule before it is a warm-up of the running query. */
  def run(spark: SparkSession, work: File, name: String, bufferMs: Long,
      impl: String, schedule: Vector[Rec], backlog: Vector[Rec],
      expected: Vector[Expected], tracer: Tracer, timeoutS: Int,
      measureFromMs: Long = 0L): StreamResult = {
    val root = new File(work, s"$name-topics").getPath
    val ckpt = new File(work, s"$name-ckpt").getPath
    val w0 = System.nanoTime()
    write(root, backlog)
    val writeS = (System.nanoTime() - w0) / 1e9
    val tail = new SinkTail(root)
    val deliveries = new ConcurrentLinkedQueue[Delivery]()
    val sinkMs = new ConcurrentLinkedQueue[java.lang.Double]()
    var sent = backlog.size.toLong
    val want = expected.map(_.payload).toSet
    val landed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    val records = FileTopics.source(spark, root, Gen.Topics)
    val events = OrderUnifyPipeline.parseAndCanonicalize(records)
    val out = OrderUnifyPipeline.unify(events, bufferMs, impl)
      .select(col("orderId").as("key"), col("payloadJson").as("value"))
    val sink: (DataFrame, Long) => Unit = (df, _) => {
      val t0 = System.nanoTime()
      tracer.span("sink.sinkBatch") {
        FileTopics.sinkBatch(root, SinkTopic, Gen.Partitions)(df)
      }
      val t1 = System.nanoTime()
      sinkMs.add((t1 - t0) / 1e6)
      tail.poll().foreach { case (k, v) =>
        deliveries.add(Delivery(k, v, t1))
        if (want.contains(v)) landed.add(v)
      }
    }
    Main.log(f"$name: wrote ${backlog.size} backlog records in $writeS%.2fs")
    val tStart = System.nanoTime()
    val query = out.writeStream
      .foreachBatch(sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()

    val lateMs = mutable.ArrayBuffer.empty[Double]
    val backlogMax = new java.util.concurrent.atomic.AtomicLong
    var t0Ns = tStart
    var t0Wall = System.currentTimeMillis()
    try {
      if (schedule.nonEmpty) {
        // open loop: the schedule starts once the first (empty) batch
        // is done, and never waits for the system
        while (query.lastProgress == null && query.isActive) Thread.sleep(20)
        t0Ns = System.nanoTime()
        t0Wall = System.currentTimeMillis()
        var i = 0
        while (i < schedule.size) {
          // sends go out on a 5 ms tick: each record in the tick it
          // falls due in; lateness is measured against the tick
          val tickMs = (schedule(i).sendMs + TickMs - 1) / TickMs * TickMs
          val waitNs = t0Ns + tickMs * 1000000L - System.nanoTime()
          if (waitNs > 0) Thread.sleep(waitNs / 1000000L, (waitNs % 1000000L).toInt)
          var j = i
          while (j < schedule.size && schedule(j).sendMs <= tickMs) j += 1
          val due = schedule.slice(i, j)
          write(root, due)
          lateMs += (System.nanoTime() - t0Ns) / 1e6 - tickMs
          sent += due.size
          if (tracer.enabled) {
            val consumed = Option(query.lastProgress).map(p => endOffsetSum(p)).getOrElse(0L)
            backlogMax.accumulateAndGet(sent - consumed, math.max)
          }
          i = j
        }
      }
      // wait for every expected projection, then one more trigger
      // interval so that a duplicate emitted late is still caught
      val limit = System.nanoTime() + timeoutS * 1000000000L
      while (landed.size < want.size && System.nanoTime() < limit && query.isActive) Thread.sleep(10)
      Main.log(f"$name: ${landed.size} of ${want.size} projections landed")
      Thread.sleep(1200)
      query.exception.foreach(e => throw e)
    } finally {
      query.stop()
    }

    val progress =
      if (tracer.enabled) tracer.progressOf(query.runId) else query.recentProgress.toVector
    Main.log(s"$name: trigger ms " + progress.map(_.durationMs.get("triggerExecution")).mkString(" "))
    Main.log(s"$name: median phase ms " + Seq("latestOffset", "queryPlanning", "addBatch", "walCommit",
      "commitOffsets").map { k =>
      k + " " + Stats.median(progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    }.mkString(", ") + ", state commit " +
      Stats.median(progress.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)) + ", state update " +
      Stats.median(progress.map(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble)) + ", sinkBatch " +
      Stats.median(sinkMs.asScala.map(_.doubleValue).toVector))
    val byPayload = deliveries.asScala.toVector.groupBy(_.payload)
    val expByPayload = expected.map(e => e.payload -> e).toMap
    val missing = expected.count(e => !byPayload.contains(e.payload))
    val duplicated = byPayload.count { case (p, ds) => ds.size > 1 && expByPayload.contains(p) }
    val wrong = byPayload.count { case (p, ds) =>
      !expByPayload.get(p).exists(e => ds.forall(_.key == e.key)) }
    val lags = expected.filter(_.anchorMs >= measureFromMs).flatMap { e =>
      byPayload.get(e.payload).map { ds =>
        val anchorNs = if (schedule.nonEmpty) t0Ns + e.anchorMs * 1000000L else tStart
        (ds.map(_.atNs).min - anchorNs) / 1e6 - bufferMs
      }
    }
    val lastNs = deliveries.asScala.map(_.atNs).foldLeft(t0Ns)(math.max)
    val lastWall = t0Wall + (lastNs - t0Ns) / 1000000L
    val busyS = progress
      .filter { p =>
        val at = java.time.Instant.parse(p.timestamp).toEpochMilli
        at >= t0Wall + measureFromMs && at <= lastWall
      }
      .map(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)).sum / 1000
    val parse = progress.flatMap(p => Option(p.observedMetrics.get("graft_parse")))
    StreamResult(expected.size, missing + duplicated + wrong, missing, duplicated, wrong,
      lags, (lastNs - t0Ns) / 1e9, busyS, schedule.size + backlog.size,
      sinkMs.asScala.map(_.doubleValue).toVector, lateMs.toVector, backlogMax.get,
      progress,
      parse.map(_.getAs[Long]("dropped")).sum, parse.map(_.getAs[Long]("records")).sum, writeS)
  }

  /** Sum of a progress report's end offsets over all partitions. */
  def endOffsetSum(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset)).map { j =>
      "\"[^\"]+\":(\\d+)".r.findAllMatchIn(j).map(_.group(1).toLong).sum
    }.getOrElse(0L)
}
