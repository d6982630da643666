package unifybench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent, QueryIdleEvent}

/** A span recorded around one call into a layer, from the benchmark's
  * own code. `parent` names the span that caused it. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** In-memory trace: spans, shuffle bytes written (SparkListener), and
  * the streaming progress reports (StreamingQueryListener). Nothing is
  * written until [[json]] is called at the end of the run. A disabled
  * tracer registers no listener and records no span. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = ThreadLocal.withInitial[List[Int]](() => List(-1))

  val shuffleWriteBytes = new AtomicLong
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.head
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, name, parent, t0, t1) }
      }
    }

  private val sparkListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m =>
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
  }
  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** The progress reports the listener received for one query run. */
  def progressOf(runId: java.util.UUID): Vector[StreamingQueryProgress] =
    progress.asScala.filter(_.runId == runId).toVector

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }
  def detach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }

  def json: String = synchronized {
    spans.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[", ",\n", "]")
  }
}

object Stats {
  /** Linear-interpolated percentile (p in 0..100) of `xs`. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = (p / 100.0) * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}
