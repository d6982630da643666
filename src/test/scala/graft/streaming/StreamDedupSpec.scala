package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the stream-wide ingest dedup
  * ([[StreamDedup.dedupEvents]], `dropDuplicatesWithinWatermark`):
  *  - a redelivered (orderId, eventType) inside the watermark delay is
  *    dropped even when it arrives BATCHES later;
  *  - the FIRST arrival's payload wins (the unify G2 discipline,
  *    stream-wide);
  *  - distinct event types of one order all pass (the key is the
  *    pair, not the order id). */
class StreamDedupSpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private var n = 0
  private def nextName(): String = { n += 1; s"sd_out_$n" }

  private val T0 = 1723820400000L

  private def ev(id: String, typ: String, ms: Long, seq: Long,
      details: String): OrderEvent =
    OrderEvent(id, typ, ms * 1000L, details, seq)

  private def run(batches: Seq[Seq[OrderEvent]])
      : Seq[(String, String, String)] = {
    val in = MemoryStream[OrderEvent]
    val name = nextName()
    val q: StreamingQuery = StreamDedup.dedupEvents(in.toDS(), "10 seconds")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      spark.table(name)
        .select("orderId", "eventType", "orderDetails")
        .collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    } finally q.stop()
  }

  test("cross-batch redelivery inside the delay is dropped; first payload wins") {
    val out = run(Seq(
      Seq(ev("d1", "created", T0, 0, """{"v":"first"}""")),
      // redelivered two batches later, same key, different payload
      Seq(ev("d1", "created", T0 + 3000, 1, """{"v":"retry"}""")),
      Seq(ev("d1", "created", T0 + 1, 2, """{"v":"retry2"}"""))))
    assert(out == Seq(("d1", "created", """{"v":"first"}""")), s"got $out")
  }

  test("distinct types of one order all pass; duplicates of each are dropped") {
    val out = run(Seq(Seq(
      ev("d2", "created", T0, 0, """{"a":1}"""),
      ev("d2", "placed", T0 + 10, 1, """{"b":2}"""),
      ev("d2", "created", T0 + 20, 2, """{"dup":true}"""),
      ev("d2", "cancelled", T0 + 30, 3, """{"c":3}"""))))
    assert(out.map(t => (t._1, t._2)).sorted == Seq(
      ("d2", "cancelled"), ("d2", "created"), ("d2", "placed")), s"got $out")
    assert(out.find(_._2 == "created").get._3 == """{"a":1}""")
  }
}
