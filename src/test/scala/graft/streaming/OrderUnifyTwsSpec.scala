package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end checks of the default (`transformWithState`) unify
  * operator's explicit-timer semantics. */
class OrderUnifyTwsSpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def evJson(id: String, typ: String): String =
    s"""{"order-id":"$id","type":"$typ","timestamp":"2024-08-16T15:51:19.799Z","order_details":{"d":1}}"""

  private def rec(id: String, typ: String, seq: Long, topic: String): SourceRecord =
    SourceRecord(id, evJson(id, typ), topic, seq)

  private def run(batches: Seq[Seq[SourceRecord]], bufferMillis: Long,
                  sleepBetween: Long, expect: Int, name: String): Seq[(String, String)] = {
    val input = MemoryStream[SourceRecord]
    val out = OrderUnifyPipeline.unify(
      OrderUnifyPipeline.parseAndCanonicalize(input.toDF()), bufferMillis)
    val q = out.writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.ProcessingTime("200 milliseconds")).start()
    try {
      batches.foreach { b => input.addData(b); Thread.sleep(sleepBetween) }
      Thread.sleep(bufferMillis + 2000)
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table(name).count() < expect && System.currentTimeMillis() < deadline)
        Thread.sleep(300)
      Thread.sleep(1000)
      spark.table(name).as[(String, String)].collect().toSeq
    } finally q.stop()
  }

  test("TWS: complete shuffled lifecycle -> one priority-ordered projection") {
    val out = run(Seq(Seq(
      rec("tws-1", "placed", 0, "order-placed"),
      rec("tws-1", "cancelled", 1, "order-cancelled"),
      rec("tws-1", "created", 2, "order-created"))),
      bufferMillis = 1000, sleepBetween = 500, expect = 1, name = "tws_out_1")
    assert(out.map(_._1) == Seq("tws-1"))
    val types = """"type":"(\w+)"""".r.findAllMatchIn(out.head._2).map(_.group(1)).toSeq
    assert(types == Seq("created", "placed", "cancelled"))
  }

  test("TWS: incomplete lifecycle dropped at the timer, no output") {
    val out = run(Seq(Seq(
      rec("tws-2", "created", 0, "order-created"),
      rec("tws-2", "placed", 1, "order-placed"))),
      bufferMillis = 1000, sleepBetween = 500, expect = 0, name = "tws_out_2")
    assert(out.isEmpty)
  }
}
