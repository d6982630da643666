package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** S7 observability: the parse stage surfaces record/drop counts as an
  * observed metric (the engine's replacement for the reference's
  * crash-on-malformed policy). */
class ObserveMetricsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("graft_parse metric reports total and dropped records") {
    val input = MemoryStream[SourceRecord]
    // stateless slice of the pipeline (no timers) -> processAllAvailable safe
    val parsed = OrderUnifyPipeline.parseAndCanonicalize(input.toDF()).toDF()
    val q = parsed.writeStream.format("memory").queryName("obs_out")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        SourceRecord("a", """{"order-id":"o1","type":"created","timestamp":"2024-08-16T15:51:19Z","order_details":{}}""", "order-created", 0),
        SourceRecord("b", "garbage", "order-created", 1),
        SourceRecord("c", "", "order-created", 2),
        // well-formed JSON, but the timestamp is not an ISO instant
        SourceRecord("d", """{"order-id":"o2","type":"created","timestamp":"yesterday","order_details":{}}""", "order-created", 3)))
      q.processAllAvailable()
      val metrics = q.lastProgress.observedMetrics.get("graft_parse")
      assert(metrics != null)
      assert(metrics.getAs[Long]("records") == 4L)
      assert(metrics.getAs[Long]("dropped") == 3L)
      assert(spark.table("obs_out").count() == 1L)
    } finally q.stop()
  }

  test("failFast: a non-ISO timestamp fails the query, as the reference does") {
    val input = MemoryStream[SourceRecord]
    val parsed = OrderUnifyPipeline
      .parseAndCanonicalize(input.toDF(), failFast = true).toDF()
    val q = parsed.writeStream.format("memory").queryName("obs_failfast")
      .outputMode("append").start()
    try {
      input.addData(Seq(SourceRecord("d", """{"order-id":"o2","type":"created","timestamp":"yesterday","order_details":{}}""", "order-created", 0)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      assert(e.getMessage.contains("CAST_INVALID_INPUT"), e.getMessage)
    } finally q.stop()
  }
}
