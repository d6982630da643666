package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** S7 observability: the parse stage surfaces record/drop counts as an
  * observed metric (the engine's replacement for the reference's
  * crash-on-malformed policy). */
class ObserveMetricsSpec extends AnyFunSuite with graft.StreamingSuite {
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

  test("one JSON parse per record; edge records read as the reference's deserializer") {
    val ts = "2024-08-16T15:51:19Z"
    def rec(key: String, value: String) = SourceRecord(key, value, "order-created", 0)
    val df = Seq(
      // a duplicated top-level key is last-wins, as in Jackson
      rec("a", s"""{"order-id":"o1","order-id":"o9","type":"created","timestamp":"$ts","order_details":{}}"""),
      // nested, whitespace-padded details pass through normalized
      rec("b", s"""{"order-id":"o3","type":"created","timestamp":"$ts","order_details": { "a" : [1, 2], "b": {"c": null} } }"""),
      // a number or boolean in a string field reads as its JSON text
      rec("c", s"""{"order-id":42,"type":"created","timestamp":"$ts","order_details":{}}"""),
      rec("d", s"""{"order-id":true,"type":"created","timestamp":"$ts","order_details":{}}"""),
      // not an object: dropped
      rec("e", s"""[{"order-id":"o4","type":"created","timestamp":"$ts","order_details":{}}]"""),
      rec("f", "\"o5\"")).toDS().toDF()
      .localCheckpoint() // a scan the optimizer cannot fold the parse into
    val parsed = OrderUnifyPipeline.parseAndCanonicalize(df)
    val byId = parsed.collect().map(e => e.orderId -> e.orderDetails).toMap
    assert(byId == Map("o9" -> "{}", "o3" -> """{"a":[1,2],"b":{"c":null}}""",
      "42" -> "{}", "true" -> "{}"))
    val parses = parsed.queryExecution.executedPlan.collect { case p =>
      p.expressions.flatMap(_.collect { case e
        if Set("JsonToStructs", "GetJsonObject").contains(e.getClass.getSimpleName) => e })
    }.flatten
    assert(parses.size == 1, parsed.queryExecution.executedPlan.toString)
  }
}
