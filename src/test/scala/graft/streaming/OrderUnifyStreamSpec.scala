package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** Streaming end-to-end tests with MemoryStream, replicating the Go
  * producer's scenario matrix (`test-consumer-app/main.go`, SURVEY.md
  * §5.2 T1-T6).
  *
  * Mechanics note: while any group holds a pending processing-time
  * timeout, Spark constructs a micro-batch on EVERY trigger, so (a)
  * timeouts fire by themselves — no nudge data needed — and (b)
  * `processAllAvailable` can block indefinitely (noNewData never
  * latches). We therefore drive purely by wall-clock: add data, sleep
  * past the deadline + a trigger cushion, then read the sink table. */
class OrderUnifyStreamSpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private var n = 0
  private def nextName(): String = { n += 1; s"proj_out_$n" }

  private def evJson(id: String, typ: String, ts: String,
                     details: String = """{"d":1}"""): String =
    s"""{"order-id":"$id","type":"$typ","timestamp":"$ts","order_details":$details}"""

  private def rec(id: String, typ: String, seq: Long, topic: String = "order-created",
                  ts: String = "2024-08-16T15:51:19.799Z",
                  details: String = """{"d":1}"""): SourceRecord =
    SourceRecord(id, evJson(id, typ, ts, details), topic, seq)

  /** Run a scenario: each element of `batches` is added then
    * `sleepBetween` ms pass (batches run continuously off the trigger);
    * afterwards wait out the buffer + cushion so every deadline fires,
    * then snapshot the sink. */
  private def run(batches: Seq[Seq[SourceRecord]], bufferMillis: Long,
                  sleepBetween: Long, expect: Int): Seq[(String, String)] = {
    val input = MemoryStream[SourceRecord]
    val name = nextName()
    val out = OrderUnifyPipeline.projections(input.toDF(), bufferMillis)
    val query: StreamingQuery = out.writeStream
      .format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      batches.foreach { b =>
        input.addData(b)
        Thread.sleep(sleepBetween)
      }
      Thread.sleep(bufferMillis + 2000) // let every deadline pass + flush batch run
      // poll (first-query startup can eat several seconds of wall clock)
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table(name).count() < expect && System.currentTimeMillis() < deadline)
        Thread.sleep(300)
      Thread.sleep(1000) // settle: catch over-emission too
      spark.table(name).as[(String, String)].collect().toSeq
    } finally query.stop()
  }

  private def typesIn(json: String): Seq[String] =
    """"type":"(\w+)"""".r.findAllMatchIn(json).map(_.group(1)).toSeq

  test("T1: happy path, shuffled publish order -> one ordered projection") {
    val out = run(Seq(Seq(
      rec("ord-1", "cancelled", 0, "order-cancelled"),
      rec("ord-1", "created", 1, "order-created"),
      rec("ord-1", "placed", 2, "order-placed"))),
      bufferMillis = 1000, sleepBetween = 500, expect = 1)
    assert(out.map(_._1) == Seq("ord-1"))
    assert(typesIn(out.head._2) == Seq("created", "placed", "cancelled"))
  }

  test("T2: duplicates 2-5x -> exactly one projection, first arrival kept") {
    val out = run(Seq(Seq(
      rec("ord-2", "created", 0, details = """{"n":"first"}"""),
      rec("ord-2", "created", 1, details = """{"n":"dup1"}"""),
      rec("ord-2", "placed", 2, "order-placed"),
      rec("ord-2", "created", 3, details = """{"n":"dup2"}"""),
      rec("ord-2", "cancelled", 4, "order-cancelled"),
      rec("ord-2", "cancelled", 5, "order-cancelled", details = """{"n":"dup3"}"""))),
      bufferMillis = 1000, sleepBetween = 500, expect = 1)
    assert(out.size == 1)
    assert(out.head._2.contains(""""n":"first""""))
    assert(!out.head._2.contains("dup"))
  }

  test("T3: incomplete lifecycle -> dropped at deadline, no output") {
    val out = run(Seq(Seq(
      rec("ord-3a", "created", 0),
      rec("ord-3b", "created", 1),
      rec("ord-3b", "placed", 2, "order-placed"))),
      bufferMillis = 1000, sleepBetween = 500, expect = 0)
    assert(out.isEmpty)
  }

  test("T4: late event after expiry starts a fresh buffer (also dropped)") {
    val out = run(Seq(
      Seq(rec("ord-4", "created", 0), rec("ord-4", "placed", 1, "order-placed")),
      Seq(rec("ord-4", "cancelled", 2, "order-cancelled"))), // after deadline
      bufferMillis = 1000, sleepBetween = 2500, expect = 0)
    assert(out.isEmpty)
  }

  test("T4b: complete buffer emits exactly once even with a late extra event") {
    val out = run(Seq(
      Seq(rec("ord-5", "created", 0), rec("ord-5", "placed", 1, "order-placed"),
        rec("ord-5", "cancelled", 2, "order-cancelled")),
      Seq(rec("ord-5", "created", 3, details = """{"second":true}"""))),
      bufferMillis = 1000, sleepBetween = 2500, expect = 1)
    // the complete buffer flushed once (timeout or stale-arrival path);
    // the late created-only rebuffer was dropped
    assert(out.size == 1)
    assert(typesIn(out.head._2) == Seq("created", "placed", "cancelled"))
    assert(!out.head._2.contains("second"))
  }

  test("T5: null/malformed/missing-field records are filtered, not fatal") {
    val valid = Seq(
      rec("ord-6", "created", 10), rec("ord-6", "placed", 11, "order-placed"),
      rec("ord-6", "cancelled", 12, "order-cancelled"))
    val junk = Seq(
      SourceRecord("k", "not json at all", "order-created", 0),
      SourceRecord("k", "", "order-created", 1),
      SourceRecord("k", """{"type":"created","timestamp":"2024-08-16T15:51:19Z","order_details":{}}""",
        "order-created", 2), // missing order-id
      SourceRecord("k", """{"order-id":"ord-x","type":"created","order_details":{}}""",
        "order-created", 3), // missing timestamp
      SourceRecord("k", evJson("ord-y", "garbage", "2024-08-16T15:51:19Z"), "unknown-topic", 4))
    val out = run(Seq(junk ++ valid), bufferMillis = 1000, sleepBetween = 500, expect = 1)
    assert(out.map(_._1) == Seq("ord-6"))
  }

  test("T5b: strict mode processes valid records but crashes the stream on malformed JSON") {
    val input = MemoryStream[SourceRecord]
    val name = nextName()
    val out = OrderUnifyPipeline.projections(input.toDF(), 1000, failFast = true)
    val query: StreamingQuery = out.writeStream
      .format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      // valid records flow normally in strict mode
      input.addData(Seq(
        rec("ord-9", "created", 0), rec("ord-9", "placed", 1, "order-placed"),
        rec("ord-9", "cancelled", 2, "order-cancelled")))
      val d1 = System.currentTimeMillis() + 30000
      while (spark.table(name).count() < 1 && System.currentTimeMillis() < d1)
        Thread.sleep(300)
      assert(spark.table(name).count() == 1)
      // a malformed record is fatal (reference crash-on-malformed,
      // serde/JsonDeserializer.java:27-31): the query terminates
      input.addData(Seq(SourceRecord("k", "not json at all", "order-created", 3)))
      val d2 = System.currentTimeMillis() + 30000
      while (query.exception.isEmpty && System.currentTimeMillis() < d2)
        Thread.sleep(300)
      assert(query.exception.isDefined,
        "strict mode must fail the query on malformed JSON")
      val messages = Iterator.iterate(query.exception.get: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.toString.toLowerCase).mkString("\n")
      assert(messages.contains("malformed"))
    } finally query.stop()
  }

  test("T6: deadline is NOT extended by later events") {
    // created at t0; placed+cancelled arrive after the 1s deadline ->
    // old buffer dropped, fresh buffer incomplete -> nothing
    val out = run(Seq(
      Seq(rec("ord-7", "created", 0)),
      Seq(rec("ord-7", "placed", 1, "order-placed"),
        rec("ord-7", "cancelled", 2, "order-cancelled"))),
      bufferMillis = 1000, sleepBetween = 2500, expect = 0)
    assert(out.isEmpty)
  }

  test("type aliases + topic fallback work through the full pipeline") {
    val out = run(Seq(Seq(
      rec("ord-8", "ORDER-CREATED", 0, "order-created"),   // alias, case-insensitive
      rec("ord-8", "Placed", 1, "order-placed"),           // case-insensitive short name
      rec("ord-8", "garbage", 2, "order-cancelled"))),     // falls back to topic type
      bufferMillis = 1000, sleepBetween = 500, expect = 1)
    assert(out.size == 1)
    assert(typesIn(out.head._2) == Seq("created", "placed", "cancelled"))
  }
}
