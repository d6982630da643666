package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** The T1-T6 scenario matrix (SURVEY.md §5.2) replayed under
  * EVENT-TIME semantics ([[OrderUnifyEventTime]]), plus the late-event
  * case processing-time semantics cannot express. Unlike the
  * wall-clock spec, everything here is driven by DATA ALONE: event
  * times anchor the deadlines, and watermark-advancing nudge records
  * (incomplete lifecycles on throwaway keys) trigger the flushes — no
  * sleeps, no timing races. Two nudge rounds per drain: the first
  * batch advances the watermark at its end, the second fires the
  * timeouts. */
class OrderUnifyEventTimeSpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private var n = 0
  private def nextName(): String = { n += 1; s"et_proj_out_$n" }

  /** Base event time (epoch millis) — 2024-08-16T15:00:00Z. */
  private val T0 = 1723820400000L

  private def iso(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString

  private def rec(id: String, typ: String, seq: Long, evMs: Long,
                  details: String = """{"d":1}"""): SourceRecord =
    SourceRecord(id,
      s"""{"order-id":"$id","type":"$typ","timestamp":"${iso(evMs)}","order_details":$details}""",
      s"order-$typ", seq)

  /** Watermark nudge: a single `created` on a throwaway key at event
    * time `evMs` — never completes, so it can't pollute the sink. */
  private def nudge(i: Int, evMs: Long): SourceRecord =
    rec(s"wm-nudge-$i", "created", 100000L + i, evMs)

  /** Drive a scenario: each batch is added and fully processed before
    * the next; then two nudge batches at `drainMs` advance the
    * watermark and fire every pending timeout. Returns the sink. */
  private def run(batches: Seq[Seq[SourceRecord]], windowMillis: Long,
                  drainMs: Long, delay: String = "2 seconds")
      : Seq[(String, String)] = {
    val input = MemoryStream[SourceRecord]
    val name = nextName()
    val out = OrderUnifyEventTime.unify(
      OrderUnifyPipeline.parseAndCanonicalize(input.toDF()),
      windowMillis, delay)
    val query: StreamingQuery = out.writeStream
      .format("memory").queryName(name).outputMode("append")
      .start()
    try {
      batches.foreach { b => input.addData(b); query.processAllAvailable() }
      input.addData(Seq(nudge(1, drainMs)))
      query.processAllAvailable()
      input.addData(Seq(nudge(2, drainMs + 1)))
      query.processAllAvailable()
      spark.table(name).as[(String, String)].collect().toSeq
    } finally query.stop()
  }

  private def typesIn(json: String): Seq[String] =
    """"type":"(\w+)"""".r.findAllMatchIn(json).map(_.group(1)).toSeq

  test("ET-T1: happy path, shuffled publish order -> one ordered projection") {
    val out = run(Seq(Seq(
      rec("ord-1", "cancelled", 0, T0 + 900),
      rec("ord-1", "created", 1, T0),
      rec("ord-1", "placed", 2, T0 + 400))),
      windowMillis = 1000, drainMs = T0 + 60000)
    assert(out.map(_._1) == Seq("ord-1"))
    assert(typesIn(out.head._2) == Seq("created", "placed", "cancelled"))
  }

  test("ET-T2: duplicates -> exactly one projection, first ARRIVAL kept") {
    val out = run(Seq(Seq(
      rec("ord-2", "created", 0, T0, details = """{"n":"first"}"""),
      rec("ord-2", "created", 1, T0 + 10, details = """{"n":"dup1"}"""),
      rec("ord-2", "placed", 2, T0 + 20),
      rec("ord-2", "created", 3, T0 + 30, details = """{"n":"dup2"}"""),
      rec("ord-2", "cancelled", 4, T0 + 40))),
      windowMillis = 1000, drainMs = T0 + 60000)
    assert(out.size == 1)
    assert(out.head._2.contains(""""n":"first""""))
    assert(!out.head._2.contains("dup"))
  }

  test("ET-T3: incomplete lifecycle -> dropped at watermark, no output") {
    val out = run(Seq(Seq(
      rec("ord-3a", "created", 0, T0),
      rec("ord-3b", "created", 1, T0),
      rec("ord-3b", "placed", 2, T0 + 100))),
      windowMillis = 1000, drainMs = T0 + 60000)
    assert(out.isEmpty)
  }

  test("ET-T4: an event PAST the deadline (by event time) seeds a fresh buffer; both incomplete -> nothing") {
    val out = run(Seq(Seq(
      rec("ord-4", "created", 0, T0),
      rec("ord-4", "placed", 1, T0 + 500),
      // own event time at deadline: flush-then-reseed (G7-ET)
      rec("ord-4", "cancelled", 2, T0 + 1000))),
      windowMillis = 1000, drainMs = T0 + 60000)
    assert(out.isEmpty)
  }

  test("ET-T4b: complete buffer emits exactly once; the past-deadline extra reseeds and drops") {
    val out = run(Seq(Seq(
      rec("ord-5", "created", 0, T0),
      rec("ord-5", "placed", 1, T0 + 300),
      rec("ord-5", "cancelled", 2, T0 + 600),
      rec("ord-5", "created", 3, T0 + 1500, details = """{"second":true}"""))),
      windowMillis = 1000, drainMs = T0 + 60000)
    assert(out.size == 1)
    assert(typesIn(out.head._2) == Seq("created", "placed", "cancelled"))
    assert(!out.head._2.contains("second"))
  }

  test("ET-T5: malformed/missing-field records are filtered, not fatal") {
    val valid = Seq(
      rec("ord-6", "created", 0, T0),
      rec("ord-6", "placed", 1, T0 + 100),
      rec("ord-6", "cancelled", 2, T0 + 200))
    val junk = Seq(
      SourceRecord("ord-6", "not json at all", "order-created", 3),
      SourceRecord("ord-6", """{"type":"created"}""", "order-created", 4),
      SourceRecord(null, null, "order-created", 5))
    val out = run(Seq(valid ++ junk),
      windowMillis = 1000, drainMs = T0 + 60000)
    assert(out.size == 1 &&
      typesIn(out.head._2) == Seq("created", "placed", "cancelled"))
  }

  test("ET-T6: interleaved keys unify independently") {
    val out = run(Seq(Seq(
      rec("ord-7a", "created", 0, T0),
      rec("ord-7b", "created", 1, T0 + 10),
      rec("ord-7a", "placed", 2, T0 + 20),
      rec("ord-7b", "placed", 3, T0 + 30),
      rec("ord-7a", "cancelled", 4, T0 + 40),
      rec("ord-7b", "cancelled", 5, T0 + 50))),
      windowMillis = 1000, drainMs = T0 + 60000)
    assert(out.map(_._1).sorted == Seq("ord-7a", "ord-7b"))
  }

  test("ET-LATE: an out-of-order event arriving batches later still joins its lifecycle — inexpressible in processing time") {
    // created+placed at T0; the cancelled event CARRIES event time
    // T0+800 (inside the window) but ARRIVES two micro-batches later,
    // after other traffic nudged the watermark forward (still below
    // the deadline). Event-time semantics: it joins and the lifecycle
    // completes. Processing-time semantics with the same arrival
    // pattern and any wall gap > window would have expired the buffer
    // (the wall-clock spec's T4 pins exactly that drop).
    val out = run(Seq(
      Seq(rec("ord-8", "created", 0, T0),
        rec("ord-8", "placed", 1, T0 + 100)),
      // unrelated traffic; watermark stays below T0+1000-δ
      Seq(nudge(50, T0 + 900)),
      // the late arrival, event time inside the window
      Seq(rec("ord-8", "cancelled", 60, T0 + 800))),
      windowMillis = 1000, drainMs = T0 + 60000)
    assert(out.map(_._1) == Seq("ord-8"),
      s"late in-window event must complete the lifecycle: $out")
    assert(typesIn(out.head._2) == Seq("created", "placed", "cancelled"))
  }

  test("ET-DROP: events past the watermark are counted exactly, and observed arrivals include them") {
    // batch 1 completes ord-d1 at T0 and nudges the watermark to
    // ~T0+58s (nudge at T0+60s, 2 s delay); batch 2 then delivers ONE
    // event carrying event time T0 — below the watermark, so Spark's
    // stateful-operator filter drops it before the state function.
    // The production signals: numRowsDroppedByWatermark counts it
    // EXACTLY, the observe metric (above the filter) still counts its
    // arrival, and the dropped key never reaches the sink.
    val input = MemoryStream[SourceRecord]
    val name = nextName()
    val out = OrderUnifyEventTime.unify(
      OrderUnifyPipeline.parseAndCanonicalize(input.toDF()),
      windowMillis = 1000, watermarkDelay = "2 seconds")
    val query: StreamingQuery = out.writeStream
      .format("memory").queryName(name).outputMode("append")
      .start()
    try {
      input.addData(Seq(
        rec("ord-d1", "created", 0, T0),
        rec("ord-d1", "placed", 1, T0 + 100),
        rec("ord-d1", "cancelled", 2, T0 + 200),
        nudge(70, T0 + 60000)))
      query.processAllAvailable()
      input.addData(Seq(rec("ord-d2", "created", 3, T0))) // below watermark
      query.processAllAvailable()
      input.addData(Seq(nudge(71, T0 + 60001)))
      query.processAllAvailable()
      val progress = query.recentProgress
      val dropped = progress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 1L,
        s"exactly the one below-watermark event must be dropped, got $dropped")
      val observed = progress.flatMap(p =>
        Option(p.observedMetrics.get("unify_et_arrivals")))
        .map(_.getAs[Long]("n_arrivals")).sum
      assert(observed == 6L,
        s"observe sits above the watermark filter: 6 arrivals, got $observed")
      val keys = spark.table(name).as[(String, String)]
        .collect().toSeq.map(_._1)
      assert(keys == Seq("ord-d1"),
        s"the dropped event's key must never reach the sink: $keys")
    } finally query.stop()
  }

  test("ET-REPLAY: historical replay flushes the same projections regardless of arrival batching") {
    val evs = Seq(
      rec("ord-9a", "created", 0, T0),
      rec("ord-9a", "placed", 1, T0 + 200),
      rec("ord-9a", "cancelled", 2, T0 + 400),
      rec("ord-9b", "created", 3, T0 + 100),
      rec("ord-9b", "cancelled", 4, T0 + 300),
      rec("ord-9b", "placed", 5, T0 + 2000)) // past 9b's deadline: reseed
    val oneShot = run(Seq(evs), windowMillis = 1000, drainMs = T0 + 60000)
    val drip = run(evs.map(Seq(_)), windowMillis = 1000, drainMs = T0 + 60000)
    assert(oneShot.toSet == drip.toSet)
    assert(oneShot.map(_._1).sorted == Seq("ord-9a"))
  }
}
