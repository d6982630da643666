package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the stream-stream event-time interval join
  * ([[StreamJoins.createdPlacedJoin]]):
  *  - INNER: in-window (created, placed) pairs match with the exact
  *    lag; a placed event at/past the window boundary matches nothing;
  *  - LEFT OUTER: an unmatched created emits with null placed columns
  *    once the watermark proves no in-window match can arrive;
  *  - batching invariance: one-shot delivery and drip-fed delivery
  *    produce identical result sets (event-time semantics — arrival
  *    timing decides only WHEN rows emit). */
class StreamJoinSpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private var n = 0
  private def nextName(): String = { n += 1; s"sj_out_$n" }

  private val T0 = 1723820400000L // 2024-08-16T15:00:00Z, millis

  private def ev(id: String, typ: String, ms: Long, seq: Long,
      details: String = """{"d":1}"""): OrderEvent =
    OrderEvent(id, typ, ms * 1000L, details, seq)

  /** Drive both sides batch-by-batch; a final high-time nudge on each
    * side advances both watermarks so outer results flush. Returns
    * (orderId, created_ms, placed_ms_or_null, lag_ms_or_null). */
  private def run(
      batches: Seq[(Seq[OrderEvent], Seq[OrderEvent])],
      windowMillis: Long, joinType: String,
      drainMs: Long): Seq[(String, Long, Option[Long], Option[Long])] = {
    val cIn = MemoryStream[OrderEvent]
    val pIn = MemoryStream[OrderEvent]
    val name = nextName()
    val out = StreamJoins.createdPlacedJoin(cIn.toDS(), pIn.toDS(),
      windowMillis, "2 seconds", joinType)
    val q: StreamingQuery = out.writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { case (cs, ps) =>
        if (cs.nonEmpty) cIn.addData(cs)
        if (ps.nonEmpty) pIn.addData(ps)
        q.processAllAvailable()
      }
      // two nudge rounds on throwaway keys advance both watermarks
      for (i <- 0 to 1) {
        cIn.addData(Seq(ev(s"wm-c-$i", "created", drainMs + i, 9000L + i)))
        pIn.addData(Seq(ev(s"wm-p-$i", "placed", drainMs + i, 9100L + i)))
        q.processAllAvailable()
      }
      spark.table(name)
        .select("orderId", "created_micros", "placed_micros", "lag_ms")
        .collect().toSeq
        .filter(!_.getString(0).startsWith("wm-"))
        .map(r => (r.getString(0), r.getLong(1) / 1000L,
          if (r.isNullAt(2)) None else Some(r.getLong(2) / 1000L),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
    } finally q.stop()
  }

  test("inner: in-window pairs match with exact lag; boundary excluded") {
    val out = run(Seq((
      Seq(ev("o1", "created", T0, 0), ev("o2", "created", T0 + 10, 1)),
      Seq(ev("o1", "placed", T0 + 400, 2),       // in window
        ev("o2", "placed", T0 + 10 + 1000, 3),   // AT the boundary: out
        ev("o1", "placed", T0 + 999, 4)))),      // second in-window match
      windowMillis = 1000, joinType = "inner", drainMs = T0 + 60000)
    assert(out.toSet == Set[(String, Long, Option[Long], Option[Long])](
      ("o1", T0, Some(T0 + 400), Some(400L)),
      ("o1", T0, Some(T0 + 999), Some(999L))) && out.size == 2,
      s"got $out")
  }

  test("left outer: unmatched created flushes with nulls after the watermark") {
    val out = run(Seq((
      Seq(ev("o3", "created", T0, 0), ev("o4", "created", T0 + 5, 1)),
      Seq(ev("o3", "placed", T0 + 100, 2)))),
      windowMillis = 1000, joinType = "left_outer", drainMs = T0 + 60000)
    assert(out.toSet == Set[(String, Long, Option[Long], Option[Long])](
      ("o3", T0, Some(T0 + 100), Some(100L)),
      ("o4", T0 + 5, None, None)) && out.size == 2,
      s"got $out")
  }

  test("batching invariance: one-shot equals drip-fed") {
    val created = Seq(ev("a", "created", T0, 0), ev("b", "created", T0 + 50, 1))
    val placed = Seq(ev("a", "placed", T0 + 200, 2),
      ev("b", "placed", T0 + 2000, 3), // out of b's window
      ev("a", "placed", T0 + 800, 4))
    val oneShot = run(Seq((created, placed)),
      windowMillis = 1000, joinType = "left_outer", drainMs = T0 + 60000)
    val drip = run(
      created.map(c => (Seq(c), Seq.empty[OrderEvent])) ++
        placed.map(p => (Seq.empty[OrderEvent], Seq(p))),
      windowMillis = 1000, joinType = "left_outer", drainMs = T0 + 60000)
    assert(oneShot.toSet == drip.toSet, s"one-shot $oneShot vs drip $drip")
    assert(oneShot.toSet == Set[(String, Long, Option[Long], Option[Long])](
      ("a", T0, Some(T0 + 200), Some(200L)),
      ("a", T0, Some(T0 + 800), Some(800L)),
      ("b", T0 + 50, None, None)))
  }
}
