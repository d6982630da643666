package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** Pins for event-time session windows ([[SessionWindows]]):
  *  - events within the gap chain into ONE session whose end is
  *    last-event + gap; a gap splits sessions;
  *  - RETROACTIVE MERGE: a bridging event arriving a batch later
  *    (inside the watermark) coalesces two open sessions into one —
  *    the state behavior fixed windows never exhibit;
  *  - append-mode emission: a session emits exactly once, only after
  *    the watermark passes its end. */
class SessionWindowSpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private var n = 0
  private def nextName(): String = { n += 1; s"sw_out_$n" }

  private val T0us = 1723820400000000L // micros

  private def sec(s: Long): Long = T0us + s * 1000000L

  /** Drive batches of (userId, tsMicros); nudges on a throwaway user
    * advance the watermark so all sessions close. */
  private def run(batches: Seq[Seq[(Long, Long)]], gapSeconds: Int,
      delay: String = "2 seconds"): Seq[(Long, Long, Long, Long)] = {
    val in = MemoryStream[(Long, Long)]
    val name = nextName()
    val q: StreamingQuery = SessionWindows
      .userSessions(in.toDS(), gapSeconds, delay)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      for (i <- 0 to 1) {
        in.addData(Seq((999L, sec(3600 + i))))
        q.processAllAvailable()
      }
      spark.table(name).as[(Long, Long, Long, Long)].collect().toSeq
        .filter(_._1 != 999L).sorted
    } finally q.stop()
  }

  test("chaining within the gap; a gap splits; end = last + gap") {
    val out = run(Seq(Seq(
      (1L, sec(0)), (1L, sec(3)), (1L, sec(5)),  // one session 0..5
      (1L, sec(30)),                             // separate session
      (2L, sec(2)))),                            // other user
      gapSeconds = 5)
    assert(out == Seq(
      (1L, sec(0), sec(10), 3L),   // end = 5s + 5s gap
      (1L, sec(30), sec(35), 1L),
      (2L, sec(2), sec(7), 1L)), s"got $out")
  }

  test("a late bridging event merges two open sessions into one") {
    // delay 20 s keeps both sessions OPEN (watermark 8-20 < both
    // ends) until the bridge lands — the merge is what's under test
    val out = run(Seq(
      Seq((3L, sec(0)), (3L, sec(8))),  // gap 5: two separate sessions
      Seq((3L, sec(4)))),               // bridge: 0-4-8 all within gap
      gapSeconds = 5, delay = "20 seconds")
    assert(out == Seq((3L, sec(0), sec(13), 3L)),
      s"bridge must merge into one 3-event session: $out")
  }

  test("append emission: nothing emits before the watermark passes the end") {
    val in = MemoryStream[(Long, Long)]
    val name = nextName()
    val q = SessionWindows.userSessions(in.toDS(), 5, "2 seconds")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(Seq((7L, sec(0))))
      q.processAllAvailable()
      // watermark still at minus infinity→0-ish: session open, no rows
      assert(spark.table(name).count() == 0L)
      in.addData(Seq((999L, sec(100))))
      q.processAllAvailable()
      in.addData(Seq((999L, sec(101))))
      q.processAllAvailable()
      val rows = spark.table(name).as[(Long, Long, Long, Long)]
        .collect().toSeq.filter(_._1 == 7L)
      assert(rows == Seq((7L, sec(0), sec(5), 1L)), s"got $rows")
    } finally q.stop()
  }
}
