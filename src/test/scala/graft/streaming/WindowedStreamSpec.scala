package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Event-time windowed aggregation with watermarks — the streaming
  * counterpart of q_window_time (SURVEY.md §2.6 gap closure). Append
  * mode only emits a window once the watermark passes its end, so
  * feeding late-enough events closes earlier windows deterministically. */
class WindowedStreamSpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("tumbling event-time windows emit on watermark passage") {
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val agg = events
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("total"))
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      // window [10:00, 10:10): three events, one late-but-in-watermark
      input.addData(Seq((ts(1), "click", 1.0), (ts(5), "click", 2.0), (ts(9), "view", 5.0)))
      q.processAllAvailable()
      // advance the watermark far past 10:10 -> first window closes
      input.addData(Seq((ts(30), "click", 7.0)))
      q.processAllAvailable()
      input.addData(Seq((ts(45), "view", 1.0))) // push watermark past 10:40 too
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select(col("wstart").cast("string"), col("event_type"), col("n"), col("total"))
        .as[(String, String, Long, Double)].collect().toSet
      assert(rows.contains(("2024-01-01 10:00:00", "click", 2L, 3.0)))
      assert(rows.contains(("2024-01-01 10:00:00", "view", 1L, 5.0)))
      assert(rows.contains(("2024-01-01 10:30:00", "click", 1L, 7.0)))
      // the 10:40 window is still open -> not emitted
      assert(!rows.exists(_._1 == "2024-01-01 10:40:00"))
    } finally q.stop()
  }

  test("session windows merge on gap overlap and emit when the watermark passes") {
    val input = MemoryStream[(Timestamp, String)]
    val events = input.toDF().toDF("ts", "user")
    val agg = events
      .withWatermark("ts", "5 minutes")
      .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("string").as("wstart"),
        col("w.end").cast("string").as("wend"), col("user"), col("n"))
    val q = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // u1: events at 10:01 and 10:08 — 7 min gap < 10 -> ONE session
      // u2: events at 10:01 and 10:20 — 19 min gap  -> TWO sessions
      input.addData(Seq((ts(1), "u1"), (ts(8), "u1"), (ts(1), "u2"), (ts(20), "u2")))
      q.processAllAvailable()
      // push the watermark far past every session's end + gap
      input.addData(Seq((ts(59), "u9")))
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .select(col("wstart"), col("wend"), col("user"), col("n"))
        .as[(String, String, String, Long)].collect().toSet
      assert(rows.contains(("2024-01-01 10:01:00", "2024-01-01 10:18:00", "u1", 2L)),
        s"u1 session not merged: $rows")
      assert(rows.contains(("2024-01-01 10:01:00", "2024-01-01 10:11:00", "u2", 1L)))
      assert(rows.contains(("2024-01-01 10:20:00", "2024-01-01 10:30:00", "u2", 1L)))
    } finally q.stop()
  }

  test("late event beyond the watermark is dropped from its window") {
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val agg = events
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("n"))
    val q = agg.writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      input.addData(Seq((ts(2), "click", 1.0)))
      q.processAllAvailable()
      input.addData(Seq((ts(40), "click", 1.0))) // watermark -> 10:35
      q.processAllAvailable()
      input.addData(Seq((ts(3), "click", 1.0))) // hopelessly late, dropped
      q.processAllAvailable()
      input.addData(Seq((ts(59), "click", 1.0))) // close the 10:40 window
      q.processAllAvailable()
      val rows = spark.table("late_out")
        .select(col("wstart").cast("string"), col("n"))
        .as[(String, Long)].collect().toSet
      assert(rows.contains(("2024-01-01 10:00:00", 1L))) // late event NOT counted
      assert(rows.contains(("2024-01-01 10:40:00", 1L)))
    } finally q.stop()
  }
}
