package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming state-eviction surface beyond the unify core:
  * `dropDuplicatesWithinWatermark` (the streaming analog of G2
  * first-wins dedup with bounded state — state for a key is evictable
  * once the watermark passes its ts + delay, which is what keeps a
  * 100 TB/day stream's dedup state finite) and a stream-stream
  * event-time interval join (both sides watermarked so the join state
  * is also bounded). */
class StreamJoinDedupSpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(hour: Int, minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $hour%02d:$minute%02d:00")

  test("dropDuplicatesWithinWatermark: dup suppressed while state lives, re-emitted after eviction") {
    val input = MemoryStream[(Long, Timestamp)]
    val deduped = input.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "5 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.format("memory").queryName("ddww_out")
      .outputMode("append").start()
    try {
      // same-batch dup + a second key
      input.addData(Seq((1L, ts(10, 0)), (1L, ts(10, 1)), (2L, ts(10, 0))))
      q.processAllAvailable()
      // within-watermark dup -> suppressed
      input.addData(Seq((1L, ts(10, 2))))
      q.processAllAvailable()
      // advance the watermark far past id=1's expiry (10:00 + 5 min)
      input.addData(Seq((9L, ts(11, 0))))
      q.processAllAvailable()
      // id=1 state evicted -> this is a NEW occurrence and must pass
      input.addData(Seq((1L, ts(11, 1))))
      q.processAllAvailable()
      val perKey = spark.table("ddww_out").groupBy("event_id").count()
        .as[(Long, Long)].collect().toMap
      assert(perKey(2L) == 1L)
      assert(perKey(9L) == 1L)
      assert(perKey(1L) == 2L,
        s"expected dup suppressed within watermark then re-emitted after eviction, got ${perKey(1L)}")
    } finally q.stop()
  }

  test("stream-stream interval join matches clicks to impressions within 10 minutes") {
    val impressions = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val imp = impressions.toDF().toDF("ad_id", "its").withWatermark("its", "5 minutes")
    val clk = clicks.toDF().toDF("c_ad_id", "cts").withWatermark("cts", "5 minutes")
    val joined = imp.join(clk,
      col("ad_id") === col("c_ad_id") &&
        col("cts") >= col("its") && col("cts") <= col("its") + expr("INTERVAL 10 MINUTES"))
      .select(col("ad_id"), col("its"), col("cts"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      impressions.addData(Seq((100L, ts(10, 0)), (200L, ts(10, 0))))
      clicks.addData(Seq((100L, ts(10, 5)))) // in range -> match
      q.processAllAvailable()
      clicks.addData(Seq((200L, ts(10, 20)))) // 20 min later -> out of range
      clicks.addData(Seq((300L, ts(10, 5)))) // no impression -> no match
      q.processAllAvailable()
      val rows = spark.table("ssj_out")
        .select(col("ad_id"), col("cts").cast("string"))
        .as[(Long, String)].collect().toSet
      assert(rows == Set((100L, "2024-01-01 10:05:00")))
    } finally q.stop()
  }
}
