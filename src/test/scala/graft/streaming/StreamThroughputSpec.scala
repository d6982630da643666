package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Volume soak of the unify pipeline: 20k complete lifecycles (60k
  * events, distinct keys) must all land exactly once, and end-to-end
  * throughput must clear a deliberately conservative floor. This spec
  * guards exactly-onceness at volume; the streaming throughput and
  * latency figures come from the order-unify benchmark in `perfbench/`
  * (baseline in `perfbench/README.md`). */
class StreamThroughputSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** Complete lifecycles `lo until hi`: created, placed and cancelled
    * events for distinct keys `ord-<i>`, in publish order. */
  private def lifecycleRecords(lo: Int, hi: Int): Seq[SourceRecord] = {
    val ts = "2024-08-16T15:51:19.799Z"
    def json(id: String, typ: String): String =
      s"""{"order-id":"$id","type":"$typ","timestamp":"$ts","order_details":{"d":1}}"""
    (lo until hi).flatMap { i =>
      val id = s"ord-$i"
      Seq(
        SourceRecord(id, json(id, "created"), "order-created", 3L * i),
        SourceRecord(id, json(id, "placed"), "order-placed", 3L * i + 1),
        SourceRecord(id, json(id, "cancelled"), "order-cancelled", 3L * i + 2))
    }
  }

  /** Run `lifecycles` complete lifecycles through the AUTO-dispatched
    * pipeline on `session`, return events/s (asserts exactly-once). */
  private def soak(session: org.apache.spark.sql.SparkSession,
      lifecycles: Int, queryName: String): Double = {
    implicit val ctx: org.apache.spark.sql.SQLContext = session.sqlContext
    val input = MemoryStream[SourceRecord](
      implicitly[org.apache.spark.sql.Encoder[SourceRecord]], session.sqlContext)
    val out = OrderUnifyPipeline.projections(input.toDF(), bufferMillis = 2000L)
    val query = out.writeStream
      .format("memory").queryName(queryName).outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      val t0 = System.nanoTime()
      (0 until lifecycles by 10000).foreach { lo =>
        input.addData(lifecycleRecords(
          lo, math.min(lo + 10000, lifecycles)))
      }
      val deadline = System.currentTimeMillis() + 600000L
      var done = 0L
      while (done < lifecycles && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        done = session.table(queryName).count()
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1000) // settle: catch over-emission too
      val rows = session.table(queryName)
      assert(rows.count() == lifecycles,
        s"$queryName: expected $lifecycles projections, got ${rows.count()}")
      assert(rows.select("orderId").distinct().count() == lifecycles)
      3.0 * lifecycles / elapsed
    } finally query.stop()
  }

  test("unify auto-dispatch: RocksDB session routes to transformWithState, " +
    "HDFS-provider session to flatMapGroupsWithState") {
    val input = MemoryStream[SourceRecord]
    val fmgwsPlan = OrderUnifyPipeline
      .projections(input.toDF()).queryExecution.logical.toString()
    assert(fmgwsPlan.contains("FlatMapGroupsWithState"),
      s"default provider must take the fallback path:\n$fmgwsPlan")
    val rocks = graft.TestSpark.spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    assert(OrderUnifyPipeline.rocksDbEnabled(rocks))
    val input2 = MemoryStream[SourceRecord](
      implicitly[org.apache.spark.sql.Encoder[SourceRecord]], rocks.sqlContext)
    val twsPlan = OrderUnifyPipeline
      .projections(input2.toDF()).queryExecution.logical.toString()
    assert(twsPlan.contains("TransformWithState"),
      s"RocksDB session must take the timer path:\n$twsPlan")
  }

  test("20k lifecycles on the DEFAULT (TWS/RocksDB) path: exactly once, " +
    "above the throughput floor") {
    val rocks = graft.TestSpark.spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val eps = soak(rocks, 20000, "soak_tws_spec")
    info(f"tws stream soak: $eps%.0f events/s")
    assert(eps > 1000.0, f"throughput $eps%.0f events/s below floor")
  }

  test("timeout cost tracks EXPIRED keys: 10x the lifecycle count costs " +
    "at most 1.5x the per-event rate (TWS/RocksDB)", graft.SlowSoak) {
    // ~4 min of wall clock: opt-in via GRAFT_SLOW_SOAK=1 (shows as
    // canceled in the default matrix so the contract stays visible)
    if (!sys.env.contains("GRAFT_SLOW_SOAK"))
      cancel("set GRAFT_SLOW_SOAK=1 to run the 1M-lifecycle soak")
    // the FMGWS pathology this guards against: a per-batch timeout
    // scan over the WHOLE store makes per-event cost grow with live-key
    // count; explicit timers keep it flat. 100k then 1M lifecycles.
    val rocks = graft.TestSpark.spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val eps100k = soak(rocks, 100000, "soak_tws_100k")
    val eps1m = soak(rocks, 1000000, "soak_tws_1m")
    info(f"tws 100k: $eps100k%.0f events/s; 1M: $eps1m%.0f events/s")
    assert(eps1m * 1.5 >= eps100k,
      f"per-event rate degraded ${eps100k / eps1m}%.2fx from 100k to 1M " +
        "lifecycles — timeout cost is tracking store size, not expired keys")
  }

  test("20k lifecycles: every projection exactly once, above the throughput floor") {
    val lifecycles = 20000
    val input = MemoryStream[SourceRecord]
    val out = OrderUnifyPipeline.projections(input.toDF(), bufferMillis = 2000L)
    val query = out.writeStream
      .format("memory").queryName("soak_spec").outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      val t0 = System.nanoTime()
      (0 until lifecycles by 5000).foreach { lo =>
        input.addData(lifecycleRecords(
          lo, math.min(lo + 5000, lifecycles)))
      }
      val deadline = System.currentTimeMillis() + 300000L
      var done = 0L
      while (done < lifecycles && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        done = spark.table("soak_spec").count()
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1000) // settle: catch over-emission too
      val rows = spark.table("soak_spec")
      val n = rows.count()
      assert(n == lifecycles, s"expected $lifecycles projections, got $n")
      // distinct keys — no duplicate emission
      assert(rows.select("orderId").distinct().count() == lifecycles)
      val eps = 3.0 * lifecycles / elapsed
      info(f"stream soak: $eps%.0f events/s over $elapsed%.1f s")
      // floor is ~20x under the quiet-machine figure: this guards
      // regressions to seconds-per-event, not ambient variance
      assert(eps > 1000.0, f"throughput $eps%.0f events/s below floor")
    } finally query.stop()
  }
}
