package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Volume soak of the unify pipeline: 20k complete lifecycles (60k
  * events, distinct keys) must all land exactly once, on the default
  * `transformWithState` operator and on the pinned `impl = "fmgws"`
  * path, and end-to-end throughput must clear a deliberately
  * conservative floor. This spec
  * guards exactly-onceness at volume; the streaming throughput and
  * latency figures come from the order-unify benchmark in `perfbench/`
  * (baseline in `perfbench/README.md`). */
class StreamThroughputSpec extends AnyFunSuite with graft.StreamingSuite {
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

  /** Run `lifecycles` complete lifecycles through the pipeline's `impl`
    * unify path, return events/s (asserts exactly-once). */
  private def soak(lifecycles: Int, queryName: String,
      impl: String = "auto"): Double = {
    val input = MemoryStream[SourceRecord]
    val out = OrderUnifyPipeline.unify(
      OrderUnifyPipeline.parseAndCanonicalize(input.toDF()), 2000L, impl)
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
        done = spark.table(queryName).count()
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1000) // settle: catch over-emission too
      val rows = spark.table(queryName)
      assert(rows.count() == lifecycles,
        s"$queryName: expected $lifecycles projections, got ${rows.count()}")
      // distinct keys — no duplicate emission
      assert(rows.select("orderId").distinct().count() == lifecycles)
      3.0 * lifecycles / elapsed
    } finally query.stop()
  }

  test("default unify on the HDFS provider fails and names it") {
    // transformWithState needs the RocksDB provider that
    // graft.Sessions sets; another provider must fail the query, not
    // fall back to flatMapGroupsWithState
    val hdfs = spark.newSession()
    hdfs.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    val input = MemoryStream[SourceRecord](
      implicitly[org.apache.spark.sql.Encoder[SourceRecord]], hdfs.sqlContext)
    val query = OrderUnifyPipeline.projections(input.toDF(), bufferMillis = 500L)
      .writeStream.format("memory").queryName("unify_on_hdfs").outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      input.addData(lifecycleRecords(0, 10))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.awaitTermination(60000L)
      }
      val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
      val unsupported = causes.collectFirst {
        case e: org.apache.spark.SparkThrowable if e.getCondition ==
          "UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES" => e
      }
      assert(unsupported.exists(_.getMessageParameters.get("stateStoreProvider") ==
        "HDFSBackedStateStoreProvider"), s"unexpected failure: $err")
      assert(hdfs.table("unify_on_hdfs").count() == 0)
    } finally query.stop()
  }

  test("20k lifecycles on the DEFAULT (TWS/RocksDB) path: exactly once, " +
    "above the throughput floor") {
    val eps = soak(20000, "soak_tws_spec")
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
    val eps100k = soak(100000, "soak_tws_100k")
    val eps1m = soak(1000000, "soak_tws_1m")
    info(f"tws 100k: $eps100k%.0f events/s; 1M: $eps1m%.0f events/s")
    assert(eps1m * 1.5 >= eps100k,
      f"per-event rate degraded ${eps100k / eps1m}%.2fx from 100k to 1M " +
        "lifecycles — timeout cost is tracking store size, not expired keys")
  }

  test("20k lifecycles: every projection exactly once, above the throughput floor") {
    // the pinned flatMapGroupsWithState comparison path keeps one
    // end-to-end check while it exists
    val eps = soak(20000, "soak_spec", impl = "fmgws")
    info(f"fmgws stream soak: $eps%.0f events/s")
    // floor is ~20x under the quiet-machine figure: this guards
    // regressions to seconds-per-event, not ambient variance
    assert(eps > 1000.0, f"throughput $eps%.0f events/s below floor")
  }
}
