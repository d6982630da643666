package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint restart + exactly-once sink delivery — the S5/S6
  * operational story without a broker: a stateful aggregation stopped
  * mid-stream resumes from its checkpoint with state intact, and the
  * foreachBatch sink applies each (batchId, partition of updates)
  * idempotently, so a replayed batch after a crash-restart cannot
  * double-apply. */
class RestartRecoverySpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** Upsert KV sink with a batch-id ledger: the idempotence guard every
    * exactly-once foreachBatch sink needs (Spark guarantees batchId is
    * stable across a replay of the same epoch). */
  private object Store {
    val counts = TrieMap.empty[String, Long]
    val applied = TrieMap.empty[Long, Boolean]
    def upsert(rows: Seq[(String, Long)], batchId: Long): Unit =
      if (applied.putIfAbsent(batchId, true).isEmpty)
        rows.foreach { case (k, v) => counts.update(k, v) }
    def reset(): Unit = { counts.clear(); applied.clear() }
  }

  test("stateful aggregation resumes from checkpoint; sink ledger makes replay a no-op") {
    Store.reset()
    val ckpt = graft.TestSpark.checkpointDir + "/restart-recovery"
    val input = MemoryStream[String]
    val counted = input.toDF().toDF("k")
      .groupBy(col("k")).agg(count(lit(1)).as("n"))

    def start() = counted.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        Store.upsert(
          df.select(col("k"), col("n")).as[(String, Long)].collect().toSeq,
          batchId)
      }
      .start()

    val q1 = start()
    try {
      input.addData(Seq("a", "a", "b"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(Store.counts.toMap == Map("a" -> 2L, "b" -> 1L))

    // restart from the same checkpoint: prior state must carry over
    input.addData(Seq("a", "c"))
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()
    assert(Store.counts.toMap == Map("a" -> 3L, "b" -> 1L, "c" -> 1L),
      s"state lost across restart: ${Store.counts.toMap}")

    // simulate an epoch replay after a crash between sink-apply and
    // commit: re-delivering an already-applied batchId must not
    // double-apply
    val before = Store.counts.toMap
    val replayedId = Store.applied.keys.max
    Store.upsert(Seq("a" -> 999L), replayedId)
    assert(Store.counts.toMap == before, "replayed batch was double-applied")
  }

  test("poison record under failFast kills the query; restarting the same " +
    "checkpoint in permissive mode drains it with no duplicate emissions") {
    // the reference's crash semantics (serde/JsonDeserializer.java:27-31)
    // followed by the operational recovery every on-call runbook
    // prescribes: flip to null-and-filter, restart from the checkpoint,
    // let the drop metric account for the poison record
    def evJson(id: String, typ: String): String =
      s"""{"order-id":"$id","type":"$typ","timestamp":"2024-08-16T15:51:19.799Z","order_details":{"d":1}}"""
    val ckpt = graft.TestSpark.checkpointDir + "/poison-recovery"
    val emitted = TrieMap.empty[String, Long] // orderId -> emissions seen
    val appliedBatches = TrieMap.empty[Long, Boolean]
    val input = MemoryStream[SourceRecord]

    // with processing-time timers pending, processAllAvailable
    // can block indefinitely (see OrderUnifyStreamSpec's harness note)
    // — poll observable state against a deadline instead
    def until(deadlineMs: Long)(done: => Boolean): Unit = {
      val end = System.currentTimeMillis() + deadlineMs
      while (!done && System.currentTimeMillis() < end) Thread.sleep(200)
    }

    def start(failFast: Boolean) =
      OrderUnifyPipeline
        .projections(input.toDF(), bufferMillis = 500L, failFast = failFast)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("200 milliseconds"))
        .foreachBatch { (df: org.apache.spark.sql.Dataset[ProjectionResult],
            batchId: Long) =>
          val ids = df.collect().map(_.orderId)
          if (appliedBatches.putIfAbsent(batchId, true).isEmpty)
            ids.foreach(id =>
              emitted.updateWith(id)(c => Some(c.getOrElse(0L) + 1L)))
        }
        .start()

    // epoch 1: a clean lifecycle flows through strict mode
    val q1 = start(failFast = true)
    try {
      input.addData(Seq(
        SourceRecord("ord-ok", evJson("ord-ok", "created"), "order-created", 0L),
        SourceRecord("ord-ok", evJson("ord-ok", "placed"), "order-placed", 1L),
        SourceRecord("ord-ok", evJson("ord-ok", "cancelled"), "order-cancelled", 2L)))
      until(30000L)(emitted.contains("ord-ok"))
      assert(emitted.toMap == Map("ord-ok" -> 1L))
      // epoch 2: poison + a second complete lifecycle -> strict mode
      // must kill the query before committing the batch
      input.addData(Seq(
        SourceRecord("poison", "{definitely not json", "order-created", 3L),
        SourceRecord("ord-2", evJson("ord-2", "created"), "order-created", 4L),
        SourceRecord("ord-2", evJson("ord-2", "placed"), "order-placed", 5L),
        SourceRecord("ord-2", evJson("ord-2", "cancelled"), "order-cancelled", 6L)))
      until(30000L)(q1.exception.isDefined)
      assert(q1.exception.isDefined,
        "strict mode must fail the query on the poison record")
      val messages = Iterator.iterate(q1.exception.get: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.toString.toLowerCase).mkString("\n")
      assert(messages.contains("malformed"),
        s"expected the FAILFAST parse error, got:\n$messages")
    } finally q1.stop()
    assert(emitted.toMap == Map("ord-ok" -> 1L),
      "the failed epoch must not have emitted anything")

    // restart the SAME checkpoint in permissive mode: the uncommitted
    // epoch replays, the poison record drops (metric accounts for it),
    // ord-2 completes, ord-ok does NOT re-emit
    val q2 = start(failFast = false)
    try {
      until(30000L)(emitted.contains("ord-2"))
      val dropped = q2.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("graft_parse")))
        .map(_.getAs[Long]("dropped")).sum
      assert(dropped >= 1L, "the poison record must surface in the drop metric")
      Thread.sleep(1000) // settle: catch late duplicate emission
    } finally q2.stop()
    assert(emitted.toMap == Map("ord-ok" -> 1L, "ord-2" -> 1L),
      s"exactly-once across the crash-restart: ${emitted.toMap}")
  }
}
