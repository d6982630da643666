package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The Kafka-contract verification the sandbox can run: S5/X4's
  * source/sink semantics — named topics, key-routed partitions,
  * per-partition monotone offsets, checkpointed offset-exact resume —
  * executed through [[FileTopics]]'s real DataSource-V2
  * MicroBatchStream against the SAME pipeline code the Kafka
  * connector would feed. */
class FileTopicsE2ESpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark

  private def tmp(prefix: String): String =
    graft.TestSpark.tempDir(prefix)

  private def evJson(id: String, typ: String): String =
    s"""{"order-id":"$id","type":"$typ","timestamp":"2024-08-16T15:51:19.799Z","order_details":{"d":1}}"""

  test("offset-exact resume: a restarted checkpoint replays nothing and misses nothing") {
    val root = tmp("ftopics")
    val ckpt = s"${graft.TestSpark.checkpointDir}/ftopics-resume"
    val topics = Seq("t-a", "t-b")
    def put(tag: String, n: Int): Unit = topics.foreach { t =>
      FileTopics.append(root, t, 2,
        (0 until n).map(i => (s"k-$tag-$i", s"v-$tag-$t-$i")))
    }
    put("one", 10)

    val seen = FileTopicsE2ESpec.seen
    seen.clear()
    val ids = new ConcurrentLinkedQueue[(String, String, Long)]()
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format(classOf[FileTopicsProvider].getName)
        .option("root", root).option("topics", topics.mkString(","))
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          // the ids sinkBatch's ledger reads: visible inside foreachBatch
          val sc = df.sparkSession.sparkContext
          ids.add((sc.getLocalProperty("sql.streaming.queryId"),
            sc.getLocalProperty("streaming.sql.batchId"), id))
          df.collect().foreach { r =>
            seen.add((r.getString(2), r.getInt(3), r.getLong(4),
              r.getString(0), r.getString(1)))
          }
        }
        .trigger(Trigger.ProcessingTime("100 milliseconds"))
        .start()

    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    assert(!ids.isEmpty)
    ids.forEach { case (qid, bid, id) =>
      assert(qid == q1.id.toString && bid == id.toString)
    }
    val afterFirst = seen.size()
    assert(afterFirst == 20, s"first run must deliver all 20, got $afterFirst")

    put("two", 5)
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()

    val all = scala.jdk.CollectionConverters.IteratorHasAsScala(
      seen.iterator()).asScala.toVector
    assert(all.size == 30, s"resume must deliver ONLY the 10 new records, got ${all.size}")
    assert(all.distinct.size == 30, "no record may be replayed after resume")
    // per-partition offsets are contiguous and monotone from 0
    all.groupBy(r => (r._1, r._2)).foreach { case ((t, p), rows) =>
      val offs = rows.map(_._3).sorted
      assert(offs == (0L until offs.size).toVector,
        s"offsets in $t/p$p must be 0..n-1: $offs")
    }
    // key-routing invariant: a record sits in partitionFor(key, 2)
    all.foreach { case (t, p, _, k, _) =>
      assert(p == FileTopics.partitionFor(k, 2), s"mis-routed key $k in $t")
    }
  }

  test("sinkBatch appends a replayed (query id, batch id) once") {
    import spark.implicits._
    val root = tmp("ftopics-replay")
    val sc = spark.sparkContext
    def sinkAs(batchId: Long, rows: Seq[(String, String)]): Unit = {
      sc.setLocalProperty("sql.streaming.queryId", "q-replay")
      sc.setLocalProperty("streaming.sql.batchId", batchId.toString)
      try FileTopics.sinkBatch(root, "out", 2)(rows.toDF("key", "value"))
      finally {
        sc.setLocalProperty("sql.streaming.queryId", null)
        sc.setLocalProperty("streaming.sql.batchId", null)
      }
    }
    def sunk(): Vector[(String, String)] = (0 until 2).flatMap { p =>
      FileTopics.readRange(root, "out", p, 0L, Long.MaxValue)
        .map { case (k, v, _) => (k, v) }
    }.toVector
    val b7 = Seq(("a", "1"), ("b", "2"), ("c", "3"))
    sinkAs(7, b7)
    sinkAs(7, b7) // the replay after a restart
    assert(sunk().sorted == b7.sorted, "a replayed batch must not append again")
    sinkAs(8, Seq(("a", "4")))
    assert(sunk().sorted == (b7 :+ (("a", "4"))).sorted)
    // the ledger files are not partition logs: offsets count records only
    assert(FileTopics.latestOffsets(root, Seq("out")).values.sum == 4L)
  }

  test("null key routes like the empty key, deterministically (no NPE)") {
    assert(FileTopics.partitionFor(null, 3) == FileTopics.partitionFor("", 3))
  }

  test("sinkBatch writes null-keyed rows as empty-keyed records") {
    import spark.implicits._
    val root = tmp("ftopics-nullkey")
    val batch = Seq(("k1", "v1"), (null: String, "v-null"), ("", "v-empty"))
      .toDF("key", "value")
    FileTopics.sinkBatch(root, "t", 3)(batch)
    val read = (0 until 3).flatMap { p =>
      FileTopics.readRange(root, "t", p, 0L, Long.MaxValue)
        .map { case (k, v, _) => (k, v, p) }
    }.toSet
    // null key degrades to empty key (documented), same partition as ""
    val pEmpty = FileTopics.partitionFor("", 3)
    assert(read == Set(
      ("k1", "v1", FileTopics.partitionFor("k1", 3)),
      ("", "v-null", pEmpty),
      ("", "v-empty", pEmpty)))
  }

  test("sinkBatch runs a narrow batch in one stage: no exchange of its own") {
    val root = tmp("ftopics-stages")
    val sc = spark.sparkContext
    val group = "filetopics-sink-stages"
    val marker = "filetopics-sink-marker"
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    def groupOf(props: java.util.Properties): String =
      Option(props).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties) == group) stages.incrementAndGet()
      // listener events arrive in order: once the marker job starts,
      // every stage the sink submitted before it has been counted
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (groupOf(e.properties) == marker) drained.countDown()
    }
    val batch = spark.range(0, 100, 1, 4)
      .selectExpr("CAST(id % 7 AS STRING) AS key", "CAST(id AS STRING) AS value")
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "sinkBatch")
      try FileTopics.sinkBatch(root, "out", 3)(batch) finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener drain")
      try spark.range(1).collect() finally sc.clearJobGroup()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    assert(stages.get == 1, s"sinkBatch submitted ${stages.get} stages")
    assert(FileTopics.latestOffsets(root, Seq("out")).values.sum == 100L)
  }

  test("TWS default path through the contract: RocksDB session, file source -> unify -> sink") {
    // the default unify (transformWithState on the session's RocksDB
    // provider) driven by the same file-backed Kafka contract — S1..S5
    // on the path a real deployment runs
    val root = tmp("ftopics-tws")
    val ckpt = s"${graft.TestSpark.checkpointDir}/ftopics-tws"
    Seq("created", "placed", "cancelled").foreach { t =>
      FileTopics.append(root, s"order-$t", 2,
        (1 to 3).map(i => (s"tws-$i", evJson(s"tws-$i", t))))
    }
    val src = FileTopics.source(spark, root,
      graft.streaming.OrderUnifyPipeline.sourceTopics)
    val q = graft.streaming.OrderUnifyPipeline
      .projections(src, bufferMillis = 800)
      .select(col("orderId").as("key"), col("payloadJson").as("value"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        FileTopics.sinkBatch(root, "order-projection", 2)(df)
      }
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      def sunk(): Set[String] =
        (0 until 2).flatMap(p => FileTopics
          .readRange(root, "order-projection", p, 0L, Long.MaxValue)
          .map(_._1)).toSet
      while (sunk().size < 3 && q.exception.isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(300)
      q.exception.foreach(e => fail(s"query died: ${e.cause}", e))
      assert(sunk() == Set("tws-1", "tws-2", "tws-3"))
    } finally q.stop()
  }

  test("full pipeline through the contract: 3 topics -> unify -> sink topic, kill and resume") {
    val root = tmp("ftopics-pipe")
    val ckpt = s"${graft.TestSpark.checkpointDir}/ftopics-pipe"
    val topics = graft.streaming.OrderUnifyPipeline.sourceTopics
    def putOrder(id: String): Unit = {
      FileTopics.append(root, "order-created", 2, Seq((id, evJson(id, "created"))))
      FileTopics.append(root, "order-placed", 2, Seq((id, evJson(id, "placed"))))
      FileTopics.append(root, "order-cancelled", 2, Seq((id, evJson(id, "cancelled"))))
    }
    (1 to 4).foreach(i => putOrder(s"ord-$i"))

    def run(): org.apache.spark.sql.streaming.StreamingQuery = {
      val src = FileTopics.source(spark, root, topics)
      val out = graft.streaming.OrderUnifyPipeline
        .projections(src, bufferMillis = 800)
        .select(col("orderId").as("key"), col("payloadJson").as("value"))
      out.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          FileTopics.sinkBatch(root, "order-projection", 2)(df)
        }
        .trigger(Trigger.ProcessingTime("200 milliseconds"))
        .start()
    }

    def sunk(): Vector[(String, String, Int)] =
      (0 until 2).flatMap { p =>
        FileTopics.readRange(root, "order-projection", p, 0L, Long.MaxValue)
          .map { case (k, v, _) => (k, v, p) }
      }.toVector

    // first incarnation: wait until the 4 complete orders flush, then kill
    val q1 = run()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (sunk().map(_._1).distinct.size < 4 && q1.exception.isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(300)
      q1.exception.foreach(e => fail(s"query died: ${e.cause}", e))
    } finally q1.stop()
    assert(sunk().map(_._1).distinct.size == 4, s"first run flushed: ${sunk()}")

    // second incarnation on the same checkpoint: only the new orders
    (5 to 6).foreach(i => putOrder(s"ord-$i"))
    val q2 = run()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (sunk().map(_._1).distinct.size < 6 &&
        System.currentTimeMillis() < deadline) Thread.sleep(300)
      Thread.sleep(1500) // would-be duplicates need a beat to appear
    } finally q2.stop()

    val out = sunk()
    assert(out.map(_._1).distinct.size == 6, s"all 6 orders projected: $out")
    assert(out.size == 6,
      s"offset-exact resume: each order exactly once in the sink, got $out")
    // sink routing honors the key-hash contract
    out.foreach { case (k, _, p) =>
      assert(p == FileTopics.partitionFor(k, 2), s"sink mis-routed $k")
    }
    // projections carry the priority-ordered payload (the unify output)
    out.foreach { case (_, v, _) => assert(v.contains("\"types\"") || v.nonEmpty) }
  }
}

object FileTopicsE2ESpec {
  /** Driver-side record log for the resume test (foreachBatch runs on
    * the driver; executors never touch this). */
  val seen: ConcurrentLinkedQueue[(String, Int, Long, String, String)] =
    new ConcurrentLinkedQueue
}
