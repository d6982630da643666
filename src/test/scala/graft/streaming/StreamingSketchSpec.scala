package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Batch/stream convergence for the HLL sketch: the streaming state
  * operator must land on EXACTLY the registers and estimate the batch
  * operator (and therefore the DuckDB oracle) computes over the same
  * data, regardless of how arrival is micro-batched — the property
  * that lets a streaming head serve while a batch job backfills. */
class StreamingSketchSpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("registerOf replays the batch hllRegisters recipe row for row") {
    val keys = (0 until 300).map(i => s"key-$i")
    val batch = graft.operators.Sketches
      .hllRegisters(keys.toDF("k"), col("k"), lit("g"))
      .select(col("idx"), col("mr")).collect()
      .map(r => (r.getLong(0).toInt, r.getInt(1))).toMap
    // fold the JVM-side recipe the way the stream state does
    val regs = new Array[Int](256)
    keys.foreach { k =>
      val (i, r) = StreamingSketches.registerOf(k)
      if (r > regs(i)) regs(i) = r
    }
    val jvm = regs.zipWithIndex.collect { case (mr, i) if mr > 0 => (i, mr) }.toMap
    assert(jvm == batch)
  }

  test("streamed estimate equals the batch estimate across uneven micro-batches") {
    val data = (0 until 500).map(i => ("a", s"user-${i % 311}")) ++
      (0 until 400).map(i => ("b", s"user-${i % 97}")) ++
      (0 until 100).map(i => ("a", s"extra-$i"))
    val input = MemoryStream[(String, String)]
    val q = StreamingSketches.distinctOverStream(input.toDS())
      .toDF("g", "est_milli")
      .writeStream.format("memory").queryName("hll_out")
      .outputMode("update").start()
    try {
      // deliberately uneven batching, duplicates across batches
      input.addData(data.take(137))
      q.processAllAvailable()
      input.addData(data.slice(137, 707))
      q.processAllAvailable()
      input.addData(data.drop(707) ++ data.take(50)) // replay some rows
      q.processAllAvailable()
      // monotone estimates -> final value per group is the max update
      val streamed = spark.table("hll_out")
        .groupBy(col("g")).agg(max(col("est_milli")).as("m"))
        .as[(String, Long)].collect().toMap
      val df = data.toDF("g", "k")
      val batch = graft.operators.Sketches.hllEstimate(
        graft.operators.Sketches.hllRegisters(df, col("k"), col("g")))
        .select(col("g"), floor(col("est_raw") * 1000).cast("long"))
        .as[(String, Long)].collect().toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("bloomPositions replays the batch Bloom build word for word") {
    val keys = (0 until 250).map(i => s"tok-$i")
    val batch = graft.operators.Bloom.build(keys.toDF("k"), col("k"))
      .select(col("word"), col("bits")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val words = new Array[Long](graft.operators.Bloom.NumWords)
    keys.foreach(k => StreamingSketches.bloomPositions(k).foreach { pos =>
      words(pos / 32) |= (1L << (pos % 32))
    })
    val jvm = words.zipWithIndex
      .collect { case (b, w) if b != 0L => (w.toLong, b) }.toMap
    assert(jvm == batch)
  }

  test("streamed bloom filter words equal the batch build under replays") {
    val data = (0 until 400).map(i => ("a", s"sh-${i % 173}")) ++
      (0 until 150).map(i => ("b", s"sh-$i"))
    val input = MemoryStream[(String, String)]
    val q = StreamingSketches.bloomOverStream(input.toDS())
      .toDF("g", "words_set", "bits_set")
      .writeStream.format("memory").queryName("bloom_out")
      .outputMode("update").start()
    try {
      input.addData(data.take(333))
      q.processAllAvailable()
      input.addData(data.drop(333) ++ data.take(77)) // replay rows
      q.processAllAvailable()
      // monotone gauges -> final value per group is the max update
      val streamed = spark.table("bloom_out")
        .groupBy(col("g"))
        .agg(max(col("words_set")).as("w"), max(col("bits_set")).as("b"))
        .as[(String, Long, Long)].collect()
        .map(r => (r._1, (r._2, r._3))).toMap
      val batch = Seq("a", "b").map { g =>
        val keys = data.filter(_._1 == g).map(_._2).toDF("k")
        val words = graft.operators.Bloom.build(keys, col("k"))
        val agg = words.agg(count(lit(1)).as("w"),
          sum(expr("bit_count(bits)")).as("b"))
          .as[(Long, Long)].head()
        g -> agg
      }.toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streamed bottom-k sample converges to the batch sample under replays") {
    val data = (0 until 300).map(i => ("a", s"id-$i", (i * 7 % 100).toLong)) ++
      (0 until 200).map(i => ("b", s"id-$i", (i * 3 % 50).toLong))
    val input = MemoryStream[(String, String, Long)]
    val q = StreamingSketches.bottomKOverStream(input.toDS(), k = 8)
      .toDF("g", "id", "v")
      .writeStream.format("memory").queryName("bk_out")
      .outputMode("update").start()
    try {
      input.addData(data.take(250))
      q.processAllAvailable()
      input.addData(data.drop(250) ++ data.take(40)) // replay rows
      q.processAllAvailable()
      input.addData(data.take(10)) // replay again: state must not change
      q.processAllAvailable()
      // Every row that was ever in state was emitted, and state rows
      // are only ever displaced by strictly lower (hk, id) ranks — so
      // the bottom-k over ALL emitted rows IS the final state, and
      // must equal the batch sample over the same data. This is
      // order-independent: no reliance on sink row ordering.
      val emitted = spark.table("bk_out")
        .select(col("g"), col("id"), col("v")).distinct()
        .as[(String, String, Long)].collect()
      val streamedBottomK = emitted.groupBy(_._1).view.mapValues { rows =>
        rows.map { case (_, id, v) => (StreamingSketches.hashKey(id), id, v) }
          .sortBy(t => (t._1, t._2)).take(8)
          .map { case (_, id, v) => (id, v) }.toSet
      }.toMap
      val batch = graft.operators.Sketches.bottomKSample(
        data.toDF("g", "id", "v"), col("id"), col("v"), col("g"), 8)
        .as[(String, String, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
      assert(streamedBottomK == batch)
    } finally q.stop()
  }

  private def batchCmsDigest(keys: Seq[String]): (Long, String) = {
    val width = graft.operators.Sketches.Width
    val cells = graft.operators.Sketches.build(keys.toDF("k"), col("k"))
      .as[(Int, Long, Long)].collect()
    val c = new Array[Long](graft.operators.Sketches.Depth * width)
    cells.foreach { case (hr, hc, cnt) => c(hr * width + hc.toInt) = cnt }
    (keys.length.toLong, StreamingSketches.cmsDigest(c))
  }

  test("cmsPositions replays the batch count-min cells counter for counter") {
    val keys = (0 until 300).map(i => s"tok-${i % 211}")
    val (_, batchDigest) = batchCmsDigest(keys)
    val width = graft.operators.Sketches.Width
    val c = new Array[Long](graft.operators.Sketches.Depth * width)
    keys.foreach { k =>
      StreamingSketches.cmsPositions(k).zipWithIndex.foreach {
        case (pos, r) => c(r * width + pos) += 1L
      }
    }
    assert(StreamingSketches.cmsDigest(c) == batchDigest)
  }

  test("streamed CMS counters equal the batch build across uneven micro-batches") {
    // counting state is additive, not idempotent: no replayed rows here
    // (exactly-once replay is the checkpoint's contract, not the fold's)
    val data = (0 until 500).map(i => ("a", s"sh-${i % 173}")) ++
      (0 until 140).map(i => ("b", s"sh-${i % 61}"))
    val input = MemoryStream[(String, String)]
    val q = StreamingSketches.cmsOverStream(input.toDS())
      .toDF("g", "n", "digest")
      .writeStream.format("memory").queryName("cms_out")
      .outputMode("update").start()
    try {
      input.addData(data.take(347))
      q.processAllAvailable()
      input.addData(data.drop(347))
      q.processAllAvailable()
      // n is monotone: the row with max n per group is the latest state
      val streamed = spark.table("cms_out")
        .as[(String, Long, String)].collect()
        .groupBy(_._1).view
        .mapValues(rows => rows.maxBy(_._2) match { case (_, n, d) => (n, d) })
        .toMap
      val batch = Seq("a", "b").map { g =>
        g -> batchCmsDigest(data.filter(_._1 == g).map(_._2))
      }.toMap
      assert(streamed == batch)
    } finally q.stop()
  }
}
