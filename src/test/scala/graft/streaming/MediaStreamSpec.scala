package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming form of the real-codec decode passes: media containers
  * arrive as a stream and are decoded per micro-batch through the
  * same partition-batched codec seam the batch queries use. Decode is
  * stateless per record, so streamed metadata must equal batch
  * metadata under any arrival batching — the ingest-side media QA
  * job. */
class MediaStreamSpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val dir = "/root/testdata/sf0.001"

  test("streamed GIF decode equals batch decode under uneven batching") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Codecs, MediaArtifact, Multimodal}
    val records = MediaArtifact.records(spark, dir, "gif").collect()
    val expected = Codecs
      .decodeGifBatch(MediaArtifact.records(spark, dir, "gif"))
      .collect().map(m => m.id -> m).toMap

    val input = MemoryStream[(Long, Array[Byte], String)]
    val acc = scala.collection.mutable.Map.empty[Long, Codecs.PixelMeta]
    val q = input.toDF().toDF("id", "media", "mime")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        import batch.sparkSession.implicits._
        val ds = batch.as[(Long, Array[Byte], String)]
          .map { case (id, media, mime) => Multimodal.MediaRecord(id, media, mime) }(
            Multimodal.mediaRecordEnc)
        Codecs.decodeGifBatch(ds).collect()
          .foreach(m => acc.synchronized { acc(m.id) = m })
      }
      .start()
    try {
      val rows = records.map(r => (r.id, r.media, r.mime)).toSeq
      input.addData(rows.take(13))
      q.processAllAvailable()
      input.addData(rows.drop(13))
      q.processAllAvailable()
    } finally q.stop()

    assert(acc.size == expected.size)
    expected.foreach { case (id, m) =>
      assert(acc(id) == m, s"doc $id: streamed decode must equal batch")
    }
  }

  test("streamed video demux+decode equals batch (1-to-N frame fan-out per micro-batch)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{MediaArtifact, Multimodal, Video}
    val records = MediaArtifact.records(spark, dir, "avi").collect()
    val expected = Video
      .decodeFramesBatch(MediaArtifact.records(spark, dir, "avi"))
      .collect().map(f => (f.id, f.frame) -> f).toMap

    val input = MemoryStream[(Long, Array[Byte], String)]
    val acc = scala.collection.mutable.Map.empty[(Long, Int), Video.VideoFrame]
    val q = input.toDF().toDF("id", "media", "mime")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        import batch.sparkSession.implicits._
        val ds = batch.as[(Long, Array[Byte], String)]
          .map { case (id, media, mime) => Multimodal.MediaRecord(id, media, mime) }(
            Multimodal.mediaRecordEnc)
        Video.decodeFramesBatch(ds).collect()
          .foreach(f => acc.synchronized { acc((f.id, f.frame)) = f })
      }
      .start()
    try {
      val rows = records.map(r => (r.id, r.media, r.mime)).toSeq
      input.addData(rows.take(7))
      q.processAllAvailable()
      input.addData(rows.drop(7))
      q.processAllAvailable()
    } finally q.stop()

    assert(acc.size == expected.size)
    expected.foreach { case (key, f) =>
      assert(acc(key) == f, s"clip/frame $key: streamed decode must equal batch")
    }
  }

  test("a corrupt container in the stream degrades to ok=false, not a crash") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Codecs, Multimodal}
    val good = Codecs.synthesizeGif(1L, 4)
    val bad = good.clone(); bad(0) = 'X'.toByte

    val input = MemoryStream[(Long, Array[Byte], String)]
    val acc = scala.collection.mutable.Map.empty[Long, Boolean]
    val q = input.toDF().toDF("id", "media", "mime")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        import batch.sparkSession.implicits._
        val ds = batch.as[(Long, Array[Byte], String)]
          .map { case (id, media, mime) => Multimodal.MediaRecord(id, media, mime) }(
            Multimodal.mediaRecordEnc)
        Codecs.decodeGifBatch(ds).collect()
          .foreach(m => acc.synchronized { acc(m.id) = m.ok })
      }
      .start()
    try {
      input.addData(Seq((1L, good, "image/gif"), (2L, bad, "image/gif")))
      q.processAllAvailable()
    } finally q.stop()
    assert(acc(1L) && !acc(2L),
      "the poisoned record is quarantined row-local; the good one decodes")
  }
}
