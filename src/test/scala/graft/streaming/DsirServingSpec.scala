package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Serving form of DSIR importance gating: the (bucket-ratio table,
  * s_max) pair is FROZEN from a reference corpus, then arriving
  * documents are scored and accept/reject-gated per micro-batch —
  * the ingestion-time filter a crawl pipeline runs with a trained
  * importance model. The gate is stateless given the frozen pair, so
  * streamed decisions must equal batch decisions under any arrival
  * batching, and raising the normalizer can only REJECT more
  * (acceptance monotonicity). */
class DsirServingSpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val dir = "/root/testdata/sf0.001"

  test("streamed DSIR gating equals batch gating under a frozen model") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = graft.Tables.documents(spark, dir)
    val ratio = graft.operators.Dsir
      .bucketRatios(graft.operators.Dsir.tokenBuckets(docs))
      .persist()
    val sMax = graft.operators.Dsir
      .scores(graft.operators.Dsir.tokenBuckets(docs), ratio)
      .agg(max(col("score_ppm"))).as[Long].head()
    assert(sMax > 0)

    // a tightened normalizer (2·s_max) so the fixture rejects too
    val norm = sMax * 2
    val evalDocs = docs
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .as[(Long, String, String, String)].collect()
    val expected = graft.operators.Dsir
      .gate(evalDocs.toSeq.toDF("doc_id", "text", "lang", "source"),
        ratio, norm)
      .select(col("doc_id"), col("score_ppm"), col("kept"))
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(expected.values.exists(_._2) && expected.values.exists(!_._2),
      "fixture must exercise both accept and reject")

    val input = MemoryStream[(Long, String, String, String)]
    val acc = scala.collection.mutable.Map.empty[Long, (Long, Boolean)]
    val q = input.toDF().toDF("doc_id", "text", "lang", "source")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.Dsir.gate(batch, ratio, norm)
          .collect().foreach(r => acc.synchronized {
            acc(r.getLong(0)) = (r.getLong(2), r.getBoolean(3))
          })
      }
      .start()
    try {
      // deliberately uneven arrival batching
      input.addData(evalDocs.take(7))
      q.processAllAvailable()
      input.addData(evalDocs.slice(7, 41))
      q.processAllAvailable()
      input.addData(evalDocs.drop(41))
      q.processAllAvailable()
    } finally q.stop()

    assert(acc.size == expected.size)
    expected.foreach { case (id, exp) =>
      assert(acc(id) == exp, s"doc $id: streamed decision must equal batch")
    }
    ratio.unpersist()
  }

  test("the frozen model is dense: every document gets a gate decision, " +
    "even one whose tokens all hash to buckets the reference never saw") {
    // train on a tiny 2-doc reference corpus — only a handful of the
    // 256 buckets are observed — then gate foreign documents
    val ref = Seq(
      (1L, "alpha beta gamma", "en", "web"),
      (2L, "delta epsilon", "fr", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val ratio = graft.operators.Dsir
      .bucketRatios(graft.operators.Dsir.tokenBuckets(ref)).persist()
    assert(ratio.count() == graft.operators.Dsir.B.toLong,
      "the model must cover all B buckets, observed or not")
    assert(ratio.filter(col("n_r") === 0L).count() > 0,
      "the tiny reference must leave most buckets unseen")
    // every unseen bucket carries the add-one-smoothed zero-count ratio
    val zeroRatios = ratio.filter(col("n_r") === 0L)
      .select(col("ratio_ppm")).distinct().as[Long].collect()
    assert(zeroRatios.length == 1 && zeroRatios.head > 0L)
    // arriving docs built from words absent from the reference: with a
    // sparse model these produced NO gate row (silent drop); densified,
    // each must receive an explicit keep/reject decision
    val arriving = Seq(
      (10L, "zymurgy quixotic phlogiston", "en", "crawl"),
      (11L, "alpha zymurgy", "en", "crawl"))
      .toDF("doc_id", "text", "lang", "source")
    val decisions = graft.operators.Dsir.gate(arriving, ratio, 2000000L)
      .select(col("doc_id"), col("kept")).as[(Long, Boolean)].collect().toMap
    assert(decisions.keySet == Set(10L, 11L),
      "a dense model emits a decision for every arriving document")
    ratio.unpersist()
  }

  test("raising the frozen normalizer only rejects more, never accepts more") {
    val docs = graft.Tables.documents(spark, dir)
    val ratio = graft.operators.Dsir
      .bucketRatios(graft.operators.Dsir.tokenBuckets(docs))
      .persist()
    val sMax = graft.operators.Dsir
      .scores(graft.operators.Dsir.tokenBuckets(docs), ratio)
      .agg(max(col("score_ppm"))).as[Long].head()
    def keptSet(norm: Long): Set[Long] = graft.operators.Dsir
      .gate(docs, ratio, norm)
      .filter(col("kept")).select(col("doc_id")).as[Long].collect().toSet
    val loose = keptSet(sMax)
    val tight = keptSet(sMax * 2)
    assert(tight.subsetOf(loose),
      "doubling the normalizer halves acceptance probability pointwise")
    assert(tight.size < loose.size, "the fixture must show a strict drop")
    ratio.unpersist()
  }
}
