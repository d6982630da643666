package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Serving path of the graph-ANN tier: a FROZEN NN-descent index
  * ([[graft.operators.Similarity.freezeGraphIndex]] — prepared corpus
  * + symmetrized edges, persisted once) answers arriving micro-batches
  * of query vectors via the deterministic beam walk
  * ([[graft.operators.Similarity.graphServeBatch]] inside
  * `foreachBatch`). The index is frozen and the walk deterministic,
  * so streamed top-k must equal the batch top-k for the same query
  * set regardless of arrival batching — the NbServingSpec convention
  * applied to the ANN tier. */
class GraphServingSpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("streamed micro-batch ANN equals batch beam search under a frozen index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val edges = graft.operators.NndGraphArtifact.edges(spark, dir)
      .select(col("qid"), col("vec_id"))
    val (qMin, qMax, k, beam, hops) = (8L, 16L, 3, 4, 4)

    // batch reference: the registered query path over the same ids
    val expected = graft.operators.Similarity
      .graphBeamSearch(emb, edges, qMin, qMax, k, beam, hops, entry = 0L)
      .select(col("qid"), col("vec_id"), col("rnk"))
      .as[(Long, Long, Int)].collect()
      .map { case (q, v, r) => (q, r) -> v }.toMap

    val ix = graft.operators.Similarity
      .freezeGraphIndex(emb, edges, k, beam, hops, entry = 0L)
    val queryVecs = emb.filter(col("vec_id") >= qMin && col("vec_id") < qMax)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq

    val input = MemoryStream[(Long, Seq[Float])]
    val acc = scala.collection.mutable.Map.empty[(Long, Int), Long]
    val q = input.toDF().toDF("qid", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.Similarity.graphServeBatch(ix, batch)
          .select(col("qid"), col("vec_id"), col("rnk"))
          .collect().foreach(r => acc.synchronized {
            acc((r.getLong(0), r.getInt(2))) = r.getLong(1)
          })
      }
      .start()
    try {
      // three uneven arrival batches over the same 8 queries
      input.addData(queryVecs.take(2))
      q.processAllAvailable()
      input.addData(queryVecs.slice(2, 7))
      q.processAllAvailable()
      input.addData(queryVecs.drop(7))
      q.processAllAvailable()
      assert(acc.toMap == expected,
        "streamed ANN answers must equal batch beam search")
      assert(expected.nonEmpty)
    } finally {
      q.stop()
      ix.close()
    }
  }

  test("a repeated query in a later micro-batch reproduces its earlier answer") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val ix = graft.operators.Similarity.freezeGraphIndex(
      emb,
      graft.operators.NndGraphArtifact.edges(spark, dir)
        .select(col("qid"), col("vec_id")),
      k = 3, beam = 4, hops = 4, entry = 0L)
    val qv = emb.filter(col("vec_id") === 9L)
      .as[(Long, Seq[Float])].collect().head

    val input = MemoryStream[(Long, Seq[Float])]
    val answers = scala.collection.mutable.ListBuffer.empty[Set[(Long, Long, Int)]]
    val q = input.toDF().toDF("qid", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = graft.operators.Similarity.graphServeBatch(ix, batch)
          .select(col("qid"), col("vec_id"), col("rnk"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        answers.synchronized { answers += rows }
        ()
      }
      .start()
    try {
      input.addData(Seq(qv)); q.processAllAvailable()
      input.addData(Seq(qv)); q.processAllAvailable()
      assert(answers.size == 2 && answers(0) == answers(1) &&
        answers(0).nonEmpty)
    } finally {
      q.stop()
      ix.close()
    }
  }
}
