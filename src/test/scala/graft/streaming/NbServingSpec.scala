package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Serving path of the classifier-distillation family: a batch-trained
  * NB model ([[graft.operators.Classify.nbTrain]]) scores a document
  * STREAM per micro-batch via `foreachBatch` — model tables persisted
  * and broadcast, each batch scan-scored with
  * [[graft.operators.Classify.nbPredict]]. Streamed predictions must
  * equal the batch predictions for the same docs (the model is frozen;
  * arrival batching cannot change an argmax). */
class NbServingSpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("streamed micro-batch scoring equals batch scoring under a frozen model") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir)
    val label = graft.operators.TextAnalysis.predictedProfile(col("text"))
    val model = graft.operators.Classify.nbTrain(
      docs.select(col("doc_id"), label.as("actual"), col("text")))
    model.classTable.persist(); model.model.persist()

    val evalDocs = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().take(40)
    val expected = graft.operators.Classify
      .nbPredict(evalDocs.toSeq.toDF("doc_id", "text"), model)
      .as[(Long, String)].collect().toMap

    val input = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.Map.empty[Long, String]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.Classify.nbPredict(batch, model)
          .collect().foreach(r => acc.synchronized {
            acc(r.getLong(0)) = r.getString(1)
          })
      }
      .start()
    try {
      // three uneven arrival batches over the same 40 docs
      input.addData(evalDocs.take(7))
      q.processAllAvailable()
      input.addData(evalDocs.slice(7, 30))
      q.processAllAvailable()
      input.addData(evalDocs.drop(30))
      q.processAllAvailable()
      assert(acc.toMap == expected)
      assert(expected.nonEmpty && expected.values.toSet.subsetOf(
        Set("olap", "stream", "storage")))
    } finally {
      q.stop()
      model.classTable.unpersist(); model.model.unpersist()
    }
  }
}
