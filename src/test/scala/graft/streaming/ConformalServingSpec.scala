package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Serving form of the conformal gate: a frozen (model, threshold)
  * pair routes a document STREAM per micro-batch — singleton
  * prediction set auto-labels, wider sets go to review. Routing is
  * stateless given the frozen pair, so streamed decisions must equal
  * the batch decisions for the same docs under any arrival batching,
  * and loosening the threshold can only widen prediction sets
  * (route monotonicity). */
class ConformalServingSpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val dir = "/root/testdata/sf0.001"

  test("streamed conformal routing equals batch routing under a frozen gate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = graft.Tables.documents(spark, dir)
    val label = graft.operators.TextAnalysis.predictedProfile(col("text"))
    val model = graft.operators.Classify.nbTrain(
      docs.select(col("doc_id"), label.as("actual"), col("text")))
    model.classTable.persist(); model.model.persist()
    // a mid-scale threshold so BOTH routes occur on the fixture
    val thr = 2000000000L

    val evalDocs = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().take(40)
    val expected = graft.operators.Classify
      .nbConformalRoute(evalDocs.toSeq.toDF("doc_id", "text"), model, thr)
      .select(col("doc_id"), col("predicted"), col("set_size"), col("route"))
      .as[(Long, String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    val input = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.Map.empty[Long, (String, Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.Classify.nbConformalRoute(batch, model, thr)
          .collect().foreach(r => acc.synchronized {
            acc(r.getLong(0)) = (r.getString(1), r.getLong(2), r.getString(3))
          })
      }
      .start()
    try {
      input.addData(evalDocs.take(11))
      q.processAllAvailable()
      input.addData(evalDocs.drop(11))
      q.processAllAvailable()
      assert(acc.toMap == expected)
      val routes = expected.values.map(_._3).toSet
      assert(routes == Set("auto", "review"),
        s"fixture + threshold must exercise both routes, got $routes")
      // auto ⇔ singleton set, review ⇔ wider
      assert(expected.values.forall { case (_, sz, route) =>
        (route == "auto") == (sz == 1L)
      })
    } finally {
      q.stop()
      model.classTable.unpersist(); model.model.unpersist()
    }
  }

  test("loosening the threshold only widens prediction sets") {
    val docs = graft.Tables.documents(spark, dir)
    val label = graft.operators.TextAnalysis.predictedProfile(col("text"))
    val model = graft.operators.Classify.nbTrain(
      docs.select(col("doc_id"), label.as("actual"), col("text")))
    model.classTable.persist(); model.model.persist()
    try {
      val tight = graft.operators.Classify
        .nbConformalRoute(docs.select(col("doc_id"), col("text")), model, 0L)
        .select("doc_id", "set_size").as[(Long, Long)].collect().toMap
      val loose = graft.operators.Classify
        .nbConformalRoute(docs.select(col("doc_id"), col("text")), model,
          Long.MaxValue / 2)
        .select("doc_id", "set_size").as[(Long, Long)].collect().toMap
      assert(tight.keySet == loose.keySet)
      assert(tight.keys.forall(k => tight(k) <= loose(k)))
      // thr = 0 keeps only the argmax (and exact ties)
      assert(tight.values.forall(_ >= 1L))
      // a huge threshold admits every class
      val nClasses = model.classTable.count()
      assert(loose.values.forall(_ == nClasses))
    } finally {
      model.classTable.unpersist(); model.model.unpersist()
    }
  }
}
