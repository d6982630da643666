package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics pins for the round-6 additions: the dataset Merkle
  * fingerprint and unsupervised topic clustering. */
class Round6Spec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = Registry.all.find(_.name == name).get

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("q_dataset_merkle: root replays from shard digests, counts tie out") {
    import spark.implicits._
    val rows = q("q_dataset_merkle").run(spark, dir)
      .as[(Long, Long, String)].collect()
    val (rootRows, shardRows) = rows.partition(_._1 == -1L)
    assert(rootRows.length == 1)
    val root = rootRows.head
    assert(shardRows.map(_._2).sum == root._2, "root count = Σ shard counts")
    // replay the root digest from the shard digests, shard-ordered
    val replayed = md5hex(shardRows.sortBy(_._1).map(_._3).mkString)
    assert(replayed == root._3, "root digest must be the Merkle fold")
    assert(root._2 == Tables.documents(spark, dir).count())
  }

  test("q_dataset_merkle: a changed doc changes its shard digest and the root") {
    import spark.implicits._
    val tmpA = graft.TestSpark.tempDir("merkle_a")
    val tmpB = graft.TestSpark.tempDir("merkle_b")
    def write(dir: String, textOf300: String): Unit =
      Seq((0L, "alpha beta"), (1L, "gamma delta"), (300L, textOf300))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(tmpA, "epsilon zeta")
    write(tmpB, "epsilon zeta CHANGED")
    val a = q("q_dataset_merkle").run(spark, tmpA)
      .as[(Long, Long, String)].collect().map { case (s, _, d) => (s, d) }.toMap
    val b = q("q_dataset_merkle").run(spark, tmpB)
      .as[(Long, Long, String)].collect().map { case (s, _, d) => (s, d) }.toMap
    assert(a(0L) == b(0L), "untouched shard digest must be stable")
    assert(a(1L) != b(1L), "the changed doc's shard digest must move")
    assert(a(-1L) != b(-1L), "the root must move with any changed doc")
  }

  test("q_text_topics: topics partition the tokenized corpus, terms ranked") {
    import spark.implicits._
    val rows = q("q_text_topics").run(spark, dir)
      .as[(Long, Long, String)].collect()
    val nLangs = Tables.documents(spark, dir)
      .select(col("lang")).distinct().count()
    assert(rows.length == nLangs, "one topic per seed stratum")
    assert(rows.map(_._1).distinct.length == rows.length, "topic ids unique")
    val nDocsWithTokens = Tables.documents(spark, dir)
      .filter(size(filter(split(col("text"), "\\s+"),
        t => length(t) > 0)) > 0).count()
    assert(rows.map(_._2).sum == nDocsWithTokens,
      "every tokenizable doc lands in exactly one topic")
    rows.foreach { case (_, _, terms) =>
      assert(terms.split(" ").length == 5, "top-5 centroid terms reported")
    }
  }

  test("q_embed_hubness: in-degree mass conserves over the 5-NN graph") {
    import org.apache.spark.sql.functions._
    // each doc in a cell of size s emits exactly min(5, s-1) edges, so
    // the total in-degree over ALL docs must equal Σ_docs min(5, s-1) —
    // validating the cell blocking, the per-query top-5 cut, and the
    // in-degree aggregation end to end (the reported top-10 is a
    // subset, so the check reads the pre-cut degree table directly).
    val inv = graft.operators.IvfArtifact.inverted(spark, dir, 8, 2)
    val expectedEdges = inv.groupBy(col("cell"))
      .agg(count(lit(1)).as("s"))
      .select(sum(expr("s * least(5, s - 1)")).as("e"))
      .head().getLong(0)
    val top10 = q("q_embed_hubness").run(spark, dir).collect()
    assert(top10.length == 10)
    // recompute the full degree table the query's top-10 derives from
    val a = inv.select(col("cell"), col("vec_id").as("qa"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = inv.select(col("cell"), col("vec_id").as("vb"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val deg = a.join(b, Seq("cell")).filter(col("qa") =!= col("vb"))
      .select(col("qa"), col("vb"),
        floor(round(graft.functions.VectorExpressions
          .floatDot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
          * lit(1000000) + lit(0.5)).cast("long").as("cm"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qa"))
          .orderBy(col("cm").desc, lpad(col("vb").cast("string"), 8, "0"))))
      .filter(col("rn") <= 5)
      .groupBy(col("vb")).agg(count(lit(1)).as("d"))
    assert(deg.agg(sum(col("d"))).head().getLong(0) == expectedEdges)
    // the query's top-10 must match the window-formulation top-10
    val expTop = deg.orderBy(col("d").desc, col("vb")).limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top10.map(r => (r.getLong(1), r.getLong(2))).toSeq == expTop)
  }
}
