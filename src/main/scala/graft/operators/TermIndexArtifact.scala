package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Materialized lexical term index — the df-capped tf-idf posting list
  * `(doc_id, term, w)` plus per-doc squared norms `(doc_id, nrm)` that
  * both lexical retrieval queries (`q_text_cosine_knn`,
  * `q_rank_fusion`'s cosine leg) rank with.
  *
  * A search system builds its inverted index OFFLINE and serves
  * queries from it; re-running tokenize → tf → df → stop-cut inside
  * every retrieval query prices the index build into each search.
  * `q_text_cosine_knn` is the registered build step (it pays the
  * corpus scan + two aggregates + parquet writes); consumers read the
  * written postings.
  *
  * Weights are the engine's exact-rational idf (`tf · n_docs div df`)
  * under the standard `df·10 ≤ n_docs` stop-term cut, so everything
  * downstream of the index is integer arithmetic.
  */
object TermIndexArtifact extends Artifact("termidx", "documents", "_cap10",
    Seq("kept", "norms")) {

  /** Two parquet outputs share one persisted posting build:
    *  - kept:  (doc_id, term, w)  — df-capped integer tf-idf postings
    *  - norms: (doc_id, nrm)      — per-doc Σw² (BIGINT)
    */
  protected def build(b: Artifact.Build): Unit = {
    val docs = Tables.documents(b.spark, b.dir)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.groupBy().agg(count(lit(1)).as("nd"))
    val kept = tf.join(dft, "term").crossJoin(broadcast(nDocs))
      .filter(col("df") * 10 <= col("nd"))
      .select(col("doc_id"), col("term"), expr("(tf * nd) div df").as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      b.write("kept", kept.hint("rebalance"))
      b.write("norms", kept.groupBy(col("doc_id"))
        .agg(sum(col("w") * col("w")).as("nrm")).hint("rebalance"))
    } finally kept.unpersist()
  }

  /** Df-capped postings `(doc_id, term, w)`. */
  def kept(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "kept")

  /** Per-doc squared norms `(doc_id, nrm)`. */
  def norms(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "norms")
}
