package graft.operators

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized NN-descent kNN graph `(qid, vec_id, cos, rnk)` — the
  * graph-ANN index tier: `q_embed_nndescent` is the registered build
  * step (it pays the descent rounds and the parquet write);
  * `q_embed_graph_search` answers queries by BEAM-walking the stored
  * edges ([[Similarity.graphBeamSearch]]), touching the corpus only to
  * score visited candidates. Built at graph degree K=10 so every
  * consumer reads a rank prefix. Parameters are pinned in the path so
  * a config change can never serve a mismatched graph. */
object NndGraphArtifact extends Artifact("nndgraph", "embeddings",
    s"_k${NndGraphArtifact.K}_r${NndGraphArtifact.Rounds}" +
    s"_s${NndGraphArtifact.ScatterDegree}", Seq("edges")) {

  /** Graph degree (rank-prefix consumers read k' <= K). */
  final val K = 10
  final val Rounds = 3
  final val ScatterDegree = 10

  protected def build(b: Artifact.Build): Unit = {
    // the parquet write IS the descent's finalizing action — one
    // materializing pass over the round cascade, not a count + a
    // write (see the nnDescent finalize overload)
    Similarity.nnDescent(
      graft.Tables.embeddings(b.spark, b.dir)
        .select(col("vec_id"), col("embedding")),
      KnnEdgesArtifact.edges(b.spark, b.dir).select(col("qid"), col("vec_id")),
      k = K, rounds = Rounds, scatterDegree = ScatterDegree,
      finalize = b.write("edges", _))
  }

  def edges(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "edges")
}
