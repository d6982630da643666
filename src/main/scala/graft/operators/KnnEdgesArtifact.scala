package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized directed in-cell kNN edge table `(qid, vec_id, cos,
  * rnk)` over the Lloyd-refined IVF cells — the shared kNN GRAPH of
  * the labeled-corpus tier: `q_embed_label_noise` (the registered
  * build step) votes with all `K` neighbors, `q_label_prop` propagates
  * over the `rnk <= 3` prefix. The rank column is what makes one
  * artifact serve every k' <= K consumer; storing the largest k any
  * consumer needs costs only K rows per vector. Built from the IVF
  * inverted list ([[IvfArtifact]]); parameters are pinned in the path
  * so a config change can never serve a mismatched graph. */
object KnnEdgesArtifact extends Artifact("knnedges", "embeddings",
    s"_c8_i2_k${KnnEdgesArtifact.K}", Seq("edges")) {

  /** Largest neighbor count any registry consumer reads. */
  final val K = 5

  protected def build(b: Artifact.Build): Unit = {
    b.write("edges",
      Similarity.inCellTopK(IvfArtifact.inverted(b.spark, b.dir, 8, 2), K))
  }

  def edges(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "edges")
}
