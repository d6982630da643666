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
object KnnEdgesArtifact {

  /** Largest neighbor count any registry consumer reads. */
  val K = 5

  private val spec = Artifact("knnedges", "embeddings", s"_c8_i2_k$K",
      Seq("edges")) { b =>
    b.write("edges",
      Similarity.inCellTopK(IvfArtifact.inverted(b.spark, b.dir, 8, 2), K))
  }

  def path(dir: String): String = spec.path(dir)

  def materialize(spark: SparkSession, dir: String): String =
    spec.materialize(spark, dir)

  def edges(spark: SparkSession, dir: String): DataFrame =
    spec.read(spark, dir, "edges")
}
