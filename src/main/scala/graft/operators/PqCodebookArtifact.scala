package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Materialized Lloyd-refined PQ codebook — the [[IvfArtifact]]
  * treatment applied to the product quantizer (round 13).
  *
  * A PQ codebook is a TRAINED index structure: production ANN systems
  * (the FAISS lineage this family mirrors) train the per-subspace
  * codebooks offline and serve every search from the stored tables.
  * `q_embed_pq_refined` instead re-ran the 2-iteration per-subspace
  * Lloyd refinement — two full corpus passes, each with a posexplode
  * + two hash aggregates per iteration — inside every execution,
  * pricing the quantizer TRAINING into each search. The artifact
  * stores the refined codebook once:
  *
  *  - `codebook`: (sub, cidx, cvec)
  *
  * Deterministic pure function of the embeddings table (the
  * [[Similarity.pqCodebookRefined]] integer-quantized means, ties to
  * the lower codeword), so the search reads byte-identical codewords
  * to what it previously computed inline — the DuckDB oracle still
  * replays the full refinement from `embeddings`. The seed (
  * iterations = 0) codebook stays inline in its consumers: it is one
  * cheap filter of the corpus, not a training pass. */
object PqCodebookArtifact {

  def apply(iterations: Int): Artifact =
    new Artifact("pqcb", "embeddings", s"_i$iterations", Seq("codebook")) {
      protected def build(b: Artifact.Build): Unit =
        b.write("codebook", Similarity.pqCodebookRefined(
          Tables.embeddings(b.spark, b.dir), iterations))
    }

  /** The refined codebook `(sub, cidx, cvec)`. */
  def codebook(spark: SparkSession, dir: String,
               iterations: Int): DataFrame =
    apply(iterations).read(spark, dir, "codebook")
}
