package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Materialized FROZEN base-corpus IVF centroids for the incremental
  * append audit — the [[AppendGraphArtifact]] treatment applied to
  * `q_embed_ivf_append` (round 13).
  *
  * The append contract itself freezes these centroids (re-training
  * per ingest batch would invalidate every stored assignment), yet
  * the query re-ran the 2-iteration base-restricted Lloyd loop per
  * execution. The artifact stores what a production index holds:
  *
  *  - `centroids`: (cell, cvec, cnrm) — the base-trained quantizer;
  *  - `meta`:      (m, n_all) — batch boundary and corpus size.
  *
  * Deterministic pure function of the embeddings table (the
  * [[Similarity.lloydCentroids]] integer-quantized means); the
  * consumer reads byte-identical centroids to what it previously
  * trained inline, its DuckDB oracle still replays the full Lloyd
  * loop from `embeddings`, and [[StoredDerivationSpec]] pins
  * artifact-vs-direct manifest identity. */
object IvfBaseArtifact extends Artifact("ivfbase", "embeddings",
    s"_c${IvfBaseArtifact.NumCentroids}_i${IvfBaseArtifact.Iterations}" +
    s"_n${IvfBaseArtifact.BatchN}",
    Seq("centroids", "meta")) {

  final val NumCentroids = 8
  final val Iterations = 2
  final val BatchN = 8

  protected def build(b: Artifact.Build): Unit = {
    val (cents, m, nAll) = Similarity.ivfAppendBaseCentroids(
      Tables.embeddings(b.spark, b.dir), NumCentroids, Iterations, BatchN)
    b.write("centroids", cents)
    b.write("meta",
      b.spark.range(1).select(lit(m).as("m"), lit(nAll).as("n_all")))
  }

  /** The stored centroids `(cell, cvec, cnrm)`. */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "centroids")

  /** `(m, n_all)`: batch boundary and total corpus size. */
  def meta(spark: SparkSession, dir: String): (Long, Long) = {
    val r = first(spark, dir, "meta")
    (r.getLong(0), r.getLong(1))
  }
}
