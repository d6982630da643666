package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Materialized held-out eval-set shingle table (source `src0` stands
  * in for the eval benchmark). Contamination screening joins every
  * training document's shingles against this set; the set itself is
  * FIXED per corpus — at scale it is derived once from the benchmark
  * suite and shipped to every screening job, never re-shingled inside
  * each query. `q_eval_shingles_build` is the registered build step;
  * `q_contamination` and `q_corpus_prep` consume the artifact. */
object EvalSetArtifact extends Artifact("evalsh", "documents", "") {

  protected def build(b: Artifact.Build): Unit = {
    b.write("shingles", Dedup.docShingles(
        Tables.documents(b.spark, b.dir).filter(col("source") === "src0"), 5)
      .select(col("shingle")).distinct())
  }

  /** The distinct 5-gram shingle set of the held-out source (one
    * `shingle` column). Small by nature — callers broadcast it. */
  def shingles(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "shingles")
}
