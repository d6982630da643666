package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Materialized teacher-label pass for the distillation family — the
  * labeled doc table and the per-doc token counts every student
  * trains/scores on.
  *
  * The three distillation queries (`q_nb_distill`, `q_rocchio_centroid`,
  * `q_students_agree`) run the IDENTICAL teacher task: rule-label every
  * document ([[TextAnalysis.predictedProfile]]), hash-split 80/20, and
  * tokenize the corpus into per-(doc, token) counts. Under hermetic
  * per-query timing each re-derived that pass from scratch — the same
  * shape the co-occurrence edge list had before [[EdgeArtifact]]. In a
  * real distillation loop the teacher pass is the expensive step done
  * ONCE (it stands in for an LLM labeling run); students then train
  * against the frozen label table. So the pass is a materialized
  * artifact: `q_nb_distill` is the registered build step (it pays the
  * corpus scan + explode + token aggregate + parquet writes), and the
  * other two students consume the written tables.
  */
object TeacherArtifact extends Artifact("teacher", "documents",
    s"_profile_bp${TeacherArtifact.trainCutBp}") {

  /** The registry's fixed teacher task: profile labeler, 80/20 split. */
  final val trainCutBp = 8000

  /** Two parquet outputs share ONE persisted labeled-corpus scan:
    *  - labeled: (doc_id, actual, is_train)            — one row per doc
    *  - toks:    (doc_id, actual, is_train, token, tcnt) — per-doc counts
    */
  protected def build(b: Artifact.Build): Unit = {
    val labeled = Tables.documents(b.spark, b.dir)
      .select(col("doc_id"),
        TextAnalysis.predictedProfile(col("text")).as("actual"),
        (Sampling.hashBasisPoints(col("doc_id")) < trainCutBp).as("is_train"),
        col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      b.write("labeled", labeled.select(col("doc_id"), col("actual"),
        col("is_train")).hint("rebalance"))
      b.write("toks", Classify.tokenCounts(labeled,
        Seq("doc_id", "actual", "is_train")).hint("rebalance"))
    } finally labeled.unpersist()
  }

  /** Per-doc teacher labels `(doc_id, actual, is_train)`. */
  def labeled(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "labeled")

  /** Per-doc token counts `(doc_id, actual, is_train, token, tcnt)`. */
  def toks(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "toks")
}
