package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized beam-walk trace — the [[PrefDuelArtifact]] treatment
  * applied to the graph-ANN search path (round 13).
  *
  * `q_embed_graph_search` and `q_ann_pareto`'s graph leg run the
  * IDENTICAL fixed walk (same NN-descent graph, same query ids 8..16,
  * beam 4, hops 4, entry 0) and differ only in the final top-k (3 vs
  * 5) — so the whole hop sequence (4 sequential checkpointed jobs plus
  * seed/final, the dominant cost of both queries at any scale) was
  * paid twice per registry pass. The artifact stores the walk's trace
  * once:
  *
  *  - `seen`: (qid, vec_id, cos) — the scored DISTINCT seen set, the
  *    exact input of the final rank cut (bounded per query by
  *    1 + hops·beam·(max symmetric degree + 1) rows — index-sized,
  *    never corpus-sized);
  *  - `cost`: (qid, cand_scored) — the per-query scored-candidate
  *    count over all hops, the recall-vs-work audit `q_ann_pareto`
  *    reports.
  *
  * Both are deterministic pure functions of the embeddings table (the
  * walk is tie-broken on (cos desc, node) everywhere), so consumers
  * read byte-identical values to what they previously computed inline;
  * the DuckDB oracles still replay the full hop expansion from
  * `embeddings`. Parameters are pinned in the path. At 100 TB this is
  * the production posture: a frozen index's fixed evaluation walk is
  * executed once, audits read the trace. */
object BeamWalkArtifact extends Artifact("beamwalk", "embeddings",
    s"_q${BeamWalkArtifact.QMin}_${BeamWalkArtifact.QMax}" +
    s"_b${BeamWalkArtifact.Beam}_h${BeamWalkArtifact.Hops}_e${BeamWalkArtifact.Entry}") {

  final val QMin = 8L
  final val QMax = 16L
  final val Beam = 4
  final val Hops = 4
  final val Entry = 0L

  protected def build(b: Artifact.Build): Unit = {
    val (seen, cost) = Similarity.beamWalkTrace(
      graft.Tables.embeddings(b.spark, b.dir)
        .select(col("vec_id"), col("embedding")),
      NndGraphArtifact.edges(b.spark, b.dir)
        .select(col("qid"), col("vec_id")),
      QMin, QMax, Beam, Hops, Entry)
    try {
      b.write("seen", seen)
      b.write("cost", cost)
    } finally seen.unpersist()
  }

  /** The scored distinct seen set `(qid, vec_id, cos)`. */
  def seen(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "seen")

  /** The per-query scored-candidate count `(qid, cand_scored)`. */
  def cost(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "cost")
}
