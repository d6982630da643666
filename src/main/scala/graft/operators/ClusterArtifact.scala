package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Materialized near-dup pair list: the capped-Jaccard pairs
  * `(da, db, jaccard)` a dedup pipeline's FIRST job emits.
  * `q_dedup_jaccard_capped` is the registered build step; the
  * cluster-label build ([[ClusterArtifact]]) consumes the written
  * pairs instead of re-running the shingle-index self-join. The
  * similarity parameters are pinned in the path. */
object PairsArtifact {

  def apply(threshold: Double, maxDf: Int): Artifact =
    new Artifact("ndpairs", "documents",
        s"_t${math.round(threshold * 100)}_d$maxDf", Seq("pairs")) {
      protected def build(b: Artifact.Build): Unit =
        b.write("pairs", Dedup.jaccardPairs(Tables.documents(b.spark, b.dir),
          threshold, maxDf = Some(maxDf)))
    }

  /** The pair list `(da, db, jaccard)`. */
  def pairs(spark: SparkSession, dir: String,
            threshold: Double, maxDf: Int): DataFrame =
    apply(threshold, maxDf).read(spark, dir, "pairs")
}

/** Materialized dedup cluster-label table: connected components over
  * the capped-Jaccard near-dup pair list, each paired doc labeled
  * with its component's minimum doc id. This IS the artifact a real
  * dedup run publishes — the pair generation + CC labeling happen
  * once, and every downstream consumer (the corpus keep-filter, the
  * cluster-size report) is a cheap join against the label table.
  * `q_dedup_clusters` is the registered build step, consuming the
  * [[PairsArtifact]] pair list — the dedup pipeline's real job chain
  * (pairs → clusters → filter), each stage materialized. The
  * similarity parameters are pinned in the path. */
object ClusterArtifact {

  /** Min-label connected components over the materialized pair list
    * → `(doc_id, cluster)`. */
  def apply(threshold: Double, maxDf: Int): Artifact =
    new Artifact("dedupcc", "documents",
        s"_t${math.round(threshold * 100)}_d$maxDf", Seq("labels")) {
      protected def build(b: Artifact.Build): Unit =
        b.write("labels", Clusters.connectedComponents(
          PairsArtifact.pairs(b.spark, b.dir, threshold, maxDf)
            .select(col("da"), col("db")),
          "da", "db"))
    }

  /** The label table `(doc_id, cluster)`. Only docs in some near-dup
    * pair carry a label. */
  def labels(spark: SparkSession, dir: String,
             threshold: Double, maxDf: Int): DataFrame =
    apply(threshold, maxDf).read(spark, dir, "labels")
}
