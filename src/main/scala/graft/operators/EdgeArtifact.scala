package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Materialized part co-occurrence edge list — the shared input of the
  * whole graph family (`q_graph_*`) and `q_market_basket`.
  *
  * Seven queries consume the identical support-thresholded edge set
  * (distinct basket → pair self-join → support >= 2). Rebuilding it in
  * each query made the build — a full fact scan, distinct, and
  * Σ|basket|²/2 pair aggregation — ~7× of the graph family's cost. At
  * 100 TB the right posture is the one `q_zorder_cells` takes for zone
  * maps: write the derived structure ONCE as a layout artifact and let
  * every consumer scan the (orders-of-magnitude smaller) artifact
  * instead of the fact table. `q_graph_edges_build` is the registered
  * build step and carries the build cost.
  */
object EdgeArtifact extends Artifact("cooccur", "lineitem", "") {

  /** The edge-list plan over the (persisted) basket-array table: pairs
    * are generated IN-ROW from each order's sorted part array (i < j
    * over a ≤ ~17-element array — pa < pb falls out of the sort), so
    * the only shuffles are the basket groupBy and the pair aggregate.
    * The round-4 formulation self-joined a distinct (okey, part) table
    * on okey — one more full shuffle plus the join itself; in-row
    * generation produces the identical Σ|basket|²/2 pair stream from
    * half the exchanges (measured ~25% off the build).
    * Columns: (pa, pb, support), undirected with pa < pb. */
  private def edgePlan(baskets: DataFrame): DataFrame = {
    baskets.filter(size(col("parts")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(parts) - 2),
          |  i -> transform(sequence(i + 1, size(parts) - 1),
          |    j -> struct(parts[i] AS pa, parts[j] AS pb))))""".stripMargin))
        .as("pr"))
      .select(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
  }

  /** Three parquet outputs share ONE persisted basket-array scan
    * (`collect_set` dedupes per order, replacing the former global
    * distinct — one shuffle builds all three outputs' common input):
    *  - edges: (pa, pb, support)   — the support >= 2 dense core
    *  - freq:  (l_partkey, f)      — per-part basket frequency
    *  - meta:  (n_orders)          — basket count, one row
    * freq/meta are the marginals association metrics (lift,
    * confidence) need; storing them beside the edges makes
    * `q_market_basket` a pure artifact consumer. */
  protected def build(b: Artifact.Build): Unit = {
    val baskets = Tables.lineitem(b.spark, b.dir)
      .groupBy(col("l_orderkey").as("okey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // A layout build compacts its output: the AQE rebalance hint
      // packs the result into size-targeted files (one locally, ~64 MB
      // chunks on a cluster) instead of shuffle-partition-count
      // shards. Consumers then scan a few well-sized files, and their
      // downstream AQE stages size themselves off the real data
      // volume rather than 32 near-empty splits.
      b.write("edges", edgePlan(baskets).hint("rebalance"))
      b.write("freq", baskets.select(explode(col("parts")).as("l_partkey"))
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("f"))
        .hint("rebalance"))
      b.write("meta", baskets.agg(count(lit(1)).as("n_orders")))
    } finally baskets.unpersist()
  }

  /** The edge list (pa, pb, support). Consumers re-scan the parquet per
    * branch — the artifact is the dense core, orders of magnitude
    * smaller than the fact, so repeated scans beat caching it (and at
    * scale, beat re-deriving it from the fact by far more). */
  def edges(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "edges")

  /** Per-part basket frequency (l_partkey, f). */
  def nodeFreq(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "freq")

  /** One-row (n_orders) basket count. */
  def meta(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "meta")
}
