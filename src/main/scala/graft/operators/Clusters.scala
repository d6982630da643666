package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair list — the step
  * that turns pairwise dedup output into dedup GROUPS (each document
  * labeled with its cluster's minimum doc id, so "keep one per
  * cluster" is a trivial filter).
  *
  * Algorithm: min-label propagation. Every node starts as its own
  * label; each round, a node takes the minimum of its own and its
  * neighbors' labels; fixpoint = component minimum. Rounds needed =
  * graph diameter — near-dup clusters are near-cliques (diameter 1-2),
  * so a handful of rounds converges; `maxIter` bounds pathological
  * chains.
  *
  * Scale shape: each round is one job — two fused propagation hops
  * (edge-join + min-aggregate, both shuffling on node id, map-side
  * combinable, no row blow-up beyond the edge list itself) with the
  * convergence probe riding the same job as an `observe` metric. The
  * blocking `Observation.get` is the one intentional driver-side
  * synchronization in the engine: iterative graph algorithms are
  * synchronous by nature (GraphX's Pregel loop does exactly this).
  * At extreme diameters the alternating large-star/small-star
  * algorithm halves rounds; for dedup graphs plain propagation is
  * the better constant factor.
  */
object Clusters {

  /** Diagnostic only (read by tools.Profile and specs): rounds run and
    * convergence status of the LAST connectedComponents call on this
    * driver. Not part of the operator contract. */
  @volatile var lastRounds: Int = 0
  @volatile var lastConverged: Boolean = true

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 10): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // The pair list is typically the output of an expensive dedup
    // pipeline; persist it BEFORE the symmetrize-union, which would
    // otherwise evaluate that pipeline twice (exchange reuse across
    // union branches is not guaranteed).
    val p = pairs.select(col(aCol).as("src"), col(bCol).as("dst")).persist(lvl)
    // Duplicate edges are harmless under a min-aggregate — symmetrize
    // WITHOUT a distinct: that shuffle's only effect here would be to
    // shrink the (already near-dup-sparse) edge list a propagation
    // round re-aggregates anyway.
    val edges = p
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
      .persist(lvl)
    // localCheckpoint (not persist) each round: an iterative plan that
    // references its predecessor twice (propagate + next round)
    // doubles in size per round unless the lineage is truncated. The
    // label count and the initial label sum both ride the
    // materialization as ONE observe metric — no separate count or
    // probe job before the loop starts.
    // Init rides a FREE propagation hop: the node list needs a shuffle
    // on node id anyway (distinct), and a groupBy on the same key can
    // carry min(neighbor) through the identical exchange — so labels
    // start at min(self, neighbors), one full hop ahead. Near-clique
    // dedup graphs are already at fixpoint after this fold, so the
    // loop's first round is the stationary confirmation and the whole
    // CC costs two materializations instead of three.
    val obsInit = org.apache.spark.sql.Observation("cc_init")
    var labels = edges
      .groupBy(col("src").as("node"))
      .agg(least(col("node"), min(col("dst"))).as("lbl"))
      .observe(obsInit, count(lit(1)).as("n"),
        sum(col("lbl")).cast("decimal(38,0)").as("lsum"))
      .localCheckpoint()
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl")).cast("decimal(38,0)")).head().getDecimal(0)
    val (nLabels, initSum) =
      try {
        val row = scala.concurrent.Await
          .result(obsInit.future, scala.concurrent.duration.Duration(10, "s"))
        (row.getAs[Long]("n"), row.getAs[java.math.BigDecimal]("lsum"))
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          (labels.count(), labelSum(labels))
      }
    // The label table is EDGE-derived: only docs in some near-dup pair
    // carry a label, so it is orders of magnitude smaller than the
    // corpus at any scale — but each round's checkpoint would still
    // materialize it across the full session shuffle-partition count,
    // paying ~3 stages × that many tasks of scheduling overhead per
    // round. Size the rounds from the MEASURED label count instead:
    // ~512k labels per partition, capped at cluster parallelism.
    // coalesce is narrow, and through coalesce-backpropagation it also
    // shrinks each round's aggregate to the same width.
    val parts = math.max(1L, math.min(
      pairs.sparkSession.sparkContext.defaultParallelism.toLong,
      nLabels / 524288L + 1L)).toInt
    def propagate(l: DataFrame): DataFrame =
      l.union(edges
          .join(l.withColumnRenamed("node", "dst"), "dst")
          .select(col("src").as("node"), col("lbl")))
        .groupBy(col("node"))
        .agg(min(col("lbl")).as("lbl"))
    // Min-label propagation only ever DECREASES labels, so the label
    // sum is stationary iff no label changed — a one-row convergence
    // probe instead of a per-round join + isEmpty. The probe rides the
    // checkpoint job as an `observe` metric (CollectMetrics), so each
    // round is ONE job; and each round runs TWO propagation hops per
    // materialization, halving round count (in local mode fixed
    // per-job latency dominates these small iterative stages; on a
    // cluster the fused round halves scheduling overhead the same
    // way).
    var prevSum = initSum
    var iter = 0
    var converged = prevSum == null // empty edge list: nothing to label
    while (iter < maxIter && !converged) {
      // TWO observes ride the one materialization — after hop 1 and
      // after hop 2. Labels only ever decrease, so sum(hop1) ==
      // sum(hop2) means hop 2 changed nothing, i.e. hop 1's output was
      // already a fixpoint: convergence is detected INSIDE the round
      // that reaches it, never needing a separate confirmation round
      // (the round-vs-round check alone pays one extra materialization
      // whenever the fixpoint lands on the first of the two fused
      // hops).
      val obsH1 = org.apache.spark.sql.Observation(s"cc_h1_$iter")
      val obsH2 = org.apache.spark.sql.Observation(s"cc_h2_$iter")
      val next = propagate(
          propagate(labels)
            .observe(obsH1, sum(col("lbl")).cast("decimal(38,0)").as("lsum")))
        .coalesce(parts)
        .observe(obsH2, sum(col("lbl")).cast("decimal(38,0)").as("lsum"))
        .localCheckpoint()
      // The metrics arrive via the (bounded, droppable) listener bus;
      // never block without a timeout — if the event was shed under
      // load, fall back to the synchronous one-row probe over the
      // (already materialized) checkpoint.
      def metric(o: org.apache.spark.sql.Observation): Option[java.math.BigDecimal] =
        try Some(scala.concurrent.Await
          .result(o.future, scala.concurrent.duration.Duration(10, "s"))
          .getAs[java.math.BigDecimal]("lsum"))
        catch { case _: java.util.concurrent.TimeoutException => None }
      val s1 = metric(obsH1)
      val s = metric(obsH2).getOrElse(labelSum(next))
      converged = s == null || s.compareTo(prevSum) == 0 ||
        s1.exists(h1 => h1 != null && s.compareTo(h1) == 0)
      prevSum = s
      labels = next
      iter += 1
    }
    lastRounds = iter
    lastConverged = converged
    edges.unpersist()
    p.unpersist()
    labels.select(col("node").as("doc_id"), col("lbl").as("cluster"))
  }
}
