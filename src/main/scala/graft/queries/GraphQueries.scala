package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.{Q, Tables}
import graft.operators.EdgeArtifact

/** Graph analytics over the part co-occurrence graph (parts appearing
  * in the same order basket, support >= 2 — the same edge definition
  * `q_market_basket` mines, here treated as a graph and analyzed with
  * degree / triangle / PageRank / component queries).
  *
  * Scale posture: the edge list is bounded by the support threshold —
  * baskets are small (TPC-H orders hold ≤7 distinct parts), so raw
  * pair generation is Σ|basket|²/2 ≈ 8× the fact rows, and the
  * support filter collapses that to the dense core. Every algorithm
  * below works on the EDGE LIST (never an adjacency matrix), shuffles
  * only on node ids, and keeps iteration counts fixed and small.
  * All arithmetic is integer (counts, nano-scaled ranks) so the
  * DuckDB oracle replays bit-exactly.
  */
object GraphQueries {

  /** Shared edge list, served from the materialized layout artifact
    * (`operators/EdgeArtifact.scala`). `q_graph_edges_build` is the
    * registered build step; every consumer here scans the artifact —
    * a parquet of the support-thresholded dense core, orders of
    * magnitude smaller than the fact — instead of re-deriving it from
    * the fact table per query. Builds lazily if absent, so any
    * registry subset runs standalone. Returns undirected edges with
    * pa < pb. */
  private def edges(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EdgeArtifact.edges(spark, dir).select(col("pa"), col("pb"))

  private val edgesCte: String = """
      b AS (SELECT DISTINCT l_orderkey AS okey, l_partkey FROM lineitem),
      e AS (
        SELECT a.l_partkey AS pa, bb.l_partkey AS pb
        FROM b a JOIN b bb USING (okey)
        WHERE a.l_partkey < bb.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2)
  """.trim

  /** The registered artifact-build step: forces a full (re)build of the
    * co-occurrence edge artifact — fact scan, distinct, pair
    * aggregation, parquet write — then reports its summary shape. The
    * bench prices the build here, once, instead of inside each of the
    * seven consumers. Exactly the `q_zorder_cells` layout-artifact
    * pattern applied to a graph input. */
  val qGraphEdgesBuild: Q = Q(
    "q_graph_edges_build",
    (spark, dir) => {
      EdgeArtifact.materialize(spark, dir)
      val e = EdgeArtifact.edges(spark, dir)
      val nodes = e.select(col("pa").as("node"))
        .unionAll(e.select(col("pb").as("node")))
      e.agg(count(lit(1)).as("n_edges"),
          sum(col("support")).as("total_support"),
          max(col("support")).as("max_support"))
        .crossJoin(
          nodes.agg(countDistinct(col("node")).as("n_nodes")))
        .select(col("n_edges"), col("n_nodes"), col("total_support"),
          col("max_support"))
    },
    Some(s"""
      WITH b AS (SELECT DISTINCT l_orderkey AS okey, l_partkey FROM lineitem),
      es AS (
        SELECT a.l_partkey AS pa, bb.l_partkey AS pb,
               CAST(count(*) AS BIGINT) AS support
        FROM b a JOIN b bb USING (okey)
        WHERE a.l_partkey < bb.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT count(*) AS n_edges,
             (SELECT count(DISTINCT node) FROM (
                SELECT pa AS node FROM es UNION ALL SELECT pb FROM es))
               AS n_nodes,
             CAST(sum(support) AS BIGINT) AS total_support,
             max(support) AS max_support
      FROM es
    """.trim))

  /** Degree distribution: per-node degree over the symmetrized edge
    * list, then the histogram (degree -> node count). Two integer
    * aggregates, both map-side combinable; the histogram is at most
    * max-degree rows. The canonical first look at any large graph. */
  val qGraphDegree: Q = Q(
    "q_graph_degree",
    (spark, dir) => {
      val e = edges(spark, dir)
      val sym = e.select(col("pa").as("node"))
        .unionAll(e.select(col("pb").as("node")))
      sym.groupBy(col("node")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("degree"))
    },
    Some(s"""
      WITH $edgesCte,
      deg AS (
        SELECT node, count(*) AS degree FROM (
          SELECT pa AS node FROM e UNION ALL SELECT pb FROM e)
        GROUP BY node)
      SELECT degree, count(*) AS n_nodes FROM deg
      GROUP BY degree ORDER BY degree
    """.trim))

  /** Triangle counting via degree-ordered edge orientation (the
    * node-iterator++ algorithm): orient every edge from the
    * lower-(degree, id) endpoint to the higher, join oriented edges on
    * the shared middle vertex to enumerate wedges, and keep wedges
    * whose closing edge exists (semi-join against the oriented edge
    * list). Orientation bounds every vertex's out-degree by O(sqrt(E)),
    * so the wedge join — the only superlinear step — generates
    * Σ outdeg² candidates instead of Σ deg², the standard trick that
    * makes triangle counting feasible on power-law graphs. Output is
    * the corpus triangle count plus the support histogram of how many
    * triangles each participating node touches. */
  val qGraphTriangles: Q = Q(
    "q_graph_triangles",
    (spark, dir) => {
      val e = edges(spark, dir)
      val deg = e.select(col("pa").as("node"))
        .unionAll(e.select(col("pb").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      // orient: src = endpoint with smaller (deg, id); ties impossible
      // on id, so orientation is total and deterministic
      val withDeg = e
        .join(deg.select(col("node").as("pa"), col("deg").as("da")), Seq("pa"))
        .join(deg.select(col("node").as("pb"), col("deg").as("db")), Seq("pb"))
      val oriented = withDeg.select(
        when(col("da") < col("db") || (col("da") === col("db") && col("pa") < col("pb")),
          col("pa")).otherwise(col("pb")).as("src"),
        when(col("da") < col("db") || (col("da") === col("db") && col("pa") < col("pb")),
          col("pb")).otherwise(col("pa")).as("dst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // wedges around the low-degree pivot; close with the (min,max)
      // form of the third edge (e is stored pa<pb)
      val wedges = oriented.select(col("src"), col("dst").as("u"))
        .join(oriented.select(col("src"), col("dst").as("v")), Seq("src"))
        .filter(col("u") < col("v"))
      val tris = wedges
        .join(e.select(col("pa").as("u"), col("pb").as("v")), Seq("u", "v"))
        .select(col("src").as("a"), col("u").as("b"), col("v").as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // per-node participation -> histogram; plus the global count as
      // the degenerate histogram row (n_tri_per_node = -1 marker would
      // be ugly; report per-node support histogram and total separately
      // via a union with a labeled row)
      val perNode = tris.select(col("a").as("node"))
        .unionAll(tris.select(col("b").as("node")))
        .unionAll(tris.select(col("c").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      perNode.groupBy(col("n_tri")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("n_tri"))
    },
    Some(s"""
      WITH $edgesCte,
      deg AS (
        SELECT node, count(*) AS deg FROM (
          SELECT pa AS node FROM e UNION ALL SELECT pb FROM e)
        GROUP BY node),
      o AS (
        SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.pa < e.pb)
                    THEN e.pa ELSE e.pb END AS src,
               CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.pa < e.pb)
                    THEN e.pb ELSE e.pa END AS dst
        FROM e JOIN deg da ON e.pa = da.node JOIN deg db ON e.pb = db.node),
      tri AS (
        SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
        FROM o w1 JOIN o w2 ON w1.src = w2.src AND w1.dst < w2.dst
        JOIN e ON e.pa = w1.dst AND e.pb = w2.dst),
      pn AS (
        SELECT node, count(*) AS n_tri FROM (
          SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
        GROUP BY node)
      SELECT n_tri, count(*) AS n_nodes FROM pn
      GROUP BY n_tri ORDER BY n_tri
    """.trim))

  /** PageRank, fixed 3 iterations, damping 0.85, integer nano
    * arithmetic so the fixpoint replays exactly in the oracle:
    * pr' = floor(0.15e9) + 0.85 * Σ floor(pr/deg) computed as
    * (850 * Σ contrib) / 1000 in BIGINT. Dangling mass is not an
    * issue on a symmetrized graph (every node has deg >= 1).
    *
    * Scale: each iteration is one edge-join + one aggregate shuffling
    * on node id — the Pregel step. The iteration count is FIXED (rank
    * queries want a budget, not a fixpoint), so the plan is 3 unrolled
    * joins, no driver sync at all — unlike connected components there
    * is no convergence probe to await. Top-50 hubs by rank. */
  val qGraphPagerank: Q = Q(
    "q_graph_pagerank",
    (spark, dir) => {
      val e = edges(spark, dir)
      val sym = e.select(col("pa").as("src"), col("pb").as("dst"))
        .unionAll(e.select(col("pb").as("src"), col("pa").as("dst")))
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val adj = sym.join(deg, Seq("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var pr: DataFrame = deg.select(col("src").as("node"),
        lit(1000000000L).as("pr"))
      for (_ <- 1 to 3) {
        pr = adj.join(pr.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"), (col("pr") / col("deg")).cast("long").as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("s"))
          .select(col("node"),
            (lit(150000000L) + (lit(850L) * col("s")) / lit(1000L))
              .cast("long").as("pr"))
      }
      pr.orderBy(col("pr").desc, col("node")).limit(50)
        .select(col("node"), col("pr").as("pr_nanos"))
    },
    Some(s"""
      WITH $edgesCte,
      sym AS (SELECT pa AS src, pb AS dst FROM e
              UNION ALL SELECT pb, pa FROM e),
      deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
      adj AS (SELECT sym.src, sym.dst, deg.deg FROM sym JOIN deg USING (src)),
      p0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS pr FROM deg),
      p1 AS (SELECT adj.dst AS node,
                    CAST(150000000 + (850 * sum(CAST(p0.pr // adj.deg AS BIGINT)))
                         // 1000 AS BIGINT) AS pr
             FROM adj JOIN p0 ON p0.node = adj.src GROUP BY adj.dst),
      p2 AS (SELECT adj.dst AS node,
                    CAST(150000000 + (850 * sum(CAST(p1.pr // adj.deg AS BIGINT)))
                         // 1000 AS BIGINT) AS pr
             FROM adj JOIN p1 ON p1.node = adj.src GROUP BY adj.dst),
      p3 AS (SELECT adj.dst AS node,
                    CAST(150000000 + (850 * sum(CAST(p2.pr // adj.deg AS BIGINT)))
                         // 1000 AS BIGINT) AS pr
             FROM adj JOIN p2 ON p2.node = adj.src GROUP BY adj.dst)
      SELECT node, pr AS pr_nanos FROM p3
      ORDER BY pr DESC, node LIMIT 50
    """.trim))

  /** Connected components of the co-occurrence graph — reuses the
    * engine's min-label-propagation operator (the one built for dedup
    * clustering) on a completely different graph, reporting the
    * component-size histogram. Proves the CC operator is a generic
    * graph primitive, not a dedup special case. */
  val qGraphComponents: Q = Q(
    "q_graph_components",
    (spark, dir) => {
      val labels = graft.operators.Clusters.connectedComponents(
        edges(spark, dir), "pa", "pb")
      labels.groupBy(col("cluster")).agg(count(lit(1)).as("csize"))
        .groupBy(col("csize")).agg(count(lit(1)).as("n_components"))
        .orderBy(col("csize"))
    },
    Some(s"""
      WITH RECURSIVE $edgesCte,
      sym AS (SELECT pa AS src, pb AS dst FROM e
              UNION SELECT pb, pa FROM e),
      walk(node, lbl) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.src, w.lbl FROM sym s JOIN walk w ON w.node = s.dst),
      comp AS (SELECT node, min(lbl) AS lbl FROM walk GROUP BY node),
      sizes AS (SELECT lbl, count(*) AS csize FROM comp GROUP BY lbl)
      SELECT csize, count(*) AS n_components FROM sizes
      GROUP BY csize ORDER BY csize
    """.trim))

  /** Neighbor-set Jaccard similarity (structural node similarity): for
    * node pairs sharing at least 2 common neighbors,
    * |N(a)∩N(b)| / |N(a)∪N(b)| in exact integer micro-units. The
    * intersection comes from wedge counting (self-join on the shared
    * neighbor — fan-out bounded by Σdeg² of the support-thresholded
    * core, the standard blocking for this operator), the union from
    * the two degrees by inclusion-exclusion — no set materialization
    * per pair. Top-50. */
  val qGraphJaccard: Q = Q(
    "q_graph_jaccard",
    (spark, dir) => {
      val e = edges(spark, dir)
      val sym = e.select(col("pa").as("node"), col("pb").as("nbr"))
        .unionAll(e.select(col("pb").as("node"), col("pa").as("nbr")))
      val deg = sym.groupBy(col("node")).agg(count(lit(1)).as("d"))
      val common = sym.as("a")
        .join(sym.as("b"),
          col("a.nbr") === col("b.nbr") && col("a.node") < col("b.node"))
        .groupBy(col("a.node").as("na"), col("b.node").as("nb"))
        .agg(count(lit(1)).as("common_nbrs"))
        .filter(col("common_nbrs") >= 2)
      common
        .join(deg.select(col("node").as("na"), col("d").as("da")), Seq("na"))
        .join(deg.select(col("node").as("nb"), col("d").as("db")), Seq("nb"))
        .select(col("na"), col("nb"), col("common_nbrs"),
          expr("common_nbrs * 1000000L DIV (da + db - common_nbrs)")
            .as("jac_micros"))
        .orderBy(col("jac_micros").desc, col("na"), col("nb"))
        .limit(50)
    },
    Some(s"""
      WITH $edgesCte,
      sym AS (SELECT pa AS node, pb AS nbr FROM e
              UNION ALL SELECT pb, pa FROM e),
      deg AS (SELECT node, count(*) AS d FROM sym GROUP BY node),
      com AS (
        SELECT a.node AS na, b.node AS nb, count(*) AS common_nbrs
        FROM sym a JOIN sym b ON a.nbr = b.nbr AND a.node < b.node
        GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT na, nb, common_nbrs,
             common_nbrs * 1000000 // (da.d + db.d - common_nbrs) AS jac_micros
      FROM com
      JOIN deg da ON com.na = da.node
      JOIN deg db ON com.nb = db.node
      ORDER BY jac_micros DESC, na, nb LIMIT 50
    """.trim))

  /** Iterative k-core peeling (k=3, three rounds): repeatedly delete
    * nodes of degree < k and re-measure — the standard dense-subgraph
    * extractor. Three FIXED rounds (not run-to-fixpoint: a bounded,
    * plannable DAG — the at-scale posture for iterative graph jobs is
    * a fixed round budget with a convergence probe, as the connected-
    * components query does); reports the shrinking (n_nodes, n_edges)
    * trajectory per round. Each round is one aggregate + one semi-join
    * pair on the current edge set. */
  val qGraphKcore: Q = Q(
    "q_graph_kcore",
    (spark, dir) => {
      val k = 3
      // One LAZY DAG for all three rounds — no driver action per round.
      // Each round's edge set is persisted so its consumers (next
      // round's degree filter + the stats row) share one
      // materialization inside the single job.
      var cur = edges(spark, dir)
      val stats = (1 to 3).map { round =>
        val sym = cur.select(col("pa").as("node"))
          .unionAll(cur.select(col("pb").as("node")))
        val keep = sym.groupBy(col("node")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select(col("node"))
        val nxt = cur
          .join(keep.withColumnRenamed("node", "pa"), Seq("pa"), "left_semi")
          .join(keep.withColumnRenamed("node", "pb"), Seq("pb"), "left_semi")
          .select(col("pa"), col("pb")).persist()
        cur = nxt
        nxt.select(col("pa").as("node"))
          .unionAll(nxt.select(col("pb").as("node")))
          .agg((count(lit(1)) / 2).cast("long").as("n_edges"),
            countDistinct(col("node")).as("n_nodes"))
          .select(lit(round.toLong).as("round"), col("n_nodes"), col("n_edges"))
      }
      stats.reduce(_ unionAll _).orderBy(col("round"))
    },
    Some(s"""
      WITH $edgesCte,
      d1 AS (SELECT node FROM (
               SELECT pa AS node FROM e UNION ALL SELECT pb FROM e)
             GROUP BY node HAVING count(*) >= 3),
      e1 AS (SELECT pa, pb FROM e
             WHERE pa IN (SELECT node FROM d1) AND pb IN (SELECT node FROM d1)),
      d2 AS (SELECT node FROM (
               SELECT pa AS node FROM e1 UNION ALL SELECT pb FROM e1)
             GROUP BY node HAVING count(*) >= 3),
      e2 AS (SELECT pa, pb FROM e1
             WHERE pa IN (SELECT node FROM d2) AND pb IN (SELECT node FROM d2)),
      d3 AS (SELECT node FROM (
               SELECT pa AS node FROM e2 UNION ALL SELECT pb FROM e2)
             GROUP BY node HAVING count(*) >= 3),
      e3 AS (SELECT pa, pb FROM e2
             WHERE pa IN (SELECT node FROM d3) AND pb IN (SELECT node FROM d3))
      SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS round,
               (SELECT count(DISTINCT node) FROM (
                  SELECT pa AS node FROM e1 UNION ALL SELECT pb FROM e1))
                 AS n_nodes,
               (SELECT count(*) FROM e1) AS n_edges
        UNION ALL
        SELECT 2,
               (SELECT count(DISTINCT node) FROM (
                  SELECT pa AS node FROM e2 UNION ALL SELECT pb FROM e2)),
               (SELECT count(*) FROM e2)
        UNION ALL
        SELECT 3,
               (SELECT count(DISTINCT node) FROM (
                  SELECT pa AS node FROM e3 UNION ALL SELECT pb FROM e3)),
               (SELECT count(*) FROM e3))
      ORDER BY round
    """.trim))

  /** Global clustering coefficient: 3 × triangles / wedges — how much
    * of the graph's open-triple structure closes. Triangle counting
    * reuses the degree-ordered orientation (bounded wedge join);
    * wedges are Σ d(d-1)/2, one aggregate over the degree table. The
    * ratio is exact integer micro-units, so the oracle replays it
    * bit-for-bit. */
  val qGraphClustering: Q = Q(
    "q_graph_clustering",
    (spark, dir) => {
      val e = edges(spark, dir)
      val deg = e.select(col("pa").as("node"))
        .unionAll(e.select(col("pb").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val wedges = deg.agg(
        sum(expr("deg * (deg - 1) DIV 2")).cast("long").as("n_wedges"))
      val withDeg = e
        .join(deg.select(col("node").as("pa"), col("deg").as("da")), Seq("pa"))
        .join(deg.select(col("node").as("pb"), col("deg").as("db")), Seq("pb"))
      val oriented = withDeg.select(
        when(col("da") < col("db") || (col("da") === col("db") && col("pa") < col("pb")),
          col("pa")).otherwise(col("pb")).as("src"),
        when(col("da") < col("db") || (col("da") === col("db") && col("pa") < col("pb")),
          col("pb")).otherwise(col("pa")).as("dst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tris = oriented.select(col("src"), col("dst").as("u"))
        .join(oriented.select(col("src"), col("dst").as("v")), Seq("src"))
        .filter(col("u") < col("v"))
        .join(e.select(col("pa").as("u"), col("pb").as("v")), Seq("u", "v"))
        .agg(count(lit(1)).as("n_triangles"))
      tris.crossJoin(broadcast(wedges))
        .select(col("n_triangles"), col("n_wedges"),
          expr("3 * n_triangles * 1000000L DIV n_wedges").as("global_cc_micros"))
    },
    Some(s"""
      WITH $edgesCte,
      deg AS (
        SELECT node, count(*) AS deg FROM (
          SELECT pa AS node FROM e UNION ALL SELECT pb FROM e)
        GROUP BY node),
      wed AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
      o AS (
        SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.pa < e.pb)
                    THEN e.pa ELSE e.pb END AS src,
               CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.pa < e.pb)
                    THEN e.pb ELSE e.pa END AS dst
        FROM e JOIN deg da ON e.pa = da.node JOIN deg db ON e.pb = db.node),
      tri AS (
        SELECT count(*) AS n_triangles
        FROM o w1 JOIN o w2 ON w1.src = w2.src AND w1.dst < w2.dst
        JOIN e ON e.pa = w1.dst AND e.pb = w2.dst)
      SELECT n_triangles, n_wedges,
             3 * n_triangles * 1000000 // n_wedges AS global_cc_micros
      FROM tri, wed
    """.trim))

  /** Degree assortativity: the Pearson correlation of end-point
    * degrees over directed edge instances — do hubs attach to hubs
    * (r > 0, social-graph-like) or to leaves (r < 0, dependency-/
    * infrastructure-like)? All five correlation sums are EXACT
    * (128-bit decimal accumulation — degree products overflow BIGINT
    * at the 100 TB posture); the one division runs on doubles derived
    * from those exact sums, so both engines execute the identical
    * IEEE expression. */
  val qGraphAssortativity: Q = Q(
    "q_graph_assortativity",
    (spark, dir) => {
      val e = edges(spark, dir)
      val sym = e.select(col("pa").as("src"), col("pb").as("dst"))
        .unionAll(e.select(col("pb").as("src"), col("pa").as("dst")))
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val pairs = sym
        .join(deg.select(col("src"), col("deg").as("da")), Seq("src"))
        .join(deg.select(col("src").as("dst"), col("deg").as("db")), Seq("dst"))
      pairs.agg(
          count(lit(1)).as("m2"),
          sum(col("da").cast("decimal(19,0)")).as("sx"),
          sum(col("da").cast("decimal(19,0)") * col("da")).as("sxx"),
          sum(col("da").cast("decimal(19,0)") * col("db")).as("sxy"))
        .select(expr("m2 DIV 2").as("n_edges"),
          round(
            (col("m2").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sx").cast("double")) /
            (col("m2").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double")), 6)
            .as("assortativity"))
    },
    Some(s"""
      WITH $edgesCte,
      sym AS (SELECT pa AS src, pb AS dst FROM e
              UNION ALL SELECT pb, pa FROM e),
      deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
      p AS (
        SELECT da.deg AS da, db.deg AS db
        FROM sym JOIN deg da ON sym.src = da.src
        JOIN deg db ON sym.dst = db.src),
      s AS (
        SELECT count(*) AS m2,
               sum(CAST(da AS HUGEINT)) AS sx,
               sum(CAST(da AS HUGEINT) * da) AS sxx,
               sum(CAST(da AS HUGEINT) * db) AS sxy
        FROM p)
      SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
             round((CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
                   (CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
               AS assortativity
      FROM s
    """.trim))

  /** 4-hop BFS from the hub (max-degree node, ties to the smaller
    * id) — the traversal primitive the family lacked: per-distance
    * reachability layers with an id checksum, plus the beyond-4-hops
    * remainder as a `dist = -1` row. Spark runs the textbook
    * distributed BFS (fixed 4 frontier-join + min-fold rounds over
    * the symmetric edge artifact — the iteration count is bounded by
    * construction, like PageRank's); the oracle replays it with a
    * depth-capped RECURSIVE CTE under UNION (distinct) semantics, so
    * two entirely different traversal mechanics must agree node for
    * node. All integers. */
  val qGraphBfs: Q = Q(
    "q_graph_bfs",
    (spark, dir) => {
      val e = edges(spark, dir)
      val sym = e.select(col("pa").as("src"), col("pb").as("dst"))
        .unionAll(e.select(col("pb").as("src"), col("pa").as("dst")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val deg = sym.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("degree"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var dist = deg.orderBy(col("degree").desc, col("node")).limit(1)
        .select(col("node"), lit(0L).as("dist"))
      for (_ <- 1 to 4) {
        val next = dist.join(sym, dist("node") === sym("src"))
          .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
        dist = dist.unionAll(next)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      val layers = dist.groupBy(col("dist"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("node_checksum"))
      val beyond = deg.join(dist, Seq("node"), "left_anti")
        .agg(count(lit(1)).as("n_nodes"),
          coalesce(sum(col("node")), lit(0)).cast("long").as("node_checksum"))
        .select(lit(-1L).as("dist"), col("n_nodes"), col("node_checksum"))
      layers.unionByName(beyond).orderBy(col("dist"))
    },
    Some(s"""
      WITH RECURSIVE $edgesCte,
      sym AS (
        SELECT pa AS src, pb AS dst FROM e
        UNION ALL SELECT pb, pa FROM e),
      deg AS (
        SELECT src AS node, count(*) AS degree FROM sym GROUP BY src),
      r AS (
        SELECT (SELECT node FROM deg ORDER BY degree DESC, node LIMIT 1)
                 AS node, 0 AS d
        UNION
        SELECT s.dst, r.d + 1
        FROM r JOIN sym s ON s.src = r.node
        WHERE r.d < 4),
      bd AS (SELECT node, CAST(min(d) AS BIGINT) AS dist FROM r GROUP BY node)
      SELECT dist, count(*) AS n_nodes,
             CAST(sum(node) AS BIGINT) AS node_checksum
      FROM bd GROUP BY dist
      UNION ALL
      SELECT -1 AS dist, count(*) AS n_nodes,
             CAST(coalesce(sum(node), 0) AS BIGINT) AS node_checksum
      FROM deg WHERE node NOT IN (SELECT node FROM bd)
      ORDER BY dist
    """.trim))

  /** Modularity of the brand partition over the co-occurrence graph —
    * does co-purchase structure align with the catalog's brand
    * grouping? Q = Σ_c (e_c/m − (d_c/2m)²): per brand, the intra-brand
    * edge share against the share expected if edges were wired at
    * random respecting degrees. Positive contributions mark brands
    * whose parts genuinely co-occur; Q near 0 says the brand taxonomy
    * carries no graph signal. Two broadcast label joins on the edge
    * ARTIFACT (never the fact table), two aggregates over the labeled
    * edges; e_c, d_c, m are exact integers and each brand's
    * contribution is an integer `div` plus one floored double term on
    * identical trees, so the 25-row report and the `_ALL_` total (the
    * modularity itself) are engine-exact. */
  val qGraphModularity: Q = Q(
    "q_graph_modularity",
    (spark, dir) => {
      val brand = Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))
      val lab = edges(spark, dir)
        .join(broadcast(brand.select(col("p_partkey").as("pa"),
          col("p_brand").as("ba"))), Seq("pa"))
        .join(broadcast(brand.select(col("p_partkey").as("pb"),
          col("p_brand").as("bb"))), Seq("pb"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val m = lab.agg(count(lit(1)).as("m"))
      val intra = lab.filter(col("ba") === col("bb"))
        .groupBy(col("ba").as("brand")).agg(count(lit(1)).as("e_c"))
      val degSum = lab.select(col("ba").as("brand"))
        .unionAll(lab.select(col("bb").as("brand")))
        .groupBy(col("brand")).agg(count(lit(1)).as("d_c"))
      val per = degSum.join(intra, Seq("brand"), "left")
        .select(col("brand"), coalesce(col("e_c"), lit(0L)).as("e_c"),
          col("d_c"))
        .crossJoin(broadcast(m))
        .select(col("brand"), col("e_c"), col("d_c"),
          (expr("e_c * 1000000000 div m")
            - floor(col("d_c").cast("double") * col("d_c")
              / (lit(4.0) * col("m").cast("double") * col("m")) * lit(1e9))
              .cast("long")).as("contrib_nanos"))
      per.unionAll(per
          .agg(sum(col("e_c")).as("e_c"), sum(col("d_c")).as("d_c"),
            sum(col("contrib_nanos")).as("q_nanos"))
          .select(lit("_ALL_").as("brand"), col("e_c"), col("d_c"),
            col("q_nanos").as("contrib_nanos")))
        .orderBy(col("brand"))
    },
    Some(s"""
      WITH $edgesCte,
      brand AS (SELECT p_partkey, p_brand FROM part),
      lab AS (
        SELECT e.pa, e.pb, ba.p_brand AS ba, bb.p_brand AS bb
        FROM e
        JOIN brand ba ON ba.p_partkey = e.pa
        JOIN brand bb ON bb.p_partkey = e.pb),
      m AS (SELECT count(*) AS m FROM lab),
      intra AS (
        SELECT ba AS brand, count(*) AS e_c
        FROM lab WHERE ba = bb GROUP BY ba),
      degsum AS (
        SELECT brand, count(*) AS d_c FROM (
          SELECT ba AS brand FROM lab UNION ALL SELECT bb FROM lab)
        GROUP BY brand),
      per AS (
        SELECT d.brand, CAST(coalesce(i.e_c, 0) AS BIGINT) AS e_c,
               CAST(d.d_c AS BIGINT) AS d_c,
               e_c * 1000000000 // m.m
                 - CAST(floor(CAST(d.d_c AS DOUBLE) * d.d_c
                   / (4.0 * CAST(m.m AS DOUBLE) * m.m) * 1e9) AS BIGINT)
                 AS contrib_nanos
        FROM degsum d LEFT JOIN intra i USING (brand), m)
      SELECT brand, e_c, d_c, contrib_nanos FROM per
      UNION ALL
      SELECT '_ALL_', CAST(sum(e_c) AS BIGINT), CAST(sum(d_c) AS BIGINT),
             CAST(sum(contrib_nanos) AS BIGINT)
      FROM per
      ORDER BY brand
    """.trim))

  /** Louvain-style community DETECTION (one level, synchronous local
    * moves — the distributed Louvain variant: every node re-evaluates
    * its community simultaneously per round, which is what a
    * data-parallel engine can do deterministically; classic Louvain's
    * sequential sweep has no parallel analog). `q_graph_modularity`
    * SCORES a given partition; this one finds it. Three fixed rounds:
    * each node v considers its neighbors' communities plus its own
    * and takes the argmax of the modularity gain, compared in EXACT
    * integers — ΔQ(v→c) ∝ k_{v,c}/m − d_v·Σtot_c/(2m²), scaled by 2m²
    * to `2m·k_{v,c} − d_v·Σtot'_c` (Σtot'_c excludes v itself when
    * c is v's current community, the standard leave-before-evaluate
    * rule); ties break to the lower community id. Unconstrained
    * synchronous moves OSCILLATE (two connected singletons adopt each
    * other's community forever — the known failure of parallel local
    * moves), so rounds alternate move eligibility by node-id parity
    * (round i lets only `node % 2 = i % 2` move — the 2-coloring
    * symmetry break of the distributed-Louvain literature; a swap
    * needs both endpoints moving at once, which parity forbids).
    * Output is the
    * (metric, value) signature: community count, largest community,
    * singleton count, intra-community edges, the partition's
    * modularity in nanos (same arithmetic as `q_graph_modularity`),
    * and per-round move counts (monotone convergence evidence).
    *
    * Scale shape per round: one Σdegree aggregate keyed by community,
    * one neighbor-community count keyed by (node, community) — both
    * linear in edges; the argmax is a `min(struct)` aggregate per
    * node, never a window; community totals join on the community
    * key (shuffle, not broadcast — community count is unbounded).
    * Round frames are localCheckpoint'ed (iterative-plan rule). */
  val qGraphLouvain: Q = {
    val rounds = 3
    Q(
      "q_graph_louvain",
      (spark, dir) => {
        val e = edges(spark, dir)
        val sym = e.select(col("pa").as("src"), col("pb").as("dst"))
          .unionAll(e.select(col("pb").as("src"), col("pa").as("dst")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val deg = sym.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("d"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val mEdges = e.count()
        var comm = deg.select(col("node"), col("node").as("comm"))
          .localCheckpoint(true)
        // round 13: per-round move counts used to be eager .count()
        // jobs (one driver barrier per round); the round frames are
        // checkpointed anyway, so the counts are now lazy frames over
        // the cached rounds, folded into the single output action.
        val movedFrames = Seq.newBuilder[org.apache.spark.sql.DataFrame]
        for (i <- 1 to rounds) {
          val cur = comm.select(col("node"), col("comm").as("ccur"))
          val tot = comm.join(deg, Seq("node"))
            .groupBy(col("comm").as("c")).agg(sum(col("d")).as("tot"))
          val kvc = sym
            .join(comm.select(col("node").as("dst"), col("comm").as("c")),
              Seq("dst"))
            .groupBy(col("src").as("node"), col("c"))
            .agg(count(lit(1)).as("kv"))
          // candidate set = neighbor communities ∪ {current}; when the
          // current community is also a neighbor community it appears
          // twice — max(kv) keeps the real neighbor count over the 0
          val cand = kvc
            .unionByName(cur.select(col("node"), col("ccur").as("c"),
              lit(0L).as("kv")))
            .groupBy(col("node"), col("c")).agg(max(col("kv")).as("kv"))
          val next = cand
            .join(deg, Seq("node")).join(cur, Seq("node"))
            .join(tot, Seq("c"))
            .select(col("node"),
              struct(
                (lit(-2L) * mEdges * col("kv") + col("d") *
                  (col("tot") - when(col("c") === col("ccur"), col("d"))
                    .otherwise(lit(0L)))).as("negscore"),
                col("c")).as("sc"))
            .groupBy(col("node")).agg(min(col("sc")).as("best"))
            .join(cur, Seq("node"))
            .select(col("node"),
              when(pmod(col("node"), lit(2L)) === (i % 2),
                col("best").getField("c")).otherwise(col("ccur"))
                .as("comm"))
            .localCheckpoint(true)
          movedFrames += next.join(cur, Seq("node"))
            .filter(col("comm") =!= col("ccur"))
            .agg(count(lit(1)).as("value"))
            .select(lit(s"moved_r$i").as("metric"), col("value"))
          comm = next
        }
        val lab = e
          .join(comm.select(col("node").as("pa"), col("comm").as("ca")),
            Seq("pa"))
          .join(comm.select(col("node").as("pb"), col("comm").as("cb")),
            Seq("pb"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val eC = lab.filter(col("ca") === col("cb"))
          .groupBy(col("ca").as("c")).agg(count(lit(1)).as("e_c"))
        val dC = comm.join(deg, Seq("node"))
          .groupBy(col("comm").as("c")).agg(sum(col("d")).as("d_c"))
        val qNanos = dC.join(eC, Seq("c"), "left")
          .select((expr(s"coalesce(e_c, 0) * 1000000000 div $mEdges")
            - floor(col("d_c").cast("double") * col("d_c")
              / (lit(4.0) * mEdges.toDouble * mEdges.toDouble) * lit(1e9))
              .cast("long")).as("contrib"))
          .agg(sum(col("contrib")).as("v"))
          .select(lit("q_nanos").as("metric"), col("v").as("value"))
        val sizes = comm.groupBy(col("comm"))
          .agg(count(lit(1)).as("sz"))
        val shape = sizes.agg(
            count(lit(1)).as("n_communities"),
            max(col("sz")).as("max_size"),
            sum(when(col("sz") === 1, 1L).otherwise(0L)).as("singletons"))
          .selectExpr("stack(3, 'n_communities', n_communities, " +
            "'max_size', max_size, 'singletons', singletons) " +
            "as (metric, value)")
        val intra = lab.filter(col("ca") === col("cb"))
          .agg(count(lit(1)).as("v"))
          .select(lit("intra_edges").as("metric"), col("v").as("value"))
        shape.unionByName(intra).unionByName(qNanos)
          .unionByName(movedFrames.result().reduce(_ unionByName _))
          .orderBy(col("metric"))
      },
      Some {
        val roundCtes = (1 to rounds).map { i =>
          s"""
      tot$i AS MATERIALIZED (
        SELECT c.comm AS c, CAST(sum(d.d) AS BIGINT) AS tot
        FROM c${i - 1} c JOIN deg d USING (node) GROUP BY c.comm),
      kvc$i AS (
        SELECT s.src AS node, c.comm AS c, CAST(count(*) AS BIGINT) AS kv
        FROM sym s JOIN c${i - 1} c ON c.node = s.dst
        GROUP BY s.src, c.comm),
      cand$i AS (
        SELECT node, c, max(kv) AS kv FROM (
          SELECT node, c, kv FROM kvc$i
          UNION ALL
          SELECT node, comm AS c, CAST(0 AS BIGINT) AS kv FROM c${i - 1})
        GROUP BY node, c),
      sc$i AS (
        SELECT a.node, a.c,
               2 * mm.m * a.kv - d.d *
                 (t.tot - CASE WHEN a.c = cu.comm THEN d.d ELSE 0 END)
                 AS score
        FROM cand$i a
        JOIN deg d USING (node)
        JOIN c${i - 1} cu ON cu.node = a.node
        JOIN tot$i t ON t.c = a.c, mm),
      c$i AS MATERIALIZED (
        SELECT b.node,
               CASE WHEN b.node % 2 = ${i % 2} THEN b.c ELSE p.comm END
                 AS comm
        FROM (
          SELECT node, c FROM (
            SELECT node, c, row_number() OVER (PARTITION BY node
              ORDER BY score DESC, c) AS rn
            FROM sc$i)
          WHERE rn = 1) b
        JOIN c${i - 1} p USING (node)),
      mv$i AS (
        SELECT CAST(count(*) AS BIGINT) AS v
        FROM c$i a JOIN c${i - 1} b USING (node)
        WHERE a.comm <> b.comm)"""
        }.mkString(",")
        s"""
      WITH $edgesCte,
      sym AS MATERIALIZED (
        SELECT pa AS src, pb AS dst FROM e
        UNION ALL SELECT pb, pa FROM e),
      deg AS MATERIALIZED (
        SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        FROM sym GROUP BY src),
      mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
      c0 AS MATERIALIZED (SELECT node, node AS comm FROM deg),$roundCtes,
      lab AS MATERIALIZED (
        SELECT e.pa, e.pb, ca.comm AS ca, cb.comm AS cb
        FROM e
        JOIN c$rounds ca ON ca.node = e.pa
        JOIN c$rounds cb ON cb.node = e.pb),
      ec AS (
        SELECT ca AS c, CAST(count(*) AS BIGINT) AS e_c
        FROM lab WHERE ca = cb GROUP BY ca),
      dc AS (
        SELECT c.comm AS c, CAST(sum(d.d) AS BIGINT) AS d_c
        FROM c$rounds c JOIN deg d USING (node) GROUP BY c.comm),
      qn AS (
        SELECT CAST(sum(
          coalesce(ec.e_c, 0) * 1000000000 // mm.m
          - CAST(floor(CAST(dc.d_c AS DOUBLE) * dc.d_c
              / (4.0 * CAST(mm.m AS DOUBLE) * mm.m) * 1e9) AS BIGINT))
          AS BIGINT) AS v
        FROM dc LEFT JOIN ec USING (c), mm),
      sizes AS (
        SELECT comm, CAST(count(*) AS BIGINT) AS sz
        FROM c$rounds GROUP BY comm)
      SELECT 'intra_edges' AS metric,
             CAST(count(*) AS BIGINT) AS value FROM lab WHERE ca = cb
      UNION ALL SELECT 'max_size', max(sz) FROM sizes
      UNION ALL SELECT 'n_communities', CAST(count(*) AS BIGINT) FROM sizes
      UNION ALL SELECT 'singletons',
        CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) FROM sizes
      UNION ALL SELECT 'q_nanos', v FROM qn
      ${(1 to rounds).map(i =>
          s"UNION ALL SELECT 'moved_r$i', v FROM mv$i").mkString("\n      ")}
      ORDER BY metric
    """.trim
      })
  }

  /** Bounded-hop Brandes betweenness from the K=8 highest-degree
    * hubs — the centrality the family lacked: degree says how
    * CONNECTED a part is, PageRank how ENDORSED, betweenness how much
    * it BROKERS (lies on shortest paths between others). The exact
    * algorithm is Brandes 2001; this is the standard sampled +
    * hop-bounded estimator (K sources, H=4 hops) every distributed
    * implementation ships, with the two Brandes passes run as
    * fixed-round frame algebra: FORWARD, per source, 4 frontier
    * rounds accumulate shortest-path counts σ (new layer = frontier ⋈
    * edges, σ summed over predecessors, anti-joined against earlier
    * layers); BACKWARD, 3 rounds accumulate the dependency δ(v) =
    * Σ_w σ_v·(1 + δ(w))/σ_w down the BFS DAG in exact integer ppm
    * (floor per edge term, identical order both engines). Per round
    * the work is K × |edge artifact| — linear, never all-pairs; the
    * oracle unrolls the identical rounds. Output: top 20 brokers by
    * accumulated dependency. */
  val qGraphBetweenness: Q = {
    val K = 8; val H = 4
    Q(
      "q_graph_betweenness",
      (spark, dir) => {
        val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val e = edges(spark, dir)
        val sym = e.select(col("pa").as("src"), col("pb").as("dst"))
          .unionAll(e.select(col("pb").as("src"), col("pa").as("dst")))
          .persist(lvl)
        val seeds = sym.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("degree"))
          .orderBy(col("degree").desc, col("node")).limit(K)
          .select(col("node").as("s"))
        // forward: per-source BFS layers carrying path counts σ
        val l0 = seeds.select(col("s"),
          col("s").as("node"), lit(0).as("dist"), lit(1L).as("sigma"))
          .localCheckpoint(true)
        var layers = Vector(l0)
        var frontier = l0
        for (h <- 1 to H) {
          val seen = layers.map(_.select(col("s"), col("node")))
            .reduce(_ unionAll _)
          val next =
            frontier.join(sym, frontier("node") === sym("src"))
              .select(col("s"), col("dst").as("n2"), col("sigma"))
              .groupBy(col("s"), col("n2"))
              .agg(sum(col("sigma")).as("sigma"))
              .join(seen.select(col("s"), col("node").as("n2")),
                Seq("s", "n2"), "left_anti")
              .select(col("s"), col("n2").as("node"), lit(h).as("dist"),
                col("sigma"))
              .localCheckpoint(true)
          layers = layers :+ next
          frontier = next
        }
        // backward: dependency δ in exact ppm down the BFS DAG
        var deltaNext = layers(H).select(col("s"), col("node"),
          lit(0L).as("delta_ppm"))
        val contribs = Vector.newBuilder[org.apache.spark.sql.DataFrame]
        for (h <- (H - 1) to 1 by -1) {
          val lv = layers(h).select(col("s"), col("node").as("v"),
            col("sigma").as("sv"))
          val lw = layers(h + 1).select(col("s"), col("node").as("wn"),
            col("sigma").as("sw"))
            .join(deltaNext.select(col("s"), col("node").as("wn"),
              col("delta_ppm").as("dw")), Seq("s", "wn"))
          val agg = lv.join(sym, lv("v") === sym("src"))
            .select(col("s"), col("v"), col("sv"), col("dst").as("wn"))
            .join(lw, Seq("s", "wn"))
            .select(col("s"), col("v"),
              expr("sv * (1000000 + dw) div sw").as("c"))
            .groupBy(col("s"), col("v")).agg(sum(col("c")).as("d"))
          val d =
            lv.select(col("s"), col("v"))
              .join(agg, Seq("s", "v"), "left")
              .select(col("s"), col("v").as("node"),
                coalesce(col("d"), lit(0L)).as("delta_ppm"))
              .localCheckpoint(true)
          contribs += d
          deltaNext = d
        }
        contribs.result().reduce(_ unionAll _)
          .groupBy(col("node")).agg(sum(col("delta_ppm")).as("bc_ppm"))
          .orderBy(col("bc_ppm").desc, col("node")).limit(20)
      },
      Some {
        def fwd(h: Int): String = s"""
      l$h AS MATERIALIZED (
        SELECT s, node, $h AS dist, sigma FROM (
          SELECT f.s, y.dst AS node, CAST(sum(f.sigma) AS BIGINT) AS sigma
          FROM l${h - 1} f JOIN sym y ON y.src = f.node
          GROUP BY f.s, y.dst) q
        WHERE NOT EXISTS (SELECT 1 FROM lall${h - 1} p
                          WHERE p.s = q.s AND p.node = q.node)),
      lall$h AS MATERIALIZED (
        SELECT s, node FROM lall${h - 1}
        UNION ALL SELECT s, node FROM l$h)"""
        def bwd(h: Int): String = s"""
      d$h AS MATERIALIZED (
        SELECT v.s, v.node,
               CAST(coalesce(sum(v.sigma * (1000000 + dn.delta_ppm)
                 // lw.sigma), 0) AS BIGINT) AS delta_ppm
        FROM l$h v
        LEFT JOIN sym y ON y.src = v.node
        LEFT JOIN l${h + 1} lw ON lw.s = v.s AND lw.node = y.dst
        LEFT JOIN d${h + 1} dn ON dn.s = v.s AND dn.node = y.dst
        GROUP BY v.s, v.node)"""
        s"""
      WITH $edgesCte,
      sym AS (SELECT pa AS src, pb AS dst FROM e
              UNION ALL SELECT pb, pa FROM e),
      deg AS (SELECT src AS node, count(*) AS degree FROM sym GROUP BY src),
      seeds AS (SELECT node AS s FROM deg
                ORDER BY degree DESC, node LIMIT $K),
      l0 AS (SELECT s, s AS node, 0 AS dist, CAST(1 AS BIGINT) AS sigma
             FROM seeds),
      lall0 AS (SELECT s, node FROM l0),
      ${(1 to H).map(fwd).mkString(",")},
      d$H AS (SELECT s, node, CAST(0 AS BIGINT) AS delta_ppm FROM l$H),
      ${((H - 1) to 1 by -1).map(bwd).mkString(",")}
      SELECT node, CAST(sum(delta_ppm) AS BIGINT) AS bc_ppm FROM (
        ${(1 to (H - 1)).map(h => s"SELECT node, delta_ppm FROM d$h")
          .mkString(" UNION ALL ")})
      GROUP BY node ORDER BY bc_ppm DESC, node LIMIT 20
    """.trim
      })
  }

  def all: Seq[Q] = Seq(qGraphEdgesBuild, qGraphDegree, qGraphTriangles,
    qGraphPagerank, qGraphComponents, qGraphJaccard, qGraphKcore,
    qGraphClustering, qGraphAssortativity, qGraphBfs, qGraphModularity,
    qGraphLouvain, qGraphBetweenness)
}
